"""Metadata-driven domain materialisation (E3, SURVEY.md §3).

Re-implements reference src/apply_to_domains.py: domain definitions live in
a metadata table ``{Status, Type, Domain, Dependancies, Target, Resolution}``
(sic spelling per reference CSVs); a definition is ACTIVE for a batch iff any
of its dependency tables was touched by events; active definitions register
their dependencies as temp views and run their ``Resolution`` SQL through
Catalyst (the reference's only spark.sql path, src/apply_to_domains.py:59-68).

Rebuild changes:
- the ACTIVE tagging is a set overlap over the parsed definitions
  (``active_definitions`` gives the same tagging as a column), not the
  reference's row-wise ``filter_statements`` (src/apply_to_domains.py:76-106);
- each dependency view is registered once per batch, and the active
  definitions run in parallel driver threads;
- lineage ``process_id`` stays (epoch millis, src/apply_to_domains.py:48-51)
  but is injectable for deterministic tests.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hmpps_digital_prison_reporting_glue_poc_spark.catalog import Catalog
from hmpps_digital_prison_reporting_glue_poc_spark.plans.parallel import (
    map_parallel,
)


@dataclass
class DomainDefinition:
    domain: str
    target: str
    dependencies: list[str]
    resolution: str
    status: str = "Active"
    type: str = "SQL"


def load_definitions(defs_df: DataFrame) -> list[DomainDefinition]:
    """Parse the metadata table (CSV with header in the reference,
    tests/data/dummy/database/domain_definitions/*.csv). Definition counts
    are metadata-scale (tens), so a driver collect here is correct."""
    rows = defs_df.collect()
    out = []
    for row in rows:
        d = {k.lower(): v for k, v in row.asDict().items()}
        out.append(
            DomainDefinition(
                domain=d.get("domain", ""),
                target=d.get("target", ""),
                dependencies=[
                    t.strip().lower()
                    for t in (d.get("dependancies") or d.get("dependencies") or "").split(",")
                    if t.strip()
                ],
                resolution=d.get("resolution", ""),
                status=d.get("status", "Active"),
                type=d.get("type", "SQL"),
            )
        )
    return out


def active_definitions(
    defs_df: DataFrame, event_tables: list[str]
) -> DataFrame:
    """Columnar ACTIVE/INACTIVE tagging: a definition is active iff its
    dependency list overlaps the batch's touched tables
    (replaces reference src/apply_to_domains.py:76-106 row loop)."""
    deps = F.transform(
        F.split(F.col("Dependancies"), ","), lambda t: F.lower(F.trim(t))
    )
    touched = F.array(*[F.lit(t.lower()) for t in event_tables]) if event_tables else F.array()
    return (
        defs_df.withColumn(
            "Status",
            F.when(F.arrays_overlap(deps, touched), F.lit("ACTIVE")).otherwise(
                F.lit("INACTIVE")
            ),
        )
    )


def run_definition(
    spark: SparkSession,
    definition: DomainDefinition,
    catalog: Catalog,
    process_id: int | None = None,
) -> DataFrame:
    """Register dependency temp views, run the Resolution SQL via Catalyst,
    stamp ``process_id`` (reference src/apply_to_domains.py:54-68)."""
    for dep in definition.dependencies:
        catalog.read(spark, dep).createOrReplaceTempView(dep)
    return _resolve(spark, definition, process_id)


def _resolve(
    spark: SparkSession, definition: DomainDefinition, process_id: int | None
) -> DataFrame:
    result = spark.sql(definition.resolution)
    pid = process_id if process_id is not None else int(time.time() * 1000)
    return result.withColumn("process_id", F.lit(pid).cast("long"))


def run_domains(
    spark: SparkSession,
    defs: DataFrame | list[DomainDefinition],
    event_tables: list[str],
    catalog: Catalog,
    process_id: int | None = None,
    write: bool = False,
    on_error: str = "raise",
    failures: dict | None = None,
) -> dict[str, DataFrame]:
    """E3 end-to-end: filter to active definitions, execute each, optionally
    write to the catalog target (schema-merge semantics are the sink's
    concern; reference used Delta mergeSchema, src/apply_to_domains.py:223-224).

    ``defs`` is the metadata table, or its rows as ``load_definitions``
    parsed them (``run_pipeline`` parses them while landing runs). A
    definition is active as in ``active_definitions``: one of its trimmed,
    lower-cased dependencies is a touched table. Each distinct dependency
    is registered as a temp view once, then the active definitions run in
    parallel driver threads (``map_parallel``); the result holds them in
    definition order. When two active definitions share a target, only the
    later one runs: its write would replace the earlier's. When one
    depends on another's target, they run one at a time instead.

    ``on_error="skip"`` quarantines a failing definition (recorded in the
    caller-supplied ``failures`` dict as target -> exception) and keeps
    the rest. The default re-raises the first failure in definition order,
    once the definitions running beside it have finished: other domains
    of the batch may already have been written by then.
    """
    if isinstance(defs, DataFrame):
        defs = load_definitions(defs)
    touched = {t.lower() for t in event_tables}
    active = list({
        d.target.lower(): d for d in defs if touched.intersection(d.dependencies)
    }.values())
    # A definition over another active definition's target must see that
    # write, so then they run one at a time, in definition order.
    targets = {d.target.lower() for d in active}
    if any(targets.intersection(d.dependencies) for d in active):
        waves = [[d] for d in active]
    else:
        waves = [active]
    view_errors: dict[str, Exception] = {}

    def run(definition: DomainDefinition) -> DataFrame | Exception:
        # Error isolation (on_error="skip"): one bad Resolution — typo'd
        # SQL, dropped source column, missing dependency — must not take
        # down every other domain in the batch; the reference's linear
        # script would crash the whole job.
        try:
            for dep in definition.dependencies:
                if dep in view_errors:
                    raise view_errors[dep]
            result = _resolve(spark, definition, process_id)
            if write and definition.target in catalog:
                # S9: the write publishes the result schema alongside the
                # data (the reference pushes it to the Glue catalog,
                # src/apply_to_domains.py:147-166).
                catalog.write(result, definition.target)
        except Exception as exc:  # noqa: BLE001 — quarantined below
            if on_error == "raise" or failures is None:
                raise
            return exc
        return result

    results = []
    for wave in waves:
        # Temp views are session-wide: register them before a query runs.
        view_errors.clear()
        for dep in dict.fromkeys(t for d in wave for t in d.dependencies):
            try:
                catalog.read(spark, dep).createOrReplaceTempView(dep)
            except Exception as exc:  # noqa: BLE001 — fails its definitions
                view_errors[dep] = exc
        results += map_parallel(spark, run, wave)
    out: dict[str, DataFrame] = {}
    for definition, result in zip(active, results):
        if isinstance(result, Exception):
            failures[definition.target] = result
        else:
            out[definition.target] = result
    return out
