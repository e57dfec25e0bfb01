"""End-to-end pipeline orchestration: the reference's 4 Glue jobs as one
composable, catalog-driven unit.

Stage map (reference -> here):

1. landing    gg_logs_to_parquet.start()      -> run_landing()
2. structured apply_change_log_to_delta.start() -> run_structured()
3. curated    apply_to_curated.start()        -> run_curated()
4. domain     apply_to_domains.start()        -> run_domains() (plans.domains)

One apply path: ``run_pipeline`` takes one batch of raw CDC events through
the four stages, and ``run_pipeline_streaming`` calls that same function
on every micro-batch, so hash-chain validation and quarantine hold on
both.

Differences from the reference (its own README lists these as flaws,
reference README.md:48-58):
- the event log is appended partition-by-partition, not rewritten;
- each table's batch folds to one net change per key (last-writer-wins,
  or the hash-chain fold) and ``sources.io.merge_write`` merges it into
  structured and then curated — only touched partitions are rewritten,
  never the whole table;
- a batch runs only the Spark jobs that move data. What the pipeline
  needs to know about a batch rides a job that already runs, as an
  ``Observation``: the touched table names ride the event-log append,
  and each table's touched partition values ride its net change's
  checkpoint job. Targets read with the schema the previous merge
  published in the catalog, so no read runs a schema-inference job. No
  data rows are collected anywhere;
- a small batch is bound by driver time (planning, per-job fixed cost),
  not by the executors, so its independent steps overlap in driver
  threads (``plans.parallel.map_parallel``): the domain definitions load
  while landing runs, each touched table runs structured then curated in
  its own thread, and the active domain queries run side by side.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hmpps_digital_prison_reporting_glue_poc_spark.catalog import Catalog
from hmpps_digital_prison_reporting_glue_poc_spark.functions.cdc_functions import (
    format_table_name,
)
from hmpps_digital_prison_reporting_glue_poc_spark.operators.cdc import (
    _chain_fold,
    cdc_upsert_frame,
    ingest_events,
    map_events_to_target,
)
from hmpps_digital_prison_reporting_glue_poc_spark.plans.domains import (
    load_definitions,
    run_domains,
)
from hmpps_digital_prison_reporting_glue_poc_spark.plans.parallel import (
    map_parallel,
)
from hmpps_digital_prison_reporting_glue_poc_spark.sources import io
from hmpps_digital_prison_reporting_glue_poc_spark.sources.io import (
    cdc_json_reader,
    read_cdc_json,
    split_corrupt,
    write_partitioned_parquet,
)


@dataclass
class PipelineConfig:
    """Wiring for one source system's CDC flow."""

    raw_path: str                 # raw CDC JSON directory
    event_log_table: str          # catalog name of the parquet event log
    row_schema: T.StructType      # CDC before/after payload schema
    # logical table name -> (target catalog name, curated catalog name)
    tables: dict[str, tuple[str, str]] = field(default_factory=dict)
    validate_hash_chain: bool = False
    # quarantine malformed raw lines into <event_log_path>_quarantine
    quarantine: bool = False


def run_landing(
    spark: SparkSession, cfg: PipelineConfig, catalog: Catalog,
    raw: DataFrame | None = None,
) -> tuple[DataFrame, list[str]]:
    """Stage 1 (E1): raw CDC events -> hashed, date-partitioned event log.
    ``raw`` is one batch read with ``cdc_json_reader`` (a micro-batch on
    the stream); ``None`` reads ``cfg.raw_path``. With ``cfg.quarantine``
    malformed lines append to <event_log_path>_quarantine. Append-only —
    the event log is immutable history; partition pruning on part_date
    serves the downstream incremental reads.

    Returns the batch's event-log frame and the lower-cased qualified
    table names it carries, observed on the append itself (no job of its
    own). A row without a table name (a malformed line when quarantine is
    off) names no table, so no stage applies it."""
    spec = catalog.get(cfg.event_log_table)
    if raw is None:
        raw = read_cdc_json(spark, cfg.raw_path, cfg.row_schema, cfg.quarantine)
    if cfg.quarantine:
        raw, corrupt = split_corrupt(raw)
        corrupt.write.mode("append").parquet(spec.path + "_quarantine")
    log = ingest_events(raw)
    seen = Observation()
    write_partitioned_parquet(
        log.observe(seen, F.collect_set(F.lower("table")).alias("tables")),
        spec.path, ["part_date"], mode="append",
    )
    return log, sorted(seen.get["tables"])


class Net(NamedTuple):
    """One table's net change for a batch."""

    frame: DataFrame         # target columns plus ``__is_delete``
    schema: T.StructType     # the target columns' schema, as merged
    partitions: list         # touched partition values (``merge_write``)


def run_structured(
    spark: SparkSession, cfg: PipelineConfig, catalog: Catalog,
    event_log: DataFrame, tables: list[str],
) -> dict[str, Net]:
    """Stage 2 (E2): the batch's event log -> per-table net change, merged
    into the structured tables. ``tables`` are the qualified table names
    ``run_landing`` observed. Returns {touched logical table name: Net};
    the names drive stage 4 ACTIVE filtering, replacing the reference's
    hard-coded KINESIS_EVENTS_TABLES.

    Each net is computed once, as an eager local checkpoint: structured
    and curated merge the same frame over a short plan, and the hash-chain
    fold, which reads the live rows of the touched keys from the target
    this merge replaces, is never re-run after the swap (it would fold
    against the new table or miss its deleted files). The checkpoint job
    also observes the net's partition values for both merges (the
    partition columns of the structured and the curated table), and the
    merged schema is published, so the next batch reads the target
    without inferring it. ``run_pipeline`` releases the checkpoints this
    returns; when a step fails, this releases the ones it made."""
    nets: dict[str, Net] = {}
    try:
        for qualified in tables:
            name = format_table_name(qualified)
            if name not in cfg.tables:
                continue
            target_name, curated_name = cfg.tables[name]
            spec = catalog.get(target_name)
            target = catalog.read(spark, target_name)
            events = event_log.filter(F.lower("table") == qualified)
            mapped = map_events_to_target(events, target.schema)
            if cfg.validate_hash_chain:
                net = _chain_fold(
                    target, mapped, spec.pk, "admin_gg_pos", target.columns
                ).withColumn("__is_delete", F.col("__action") == "D")
            else:
                net = cdc_upsert_frame(mapped, spec.pk)
            net = net.select(*target.columns, "__is_delete")
            part_cols = list(dict.fromkeys(
                spec.partition_by + catalog.get(curated_name).partition_by
            ))
            seen = Observation()
            if part_cols:
                net = net.observe(seen, F.collect_set(F.struct(*[
                    F.col(c).cast("string").alias(c) for c in part_cols
                ])).alias("partitions"))
            net = net.localCheckpoint(eager=True)
            nets[name] = Net(
                net,
                T.StructType([f for f in net.schema if f.name != "__is_delete"]),
                seen.get["partitions"] if part_cols else [],
            )
            _merge(spark, catalog, target_name, spec.pk, nets[name])
    except BaseException:
        _release(nets)
        raise
    return nets


def run_curated(
    spark: SparkSession, cfg: PipelineConfig, catalog: Catalog,
    nets: dict[str, Net],
) -> list[str]:
    """Stage 3 (E3 bridge): structured -> curated. Curated is the identity
    image of structured (reference src/apply_to_curated.py:153-161) and
    starts in step with it, so merging each table's net change from
    ``run_structured`` keeps the two equal without copying the table,
    and the net's schema is curated's schema."""
    for name, net in nets.items():
        target_name, curated_name = cfg.tables[name]
        pk = catalog.get(curated_name).pk or catalog.get(target_name).pk
        _merge(spark, catalog, curated_name, pk, net)
    return list(nets)


def _merge(
    spark: SparkSession, catalog: Catalog, name: str, pk: list[str], net: Net
) -> None:
    """Merge one net change into catalog table ``name`` and publish the
    schema it merged. The target is read with the schema published before,
    when there is one."""
    spec = catalog.get(name)
    io.merge_write(
        spark, net.frame, spec.path, pk, delete_col="__is_delete",
        partition_by=spec.partition_by or None, partitions=net.partitions,
        schema=catalog.published_schema(name),
    )
    catalog.publish_schema(name, net.schema)


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig, catalog: Catalog,
    defs_df: DataFrame | None = None,
    process_id: int | None = None,
    raw: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """All four stages over one batch of raw events (``raw``, or
    ``cfg.raw_path`` when None). Returns the materialised domain frames.

    Steps that do not read each other's results overlap in driver threads
    (``map_parallel``): the domain definitions are parsed while landing
    runs; each touched table then runs its structured and its curated
    merge in a thread of its own, with no barrier between the tables; and
    once every table is merged, the active domains run in parallel. A
    failure in one table's merges is re-raised after the other tables'
    threads have finished. What the batch caches on the way (the
    quarantine split, the nets' local checkpoints) is released before it
    returns, on failure too."""
    if raw is None:
        raw = read_cdc_json(spark, cfg.raw_path, cfg.row_schema, cfg.quarantine)
    nets: dict[str, Net] = {}

    def apply_table(qualified: list[str]) -> list[str]:
        touched = run_structured(spark, cfg, catalog, log, qualified)
        nets.update(touched)
        return run_curated(spark, cfg, catalog, touched)

    try:
        steps = [lambda: run_landing(spark, cfg, catalog, raw)]
        if defs_df is not None:
            steps.append(lambda: load_definitions(defs_df))
        (log, tables), *definitions = map_parallel(spark, operator.call, steps)
        # One thread per target: names that differ only in their schema
        # owner merge into the same table, so they share a thread.
        by_target: dict[str, list[str]] = {}
        for qualified in tables:
            by_target.setdefault(format_table_name(qualified), []).append(qualified)
        applied = map_parallel(spark, apply_table, list(by_target.values()))
        curated_touched = [cfg.tables[t][1] for names in applied for t in names]
        if defs_df is None or not curated_touched:
            return {}
        return run_domains(
            spark, definitions[0], curated_touched, catalog,
            process_id=process_id, write=True,
        )
    finally:
        raw.unpersist()
        _release(nets)


def _release(nets: dict[str, Net]) -> None:
    for net in nets.values():  # a local checkpoint's plan is its RDD
        net.frame._jdf.queryExecution().analyzed().rdd().unpersist(False)


def run_pipeline_streaming(
    spark: SparkSession, cfg: PipelineConfig, catalog: Catalog,
    checkpoint_dir: str,
    defs_df: DataFrame | None = None,
    process_id: int | None = None,
    max_files_per_trigger: int = 1,
    on_batch=None,
) -> int:
    """``run_pipeline`` driven by Structured Streaming: ``readStream`` over
    the raw CDC JSON directory (same reader schema and corrupt-record
    options as the batch read), and EVERY micro-batch runs ``run_pipeline``
    inside ``foreachBatch`` — the micro-batch design the reference's README
    lists as TODO (reference README.md:24-25; Kinesis trigger stubs
    src/apply_change_log_to_delta.py:521-528).

    Identical final state to the batch pipeline (pinned by
    tests/test_pipeline_stream_e2e.py): each micro-batch folds to one net
    change per key and merges it incrementally, so applying the batches in
    source order reaches the state one fold over all events reaches.
    Domains refresh per batch, so the domain tables are continuously
    correct, not only at drain time.

    Runs with ``availableNow`` + ``maxFilesPerTrigger`` (drain everything
    currently in the directory, in bounded micro-batches) and blocks until
    drained; a continuous deployment would drop the trigger and keep the
    same checkpoint. Returns the number of non-empty micro-batches.
    """
    n_batches = 0

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        if batch_df.isEmpty():
            return
        n_batches += 1
        run_pipeline(
            spark, cfg, catalog, defs_df, process_id=process_id, raw=batch_df
        )
        if on_batch is not None:  # observability hook (stream stress)
            on_batch(batch_id)

    raw = (
        cdc_json_reader(spark.readStream, cfg.row_schema, cfg.quarantine)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(cfg.raw_path)
    )
    query = (
        raw.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return n_batches
