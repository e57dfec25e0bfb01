"""CDC engine core (SURVEY.md §2 P9, A3, A4, J1-J4, W1 — the REBUILD items).

The reference implements CDC apply as driver-side Python:
``convert_to_dict_list`` collects the whole event log to the driver
(reference src/apply_change_log_to_delta.py:366-373,633) and
``apply_events`` nested-loops every target row over every event
(reference src/apply_change_log_to_delta.py:404-422) — O(rows x events)
with an OOM cliff. This module replaces all of it with shuffle-based
primitives:

- P9 mapper  -> pure columnar when/select (no rdd.map)
- A4 fold    -> row_number window (last-writer-wins) or a grouped
               applyInPandas chain-fold when hash-chain validation is on
- J1-J4      -> left_semi / left_anti joins
- merge      -> anti-join + unionByName (logical MERGE; sources.merge_write
               turns it into Delta MERGE INTO when available)

At scale: one shuffle on the PK for the fold, one for the anti-join; both
hash-partitioned on the same key so AQE can reuse the exchange. No driver
collect anywhere.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hmpps_digital_prison_reporting_glue_poc_spark.functions.cdc_functions import (
    add_event_hashes,
    add_part_date,
)

# Merge-time process fields appended to the target schema
# (reference src/apply_change_log_to_delta.py:123-138 ``update_schema``).
PROCESS_FIELDS = ["event_type", "previous_hash", "table", "schema"]


def ingest_events(df: DataFrame) -> DataFrame:
    """Stage 1 (E1, reference src/gg_logs_to_parquet.py:229-265):
    raw CDC events -> event-log rows. Drops the opaque ``tokens`` struct
    (P1, reference :169), adds Murmur3 before/after fingerprints (P2),
    derives the ``part_date`` partition column (P3)."""
    out = df.drop("tokens") if "tokens" in df.columns else df
    out = add_event_hashes(out)
    return add_part_date(out)


def map_events_to_target(
    events: DataFrame, target_schema: T.StructType
) -> DataFrame:
    """P9 rebuilt: untyped CDC envelope rows -> typed target-shaped rows,
    as a single columnar select (reference runs this via
    ``df.rdd.map(mapper).toDF`` at src/apply_change_log_to_delta.py:570-571,
    with per-row strptime parsing at :309-327).

    Payload choice per reference :340-343 — D takes ``before``, I/U take
    ``after``. Dates/timestamps arrive as strings and are truncated-then-cast
    exactly like the reference (first 10 chars for dates, first 26 for
    timestamps, reference :309-327). Lineage columns per reference :352-361.

    The projection is built as SQL expression strings and applied with one
    ``selectExpr``: the same expressions as the Column API would build
    (``split_table_name``'s split/lower, a case-insensitive field of the
    payload), but one call into the JVM per table instead of one per
    column function — on PySpark 4 each of those also records its call
    site, and a 30-column target took ≈ 180 of them.
    """
    payload = "(CASE WHEN op_type = 'D' THEN `before` ELSE `after` END)"
    parts = r"split(lower(`table`), '\\.')"
    admin_exprs = {
        "admin_hash": "CAST(after_hash AS STRING)",
        "previous_hash": "CAST(before_hash AS STRING)",
        "admin_gg_pos": "pos",
        "admin_gg_op_ts": "CAST(substring(op_ts, 1, 26) AS TIMESTAMP)",
        "admin_event_ts": "current_timestamp()",
        "event_type": "op_type",
        "table": f"{parts}[1]",
        "schema": f"{parts}[0]",
    }

    exprs = []
    payload_fields = {
        f.name.lower() for f in events.schema["after"].dataType.fields
    }
    for field in target_schema.fields:
        name = field.name.lower()
        if name in admin_exprs:
            value = admin_exprs.pop(name)
        elif name not in payload_fields:
            value = f"CAST(NULL AS {field.dataType.simpleString()})"
        else:
            src = f"{payload}.`{name}`"  # case-insensitive resolution
            if isinstance(field.dataType, T.DateType):
                value = f"CAST(substring(CAST({src} AS STRING), 1, 10) AS DATE)"
            elif isinstance(field.dataType, T.TimestampType):
                value = (
                    f"CAST(substring(CAST({src} AS STRING), 1, 26) AS TIMESTAMP)"
                )
            else:
                value = f"CAST({src} AS {field.dataType.simpleString()})"
        exprs.append(f"{value} AS `{name}`")
    # Remaining process/lineage fields not present in the target schema.
    for name, value in admin_exprs.items():
        exprs.append(f"{value} AS `{name}`")
    return events.selectExpr(*exprs)


def latest_event_per_key(
    df: DataFrame, pk: list[str], order_col: str = "admin_gg_pos"
) -> DataFrame:
    """A4 fast path: last-writer-wins — final event per key by CDC position.
    Replaces the reference's global sort + driver replay
    (src/apply_change_log_to_delta.py:631-638) with one windowed shuffle."""
    w = Window.partitionBy(*pk).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def first_event_per_key(
    df: DataFrame, pk: list[str], order_col: str = "admin_gg_pos"
) -> DataFrame:
    """A3/W1: earliest event per key (insert seeding for new keys,
    reference src/apply_change_log_to_delta.py:607-616)."""
    w = Window.partitionBy(*pk).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_cdc(
    target: DataFrame,
    mapped_events: DataFrame,
    pk: list[str],
    order_col: str = "admin_gg_pos",
    validate_hash_chain: bool = False,
) -> DataFrame:
    """A4 + J1-J4 + U2 rebuilt: apply a batch of mapped CDC events to a
    target table, returning the new full table image.

    Semantics (reference src/apply_change_log_to_delta.py:376-422,594-648):
    events fold per key in ``pos`` order; last state wins; a final D drops
    the row; keys absent from the target insert. The reference's two-step
    "seed new keys with the first event, then replay the rest" collapses to
    last-event-wins because I/U payloads are whole-row images.

    ``validate_hash_chain=True`` enables the dev-variant integrity check the
    reference shipped disabled (``if 1 == 1`` at :384; real check at
    dev/_read_delta_table.py:343-369): an event applies only if its
    ``previous_hash`` matches the hash of the state it lands on; a rejected
    D is skipped; a D followed by I resurrects as U. That fold is inherently
    sequential per key, so it runs as a grouped Arrow-batched
    ``applyInPandas`` — per-key groups are tiny (one batch of events), and
    the shuffle is the same PK hash partition the fast path uses.
    """
    target_cols = target.columns
    if validate_hash_chain:
        finals = _chain_fold(target, mapped_events, pk, order_col, target_cols)
    else:
        finals = latest_event_per_key(mapped_events, pk, order_col)
        finals = finals.withColumn("__action", F.col("event_type"))

    # Rows never touched by an event: anti join on event keys (J2).
    untouched = target.join(
        mapped_events.select(*pk).distinct(), on=pk, how="left_anti"
    )
    # Keep upserts, drop deletes (reference :645-646 keeps action in {U, I}).
    upserts = finals.filter(F.col("__action") != "D").select(*target_cols)
    return untouched.unionByName(upserts)


def cdc_upsert_frame(
    mapped_events: DataFrame,
    pk: list[str],
    order_col: str = "admin_gg_pos",
) -> DataFrame:
    """Incremental-merge form: the per-key net change of a batch — final row
    image plus ``__is_delete`` — ready for sources.merge_write / Delta MERGE.
    This is the last-writer-wins net of plans.pipeline.run_structured.
    """
    finals = latest_event_per_key(mapped_events, pk, order_col)
    return finals.withColumn("__is_delete", F.col("event_type") == F.lit("D"))


def _chain_fold(
    target: DataFrame,
    mapped_events: DataFrame,
    pk: list[str],
    order_col: str,
    target_cols: list[str],
) -> DataFrame:
    """Grouped sequential fold with hash-chain validation (dev variant,
    reference dev/_read_delta_table.py:343-369). Groups are single keys —
    bounded memory; Arrow batches both directions."""
    events_cols = mapped_events.columns
    base = (
        target.join(mapped_events.select(*pk).distinct(), on=pk, how="left_semi")
        .withColumn("__is_base", F.lit(True))
    )
    for col in events_cols:
        if col not in base.columns:
            base = base.withColumn(col, F.lit(None))
    evts = mapped_events.withColumn("__is_base", F.lit(False))
    for col in base.columns:
        if col not in evts.columns:
            evts = evts.withColumn(col, F.lit(None))
    combined = evts.unionByName(base.select(*evts.columns))

    out_schema = T.StructType(
        [f for f in combined.schema.fields if f.name in set(target_cols)]
        + [T.StructField("__action", T.StringType(), True)]
    )
    out_cols = [f.name for f in out_schema.fields]

    def _fold_block(pdf: pd.DataFrame) -> pd.DataFrame:
        """Fold >=1 COMPLETE key groups: rows are contiguous per key and
        events are already (key, order_col)-sorted. Same per-key
        semantics as the r1-r10 per-group fold; one output frame per
        block instead of one per key."""
        recs = pdf.to_dict("records")
        out_rows = []
        i, n = 0, len(recs)
        while i < n:
            key = tuple(recs[i][c] for c in pk)
            j = i
            state = None
            # base row(s) sort first within the key (flag desc); the
            # fold seeds from the first, ignoring duplicates like the
            # old base_rows.iloc[0]
            while (
                j < n
                and tuple(recs[j][c] for c in pk) == key
                and recs[j]["__is_base"]
            ):
                if state is None:
                    state = recs[j]
                j += 1
            action = ""
            deleted = state is None
            while j < n and tuple(recs[j][c] for c in pk) == key:
                event = recs[j]
                j += 1
                prev = event["previous_hash"]
                etype = event["event_type"]
                if state is not None and not deleted:
                    # Event must chain onto the current state.
                    if prev is not None and prev != state["admin_hash"]:
                        continue
                    if etype == "D":
                        deleted, action = True, "D"
                    else:
                        state, action = (
                            event,
                            ("U" if etype in ("U", "I") else action),
                        )
                        deleted = False
                else:
                    # No live row: only an insert applies; an I after a D
                    # resurrects as U (dev/_read_delta_table.py:361-366).
                    if etype == "I":
                        state = event
                        action = "U" if action == "D" else "I"
                        deleted = False
            i = j
            if state is None:
                continue
            row = {c: state[c] for c in out_cols if c != "__action"}
            row["__action"] = "D" if deleted else (action or "U")
            out_rows.append(row)
        return pd.DataFrame(out_rows, columns=out_cols)

    def fold_partitions(batches):
        """Whole-partition fold (r11 optimization, guide §4): the old
        groupBy().applyInPandas paid one Arrow slice, one Python call
        and one single-row pandas DataFrame PER KEY (~10k tiny groups at
        bench scale — per-group overhead, not fold work, dominated).
        Same exchange (hash by pk), same per-key order (order_col sort),
        but the fold now runs once per Arrow batch; a key whose rows
        span a batch boundary is carried into the next batch, so group
        reassembly is exact regardless of Arrow batch size."""
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if pdf.empty:
                continue
            # the last key's rows may continue in the next batch: hold
            # back the contiguous tail belonging to the final key
            mask = None
            for c in pk:
                v = pdf[c].iloc[-1]
                mc = pdf[c].isna() if pd.isna(v) else (pdf[c] == v)
                mask = mc if mask is None else (mask & mc)
            carry = pdf[mask]
            body = pdf[~mask]
            if not body.empty:
                yield _fold_block(body)
        if carry is not None and not carry.empty:
            yield _fold_block(carry)

    # hash-partition by pk (the exchange groupBy().applyInPandas used),
    # order each key's rows: base first, then events in order_col order
    arranged = combined.repartition(*pk).sortWithinPartitions(
        # nulls-last matches the old pandas sort_values default
        *pk, F.col("__is_base").desc(), F.col(order_col).asc_nulls_last()
    )
    return arranged.mapInPandas(fold_partitions, schema=out_schema)


def scd2_history(
    events: DataFrame,
    pk: list[str],
    order_col: str,
    attr_cols: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension Type 2: turn a change stream into a
    history table with effective ranges — every version of every key kept,
    with ``valid_from`` (the change's own ordering value), ``valid_to``
    (the NEXT change's, NULL while current) and ``is_current``.

    The reference only materialises last-writer-wins state (SURVEY.md A4,
    src/apply_change_log_to_delta.py:376-422); SCD2 is the standard
    reporting answer to "what did this row look like when the report ran
    last March". One window over (pk, order) — a single shuffle at any
    scale, and the same ``pos``-style total ordering contract the
    reference relies on.
    """
    w = Window.partitionBy(*pk).orderBy(order_col)
    out = events if attr_cols is None else events.select(*pk, order_col, *attr_cols)
    return (
        out.withColumn("valid_from", F.col(order_col))
        .withColumn("valid_to", F.lead(order_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )
