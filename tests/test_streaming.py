"""Structured Streaming CDC tests: micro-batch incremental merge with
checkpointed resume — batch/stream parity for the A4 fold semantics,
through the pipeline's one apply path (``run_pipeline_streaming`` runs
``run_pipeline`` on every micro-batch)."""

import json
import os

from pyspark.sql import types as T

from hmpps_digital_prison_reporting_glue_poc_spark.catalog import Catalog, TableSpec
from hmpps_digital_prison_reporting_glue_poc_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline_streaming,
)
from hmpps_digital_prison_reporting_glue_poc_spark.types import (
    schema_from_ddl,
    with_admin_columns,
)

ROW_SCHEMA = T.StructType(
    [
        T.StructField("OFFENDER_ID", T.LongType()),
        T.StructField("LAST_NAME", T.StringType()),
    ]
)
TARGET_SCHEMA = with_admin_columns(
    schema_from_ddl("offender_id bigint, last_name varchar2(40)")
)


def _event(op, pos, oid, name):
    row = {"OFFENDER_ID": oid, "LAST_NAME": name}
    out = {
        "table": "T.X",
        "op_type": op,
        "op_ts": "2022-09-07 21:35:18.000000",
        "current_ts": "c",
        "pos": f"{pos:020d}",
    }
    if op in ("U", "D"):
        out["before"] = row
    if op in ("I", "U"):
        out["after"] = row
    return out


def _append_batch(srcdir, name, events):
    with open(os.path.join(srcdir, name), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _wire(spark, base):
    """Source dir, config and catalog; the structured target ``x`` starts
    empty with the declared schema."""
    srcdir = os.path.join(base, "src")
    os.makedirs(srcdir)
    cat = Catalog()
    cat.register(TableSpec("log", os.path.join(base, "log"),
                           partition_by=["part_date"]))
    cat.register(TableSpec("x", os.path.join(base, "x"), pk=["offender_id"]))
    cat.register(TableSpec("x_curated", os.path.join(base, "x_curated")))
    spark.createDataFrame([], TARGET_SCHEMA).write.parquet(cat.get("x").path)
    cfg = PipelineConfig(
        raw_path=srcdir, event_log_table="log", row_schema=ROW_SCHEMA,
        tables={"x": ("x", "x_curated")},
    )
    return cfg, cat


def _state(spark, cat, name):
    return {r.offender_id: r.last_name for r in cat.read(spark, name).collect()}


def test_stream_incremental_merge_across_batches(spark, tmp_path):
    cfg, cat = _wire(spark, str(tmp_path))
    ckpt = os.path.join(str(tmp_path), "ckpt")

    _append_batch(cfg.raw_path, "b1.json", [
        _event("I", 1, 1, "A"),
        _event("U", 2, 1, "B"),
        _event("I", 3, 2, "C"),
    ])
    assert run_pipeline_streaming(spark, cfg, cat, checkpoint_dir=ckpt) == 1
    assert _state(spark, cat, "x") == {1: "B", 2: "C"}

    # second batch: delete 1, update 2, insert 3 — checkpoint resumes,
    # batch 1 files are NOT reprocessed
    _append_batch(cfg.raw_path, "b2.json", [
        _event("D", 4, 1, "B"),
        _event("U", 5, 2, "C2"),
        _event("I", 6, 3, "New"),
    ])
    assert run_pipeline_streaming(spark, cfg, cat, checkpoint_dir=ckpt) == 1
    assert _state(spark, cat, "x") == {2: "C2", 3: "New"}
    assert _state(spark, cat, "x_curated") == {2: "C2", 3: "New"}
    assert cat.read(spark, "log").count() == 6


def test_stream_batch_parity_with_batch_merge(spark, tmp_path):
    """One availableNow pass over all events == batch merge_cdc result."""
    from hmpps_digital_prison_reporting_glue_poc_spark.operators.cdc import (
        ingest_events, map_events_to_target, merge_cdc)
    from hmpps_digital_prison_reporting_glue_poc_spark.sources import read_cdc_json

    events = [
        _event("I", 1, 1, "A"), _event("U", 2, 1, "B"),
        _event("I", 3, 2, "C"), _event("D", 4, 2, "C"),
        _event("I", 5, 3, "D"),
    ]
    cfg, cat = _wire(spark, str(tmp_path))
    _append_batch(cfg.raw_path, "all.json", events)
    run_pipeline_streaming(
        spark, cfg, cat, checkpoint_dir=os.path.join(str(tmp_path), "c2")
    )
    stream_state = _state(spark, cat, "x")

    raw = read_cdc_json(spark, os.path.join(cfg.raw_path, "all.json"), ROW_SCHEMA)
    mapped = map_events_to_target(ingest_events(raw), TARGET_SCHEMA)
    empty = spark.createDataFrame([], schema=TARGET_SCHEMA)
    batch_state = {r.offender_id: r.last_name
                   for r in merge_cdc(empty, mapped, pk=["offender_id"]).collect()}
    assert stream_state == batch_state == {1: "B", 3: "D"}
