"""Full 4-stage pipeline integration test: raw CDC JSON -> event log ->
structured merge -> curated -> domain SQL, mirroring the reference's
end-to-end flow (reference dev/_dummy_records_run_order.txt) on synthetic
offender-shaped data."""

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hmpps_digital_prison_reporting_glue_poc_spark.catalog import Catalog, TableSpec
from hmpps_digital_prison_reporting_glue_poc_spark.plans.pipeline import (
    PipelineConfig,
    run_landing,
    run_pipeline,
)
from hmpps_digital_prison_reporting_glue_poc_spark.types import (
    schema_from_ddl,
    with_admin_columns,
)

ROW_SCHEMA = T.StructType(
    [
        T.StructField("OFFENDER_ID", T.LongType()),
        T.StructField("LAST_NAME", T.StringType()),
        T.StructField("FIRST_NAME", T.StringType()),
    ]
)
TARGET_SCHEMA = with_admin_columns(
    schema_from_ddl(
        "offender_id bigint, last_name varchar2(40), first_name varchar2(40)"
    )
)


def _event(op, pos, oid, first, last):
    row = {"OFFENDER_ID": oid, "LAST_NAME": last, "FIRST_NAME": first}
    out = {
        "table": "OMS_OWNER.OFFENDERS",
        "op_type": op,
        "op_ts": f"2022-09-{7 + pos % 2:02d} 21:35:18.818430",
        "current_ts": "c",
        "pos": f"{pos:020d}",
    }
    if op in ("U", "D"):
        out["before"] = row
    if op in ("I", "U"):
        out["after"] = row
    return out


@pytest.fixture()
def wiring(spark, tmp_path):
    base = str(tmp_path)
    raw = os.path.join(base, "raw")
    os.makedirs(raw)
    events = [
        _event("I", 1, 1, "Pat", "Murphy"),
        _event("U", 2, 1, "Patrick", "Murphy"),
        _event("I", 3, 2, "David", "Martin"),
        _event("I", 4, 3, "Tmp", "Row"),
        _event("D", 5, 3, "Tmp", "Row"),
    ]
    with open(os.path.join(raw, "batch.json"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")

    cat = Catalog()
    cat.register(TableSpec("gg_event_log", os.path.join(base, "log"),
                           partition_by=["part_date"]))
    cat.register(TableSpec("offenders", os.path.join(base, "offenders"),
                           pk=["offender_id"]))
    cat.register(TableSpec("offenders_curated", os.path.join(base, "offenders_curated")))
    cat.register(TableSpec("domain1_names", os.path.join(base, "domain1")))

    # seed an empty structured target with the declared schema
    spark.createDataFrame([], TARGET_SCHEMA).write.parquet(
        cat.get("offenders").path
    )
    cfg = PipelineConfig(
        raw_path=raw,
        event_log_table="gg_event_log",
        row_schema=ROW_SCHEMA,
        tables={"offenders": ("offenders", "offenders_curated")},
    )
    return cfg, cat


def test_pipeline_end_to_end(spark, wiring):
    cfg, cat = wiring
    defs = spark.createDataFrame(
        [(
            "Active", "SQL", "domain1", "offenders_curated", "domain1_names",
            "select offender_id, first_name || ' ' || last_name as full_name "
            "from offenders_curated",
        )],
        "Status string, Type string, Domain string, Dependancies string, Target string, Resolution string",
    )
    domains = run_pipeline(spark, cfg, cat, defs_df=defs, process_id=5)

    # event log: partitioned parquet with hashes
    log = cat.read(spark, "gg_event_log")
    assert log.count() == 5
    assert {"before_hash", "after_hash", "part_date"} <= set(log.columns)
    # partition layout on disk
    parts = [p for p in os.listdir(cat.get("gg_event_log").path)
             if p.startswith("part_date=")]
    assert len(parts) == 2  # two distinct op_ts dates

    # structured: merged state (U over I, D removed)
    structured = cat.read(spark, "offenders")
    state = {r.offender_id: r.first_name for r in structured.collect()}
    assert state == {1: "Patrick", 2: "David"}

    # curated: identity copy
    curated = cat.read(spark, "offenders_curated")
    assert curated.count() == 2

    # domain: SQL over curated with process_id
    assert set(domains) == {"domain1_names"}
    dom = cat.read(spark, "domain1_names")
    names = {r.full_name for r in dom.collect()}
    assert names == {"Patrick Murphy", "David Martin"}
    assert dom.first().process_id == 5


def test_landing_append_is_incremental(spark, wiring):
    cfg, cat = wiring
    run_landing(spark, cfg, cat)
    first = cat.read(spark, "gg_event_log").count()
    run_landing(spark, cfg, cat)  # second batch appends, never rewrites
    assert cat.read(spark, "gg_event_log").count() == 2 * first


def test_landing_quarantine_path(spark, wiring, tmp_path):
    cfg, cat = wiring
    # poison the raw dir with a malformed line
    with open(os.path.join(cfg.raw_path, "bad.json"), "a") as f:
        f.write("THIS IS NOT JSON\n")
    cfg.quarantine = True
    log, tables = run_landing(spark, cfg, cat)
    assert log.count() == 5  # clean events only
    assert tables == ["oms_owner.offenders"]
    q = spark.read.parquet(cat.get("gg_event_log").path + "_quarantine")
    assert q.count() == 1 and "NOT JSON" in q.first()[0]


def test_pipeline_quarantine_releases_its_cache(spark, wiring):
    """The quarantine split caches the raw batch (SPARK-21610); run_pipeline
    must release it, or every batch of a long-running stream leaks one."""
    cfg, cat = wiring
    with open(os.path.join(cfg.raw_path, "bad.json"), "a") as f:
        f.write("THIS IS NOT JSON\n")
    cfg.quarantine = True
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    run_pipeline(spark, cfg, cat)
    assert set(jsc.getPersistentRDDs().keySet()) <= before
    assert cat.read(spark, "offenders").count() == 2


def test_pipeline_without_quarantine_skips_malformed_line(spark, wiring):
    """With quarantine off, a malformed raw line reads as an all-null row:
    it names no table, so it is not applied, and the good event is."""
    cfg, cat = wiring
    with open(os.path.join(cfg.raw_path, "batch.json"), "w") as f:
        f.write(json.dumps(_event("I", 1, 1, "Pat", "Murphy")) + "\n")
        f.write('{"table": "OMS_OWNER.OFFENDERS", "op_type": "I", "pos"\n')
    assert cfg.quarantine is False
    run_pipeline(spark, cfg, cat)
    rows = cat.read(spark, "offenders").collect()
    assert [(r.offender_id, r.first_name) for r in rows] == [(1, "Pat")]
    assert cat.read(spark, "gg_event_log").count() == 2  # history keeps both


def test_pipeline_routes_multiple_tables(spark, tmp_path):
    """One event log carrying two source tables: each routes to its own
    structured target; untouched configured tables are not rewritten."""
    base = str(tmp_path)
    raw = os.path.join(base, "raw2")
    os.makedirs(raw)
    events = [
        _event("I", 1, 1, "Pat", "Murphy"),
        _event("I", 2, 2, "Ann", "Smith"),
    ]
    # second table's events: same envelope, different table name
    bookings = [dict(e) for e in [_event("I", 3, 7, "x", "y")]]
    for b in bookings:
        b["table"] = "OMS_OWNER.OFFENDER_BOOKINGS"
    with open(os.path.join(raw, "batch.json"), "w") as f:
        for e in events + bookings:
            f.write(json.dumps(e) + "\n")

    cat = Catalog()
    cat.register(TableSpec("log2", os.path.join(base, "log2"),
                           partition_by=["part_date"]))
    for t in ("offenders", "offender_bookings", "untouched_t"):
        cat.register(TableSpec(t, os.path.join(base, t), pk=["offender_id"]))
        cat.register(TableSpec(f"{t}_curated", os.path.join(base, f"{t}_cur")))
        spark.createDataFrame([], TARGET_SCHEMA).write.parquet(cat.get(t).path)

    cfg = PipelineConfig(
        raw_path=raw, event_log_table="log2", row_schema=ROW_SCHEMA,
        tables={
            "offenders": ("offenders", "offenders_curated"),
            "offender_bookings": ("offender_bookings", "offender_bookings_curated"),
            "untouched_t": ("untouched_t", "untouched_t_curated"),
        },
    )
    from hmpps_digital_prison_reporting_glue_poc_spark.plans.pipeline import run_structured
    log, tables = run_landing(spark, cfg, cat)
    touched = run_structured(spark, cfg, cat, log, tables)
    assert sorted(touched) == ["offender_bookings", "offenders"]
    assert cat.read(spark, "offenders").count() == 2
    assert cat.read(spark, "offender_bookings").count() == 1
    assert cat.read(spark, "untouched_t").count() == 0


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC sink/source: values survive the roundtrip and predicates reach
    the ORC scan (the same pushdown contract as parquet)."""
    from pyspark.sql import functions as F

    from hmpps_digital_prison_reporting_glue_poc_spark.sources.io import read_orc, write_orc

    path = str(tmp_path / "orc_tbl")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    )
    write_orc(df, path, partition_by=["grp"])
    back = read_orc(spark, path).filter(F.col("grp") == 3)
    assert back.count() == df.filter(F.col("id") % 7 == 3).count()
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "grp" in plan.split(
        "PartitionFilters:"
    )[1][:120]


def test_binary_dir_ingest_feeds_multimodal_kernels(spark, tmp_path):
    """binaryFile source -> media adapter -> Arrow-batched meta kernel:
    the real multimodal loading path, end to end on local files."""
    from hmpps_digital_prison_reporting_glue_poc_spark.operators.multimodal import (
        extract_media_meta,
    )
    from hmpps_digital_prison_reporting_glue_poc_spark.sources.io import (
        binary_dir_as_media,
        read_binary_dir,
    )

    d = tmp_path / "media"
    d.mkdir()
    payloads = {"a.png": b"\x89PNG fake", "b.wav": b"RIFF fake audio"}
    for name, data in payloads.items():
        (d / name).write_bytes(data)
    (d / "skip.txt").write_bytes(b"not media")

    media = binary_dir_as_media(
        read_binary_dir(spark, str(d), glob="*.{png,wav}")
    )
    rows = media.collect()
    assert {r.media_type for r in rows} == {"png", "wav"}
    assert all(bytes(r.content) in payloads.values() for r in rows)
    meta = extract_media_meta(media).collect()
    got = {r.n_bytes for r in meta}
    assert got == {len(v) for v in payloads.values()}
