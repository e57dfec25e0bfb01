"""The Spark jobs a CDC change batch runs, and the catalog and Observation
behaviour that keeps them few.

A change batch runs only the jobs that move data: the touched table names
ride the event-log append and the touched partitions ride each net's
checkpoint job (as Observations), and every catalog read of a table the
pipeline has merged or written uses the schema the catalog published, so
no read runs a schema-inference job. Jobs are counted with a SparkContext
job tag, which every job started from the calling thread carries
(schema inference and AQE stage jobs included), and Spark's status
tracker. The pipeline runs independent steps in driver threads; those
jobs carry the tag only when each thread inherits the caller's local
properties, so the budget test also checks that the count covers every
job of the batch's SQL executions, and that none of those executions
nests under another."""

import json
import os
import threading
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hmpps_digital_prison_reporting_glue_poc_spark.catalog import Catalog, TableSpec
from hmpps_digital_prison_reporting_glue_poc_spark.plans.pipeline import (
    PipelineConfig,
    run_pipeline,
)
from hmpps_digital_prison_reporting_glue_poc_spark.sources import io

ROW_SCHEMA = T.StructType([
    T.StructField("OFFENDER_ID", T.LongType()),
    T.StructField("BOOKING_ID", T.LongType()),
    T.StructField("ROOT_OFFENDER_ID", T.LongType()),
    T.StructField("LAST_NAME", T.StringType()),
])
# pk column per source table; both are partitioned by root_offender_id
TABLES = {"offenders": "offender_id", "offender_bookings": "booking_id"}
DOMAINS = {
    "names": "SELECT o.offender_id, o.last_name, b.booking_id "
             "FROM offenders o JOIN offender_bookings b "
             "ON o.offender_id = b.offender_id",
    "counts": "SELECT o.root_offender_id, COUNT(*) AS n "
              "FROM offenders o JOIN offender_bookings b "
              "ON o.offender_id = b.offender_id GROUP BY o.root_offender_id",
}
# Jobs of one two-table change batch with quarantine on, as run_pipeline
# runs it here: the quarantine and event-log appends (2), one net
# checkpoint per table (2 each, with AQE's shuffle stage), three per merge
# (4 merges), the domain definitions' collect (1) and the two domain
# queries' own jobs (2 + 3). Before the Observations and the published
# schemas the same batch ran 40.
CHANGE_BATCH_JOB_BUDGET = 24
# At least one write job per merge (4) and per domain (2): a count below
# this misses the jobs of the pipeline's worker threads.
CHANGE_BATCH_JOB_FLOOR = 6


def run_counting_jobs(spark, fn):
    """(fn's result, [(job id, [stage names])]) for the jobs fn started."""
    sc = spark.sparkContext
    tag = f"pipeline-jobs-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = []
    for job_id in sorted(jsc.statusTracker().getJobIdsForTag(tag)):
        stages = map(tracker.getStageInfo, tracker.getJobInfo(job_id).stageIds)
        # A skipped stage (a reused shuffle) never completes, so in a long
        # session the status store may already have dropped it.
        jobs.append((job_id, [s.name for s in stages if s is not None]))
    return out, jobs


def _scala_list(seq):
    it, out = seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def last_execution_id(spark):
    store = spark._jsparkSession.sharedState().statusStore()
    total = store.executionsCount()
    return -1 if total == 0 else store.executionsList().last().executionId()


def executions_after(spark, after):
    """[(execution id, root execution id, [job ids])] of the SQL executions
    with ids above ``after`` (the last 200 the SQL status store keeps)."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = store.executionsCount()
    return [
        (e.executionId(), e.rootExecutionId(), sorted(_scala_list(e.jobs().keys())))
        for e in _scala_list(store.executionsList(max(0, total - 200), 200))
        if e.executionId() > after
    ]


def inference_jobs(jobs):
    """Schema-inference jobs: a DataFrameReader ``load`` opening footers."""
    return [j for j in jobs if any(n.startswith("load at") for n in j[1])]


def _event(table, op, pos, oid, bid, name):
    row = {"OFFENDER_ID": oid, "BOOKING_ID": bid,
           "ROOT_OFFENDER_ID": oid % 3, "LAST_NAME": name}
    out = {"table": f"OMS_OWNER.{table.upper()}", "op_type": op,
           "op_ts": "2022-09-07 21:35:18.818430", "current_ts": "c",
           "pos": f"{pos:020d}"}
    if op in ("U", "D"):
        out["before"] = row
    if op in ("I", "U"):
        out["after"] = row
    return out


def _write_batch(path, events, malformed=False):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
        if malformed:
            f.write("THIS IS NOT JSON\n")


@pytest.fixture()
def two_tables(spark, tmp_path):
    """Two partitioned source tables, curated images, two domains."""
    base = str(tmp_path)
    cat = Catalog()
    cat.register(TableSpec("gg_event_log", os.path.join(base, "log"),
                           partition_by=["part_date"]))
    tables = {}
    for name, pk in TABLES.items():
        structured = os.path.join(base, f"{name}_structured")
        for table, path in ((f"{name}_structured", structured),
                            (name, os.path.join(base, name))):
            cat.register(TableSpec(table, path, pk=[pk],
                                   partition_by=["root_offender_id"]))
        tables[name] = (f"{name}_structured", name)
        # an empty target, laid out as one partition directory
        spark.createDataFrame([], (
            "offender_id bigint, booking_id bigint, last_name string, "
            "admin_hash string, admin_gg_pos string, "
            "admin_gg_op_ts timestamp, admin_event_ts timestamp"
        )).write.parquet(os.path.join(structured, "root_offender_id=0"))
    for target in DOMAINS:
        cat.register(TableSpec(target, os.path.join(base, target)))
    defs = spark.createDataFrame(
        [("Active", "SQL", t, "offenders,offender_bookings", t, sql)
         for t, sql in DOMAINS.items()],
        "Status string, Type string, Domain string, Dependancies string, "
        "Target string, Resolution string",
    )
    cfg = PipelineConfig(
        raw_path=os.path.join(base, "raw.json"), event_log_table="gg_event_log",
        row_schema=ROW_SCHEMA, tables=tables, quarantine=True,
    )
    return cfg, cat, defs


def test_change_batch_job_budget(spark, two_tables):
    """The second change batch of a two-table partitioned pipeline with two
    domains runs at most CHANGE_BATCH_JOB_BUDGET jobs, none of them a
    schema-inference job, and still applies its changes."""
    cfg, cat, defs = two_tables
    initial = [_event(t, "I", 10 * i + j, i, 100 + i, f"n{i}")
               for i in range(6) for j, t in enumerate(TABLES)]
    changes = [
        _event("offenders", "U", 100, 1, 101, "renamed"),
        _event("offenders", "D", 101, 2, 102, "n2"),
        _event("offender_bookings", "I", 102, 7, 107, "n7"),
        _event("offenders", "I", 103, 7, 107, "n7"),
    ]
    for events in ([initial], [changes[:1]], [changes]):
        _write_batch(cfg.raw_path, events[0], malformed=True)
        before = last_execution_id(spark)
        _, jobs = run_counting_jobs(
            spark, lambda: run_pipeline(spark, cfg, cat, defs_df=defs,
                                        process_id=1))
    assert inference_jobs(jobs) == []
    assert CHANGE_BATCH_JOB_FLOOR <= len(jobs) <= CHANGE_BATCH_JOB_BUDGET, jobs
    # The count covers every job the batch's SQL executions ran, and each
    # execution is its own root: the test thread runs none, so one nested
    # under a root means a worker thread saw a sibling's execution id.
    executions = executions_after(spark, before)
    assert executions
    assert {j for _, _, ids in executions for j in ids} <= {j for j, _ in jobs}
    assert [(e, root) for e, root, _ in executions if root != e] == []
    names = {r.offender_id: r.last_name
             for r in cat.read(spark, "offenders").collect()}
    assert names == {0: "n0", 1: "renamed", 3: "n3", 4: "n4", 5: "n5", 7: "n7"}
    assert cat.read(spark, "names").count() == 6
    assert sorted(r.n for r in cat.read(spark, "counts").collect()) == [1, 2, 3]


def _within(seconds, fn):
    """fn's result; fails the test if fn has not returned in ``seconds``
    (Observation.get blocks until its action reports)."""
    out = {}

    def target():
        try:
            out["result"] = fn()
        except BaseException as exc:  # re-raised on the test thread
            out["error"] = exc

    worker = threading.Thread(target=target, daemon=True)
    worker.start()
    worker.join(seconds)
    assert not worker.is_alive(), f"did not return within {seconds} s"
    if "error" in out:
        raise out["error"]
    return out["result"]


@pytest.mark.parametrize("quarantine", [False, True])
def test_empty_raw_batch_returns(spark, two_tables, quarantine):
    """A batch with no events (an empty file: a scan of zero partitions)
    returns without touching any table."""
    cfg, cat, defs = two_tables
    cfg.quarantine = quarantine
    _write_batch(cfg.raw_path, [])
    out = _within(120, lambda: run_pipeline(spark, cfg, cat, defs_df=defs))
    assert out == {}
    assert cat.read(spark, "offenders_structured").count() == 0
    assert not os.path.exists(cat.get("offenders").path)


def _table_rows(spark, cat, name):
    return sorted(tuple(r) for r in cat.read(spark, name).collect())


def test_failed_table_merge_raises_after_the_other_table(spark, two_tables, monkeypatch):
    """One table's structured merge fails at execution (a ``raise_error``
    image). run_pipeline raises that error only after the other table's
    thread has merged both its tables; the batch leaves no cached net, no
    worker thread, and every target whole: the failed table's old rows,
    the other table's new ones. The failing table is the first of the
    batch, so an early re-raise would not wait on the other."""
    cfg, cat, defs = two_tables
    initial = [_event(t, "I", 10 * i + j, i, 100 + i, f"n{i}")
               for i in range(6) for j, t in enumerate(TABLES)]
    _write_batch(cfg.raw_path, initial)
    run_pipeline(spark, cfg, cat, defs_df=defs, process_id=1)
    old = {t: _table_rows(spark, cat, t)
           for t in ("offender_bookings_structured", "offender_bookings")}

    merge_write, failed = io.merge_write, threading.Event()
    failing = cat.get("offender_bookings_structured").path
    last_merge = cat.get("offenders").path

    def patched(spark_, updates, path, *args, **kwargs):
        if path == failing:
            updates = updates.withColumn(
                "last_name",
                F.raise_error(F.lit("injected merge failure")).cast("string"),
            )
            try:
                return merge_write(spark_, updates, path, *args, **kwargs)
            finally:
                failed.set()
        if path == last_merge:  # the other table's last merge runs after
            assert failed.wait(120)
        return merge_write(spark_, updates, path, *args, **kwargs)

    monkeypatch.setattr(io, "merge_write", patched)
    _write_batch(cfg.raw_path, [
        _event("offender_bookings", "U", 100, 1, 101, "rebooked"),
        _event("offenders", "U", 101, 2, 102, "renamed"),
        _event("offenders", "I", 102, 7, 107, "n7"),
    ])
    jsc = spark.sparkContext._jsc
    cached, threads = set(jsc.getPersistentRDDs().keySet()), set(threading.enumerate())
    with pytest.raises(Exception, match="injected merge failure"):
        run_pipeline(spark, cfg, cat, defs_df=defs, process_id=1)
    assert set(threading.enumerate()) <= threads
    assert set(jsc.getPersistentRDDs().keySet()) <= cached

    monkeypatch.undo()
    assert {t: _table_rows(spark, cat, t) for t in old} == old
    for name in ("offenders_structured", "offenders"):
        rows = {r.offender_id: r.last_name for r in cat.read(spark, name).collect()}
        assert rows == {0: "n0", 1: "n1", 2: "renamed", 3: "n3", 4: "n4",
                        5: "n5", 7: "n7"}


@pytest.fixture()
def partitioned_table(spark, tmp_path):
    """A parquet table partitioned by ``p`` whose directory names read
    as integers when the schema is inferred."""
    cat = Catalog()
    path = str(tmp_path / "t")
    cat.register(TableSpec("t", path, partition_by=["p"]))
    spark.createDataFrame([(1, "a", "1"), (2, "b", "2")], "id int, v string, p string") \
        .write.partitionBy("p").parquet(path)
    return cat


def test_read_after_publish_runs_no_job(spark, partitioned_table):
    cat = partitioned_table
    published = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("v", T.StringType()),
        T.StructField("p", T.StringType()),
    ])
    cat.publish_schema("t", published)
    df, jobs = run_counting_jobs(spark, lambda: cat.read(spark, "t"))
    assert jobs == []
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in published
    ]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a", "1"), (2, "b", "2")]


def test_read_without_published_schema_infers(spark, partitioned_table):
    cat = partitioned_table
    assert cat.published_schema("t") is None
    df, jobs = run_counting_jobs(spark, lambda: cat.read(spark, "t"))
    assert inference_jobs(jobs)  # what the published schema saves
    assert dict((f.name, f.dataType) for f in df.schema)["p"] == T.IntegerType()


def test_write_publishes_the_new_schema(spark, tmp_path):
    cat = Catalog()
    cat.register(TableSpec("w", str(tmp_path / "w")))
    cat.write(spark.range(2).withColumn("name", F.lit("x")), "w")
    assert cat.read(spark, "w").columns == ["id", "name"]
    cat.write(spark.range(3).withColumn("score", F.lit(1.5)), "w")
    df, jobs = run_counting_jobs(spark, lambda: cat.read(spark, "w"))
    assert inference_jobs(jobs) == []
    assert [(f.name, f.dataType) for f in df.schema] == [
        ("id", T.LongType()), ("score", T.DoubleType())
    ]
    assert df.count() == 3
    cat.write(spark.range(1).withColumn("score", F.lit(2.5)), "w", mode="append")
    assert cat.published_schema("w") is None  # files may hold several now
    assert cat.read(spark, "w").count() == 4


def test_unpartitioned_merge_reads_with_the_published_schema(spark, tmp_path):
    """merge_write without partition_by reads the whole target: given the
    target's schema it runs no schema-inference job (``parquet at``, the
    only job that reads footers before the merge's own); without one it
    still infers."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(i, f"v{i}") for i in range(5)], "id int, v string") \
        .write.parquet(path)
    schema = T.StructType([T.StructField("id", T.IntegerType()),
                           T.StructField("v", T.StringType())])
    updates = spark.createDataFrame([(1, "x", False), (2, "y", True)],
                                    "id int, v string, d boolean")

    def merge(schema):
        return run_counting_jobs(spark, lambda: io.merge_write(
            spark, updates, path, ["id"], delete_col="d", schema=schema))[1]

    def reads(jobs):
        return [j for j in jobs if j[1][:1] and j[1][0].startswith("parquet at")]

    inferred, jobs = merge(None), merge(schema)
    assert len(reads(inferred)) == 1 and reads(jobs) == []
    assert len(jobs) == len(inferred) - 1
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == [
        (0, "v0"), (1, "x"), (3, "v3"), (4, "v4")
    ]
