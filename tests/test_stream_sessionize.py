"""Stateful streaming sessionization: state must carry across micro-batches
(the property the batch window version cannot provide on an unbounded
stream)."""

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hmpps_digital_prison_reporting_glue_poc_spark.streaming.sessionize import (
    stream_sessionize,
)

SRC_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.StringType()),
    ]
)


def _write_batch(srcdir, name, rows):
    with open(os.path.join(srcdir, name), "w") as f:
        for user_id, event_id, ts in rows:
            f.write(json.dumps({"user_id": user_id, "event_id": event_id, "ts": ts}) + "\n")


def _run(spark, srcdir, outdir, ckpt):
    stream = (
        spark.readStream.schema(SRC_SCHEMA)
        .json(srcdir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        stream_sessionize(stream, gap_minutes=30)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_sessions_span_micro_batches(spark, tmp_path):
    srcdir = os.path.join(str(tmp_path), "src")
    outdir = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(srcdir)

    # batch 1: user 1 -> two events 10 min apart (one session);
    #          user 2 -> one event
    _write_batch(srcdir, "b1.json", [
        (1, 1, "2024-01-01 10:00:00"),
        (1, 2, "2024-01-01 10:10:00"),
        (2, 3, "2024-01-01 09:00:00"),
    ])
    _run(spark, srcdir, outdir, ckpt)

    # batch 2: user 1 -> +10 min (SAME session: state crossed the batch
    # boundary), then +2 h (new session); user 2 -> +5 h (new session)
    _write_batch(srcdir, "b2.json", [
        (1, 4, "2024-01-01 10:20:00"),
        (1, 5, "2024-01-01 12:20:00"),
        (2, 6, "2024-01-01 14:00:00"),
    ])
    _run(spark, srcdir, outdir, ckpt)

    got = {
        r.event_id: (r.user_id, r.session_idx)
        for r in spark.read.parquet(outdir).collect()
    }
    assert got == {
        1: (1, 1), 2: (1, 1),          # batch 1, one session
        3: (2, 1),
        4: (1, 1),                     # continuation across batch boundary
        5: (1, 2),                     # 2h gap -> new session
        6: (2, 2),
    }


def test_idle_timeout_evicts_and_restarts(spark, tmp_path):
    """ProcessingTimeTimeout eviction (round-6 stress fix): an idle user's
    state is dropped; on return their session_idx restarts at 1 — state is
    bounded by the active working set, not users-ever-seen."""
    import time as _time

    srcdir = os.path.join(str(tmp_path), "src")
    outdir = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(srcdir)

    def _run_t(timeout_min, n_expected):
        stream = (
            spark.readStream.schema(SRC_SCHEMA)
            .json(srcdir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        q = (
            stream_sessionize(
                stream, gap_minutes=30, idle_timeout_minutes=timeout_min,
                timeout_mode="processing",
            )
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # availableNow + ProcessingTimeTimeout never SELF-terminates: once
        # the data batch commits, the engine loops "no new data but
        # cleaning up state" batches forever (r12 measurement: still
        # active at 200s), so awaitTermination(180) burned its full cap on
        # every run — 540s for this one test. Poll the sink for the
        # committed rows and stop explicitly instead; state and timers
        # persist in the checkpoint exactly as across any stop/restart,
        # which is the restart semantics this test exercises anyway.
        deadline = _time.time() + 120
        while _time.time() < deadline:
            try:
                if spark.read.parquet(outdir).count() >= n_expected:
                    break
            except Exception:
                pass  # sink dir not yet created by the first commit
            _time.sleep(0.2)
        # A timeout eviction can land in a cleanup batch after the one
        # that committed the rows: wait for one more committed batch, so
        # the restart sees the evicted state.
        seen = (q.lastProgress or {}).get("batchId", -1)
        while q.isActive and _time.time() < deadline:
            if (q.lastProgress or {}).get("batchId", -1) > seen:
                break
            _time.sleep(0.2)
        q.stop()
        q.awaitTermination(60)

    _write_batch(srcdir, "b1.json", [(1, 1, "2024-01-01 10:00:00")])
    _run_t(0.02, 1)  # 1.2 s idle timeout
    _time.sleep(3)
    # batch 2: only user 2 — the trigger fires user 1's timeout (evicted)
    _write_batch(srcdir, "b2.json", [(2, 2, "2024-01-01 10:01:00")])
    _run_t(0.02, 2)
    _time.sleep(1)
    # batch 3: user 1 returns 10 minutes later (same session if state had
    # survived) -> restart proves the eviction happened
    _write_batch(srcdir, "b3.json", [(1, 3, "2024-01-01 10:10:00")])
    _run_t(0.02, 3)

    got = {
        r.event_id: (r.user_id, r.session_idx)
        for r in spark.read.parquet(outdir).collect()
    }
    assert got[1] == (1, 1)
    assert got[2] == (2, 1)
    assert got[3] == (1, 1)  # restarted after eviction, NOT session 1 cont'd


def _run_mode(spark, srcdir, outdir, ckpt, **kwargs):
    stream = (
        spark.readStream.schema(SRC_SCHEMA)
        .json(srcdir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        stream_sessionize(stream, **kwargs)
        .writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_event_time_timeout_evicts_by_data_time(spark, tmp_path):
    """EventTimeTimeout (the r7 default): eviction is driven by the
    WATERMARK, i.e. by the data's own clock. User 1 goes idle for 4h of
    EVENT time while other users keep the watermark moving; their state is
    evicted and the return restarts at session_idx 1 — no wall-clock
    sleeps anywhere."""
    srcdir = os.path.join(str(tmp_path), "src")
    outdir = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(srcdir)
    kw = dict(gap_minutes=30, idle_timeout_minutes=60, timeout_mode="event")

    # user 1 reaches session_idx 2 (31-min gap splits under gap=30)
    _write_batch(srcdir, "b1.json", [
        (1, 1, "2024-01-01 08:00:00"),
        (1, 2, "2024-01-01 08:31:00"),
    ])
    _run_mode(spark, srcdir, outdir, ckpt, **kw)
    # user 2 advances event time to 12:00 -> watermark 12:00 after batch
    _write_batch(srcdir, "b2.json", [(2, 3, "2024-01-01 12:00:00")])
    _run_mode(spark, srcdir, outdir, ckpt, **kw)
    # user 3 triggers a batch whose start watermark (12:00) is past user
    # 1's timeout target (08:31 + 60 min = 09:31) -> user 1 evicted
    _write_batch(srcdir, "b3.json", [(3, 4, "2024-01-01 12:30:00")])
    _run_mode(spark, srcdir, outdir, ckpt, **kw)
    # user 1 returns: with surviving state this would be session_idx 3
    # (gap > 30 min); after eviction it restarts at 1
    _write_batch(srcdir, "b4.json", [(1, 5, "2024-01-01 12:40:00")])
    _run_mode(spark, srcdir, outdir, ckpt, **kw)

    got = {
        r.event_id: (r.user_id, r.session_idx)
        for r in spark.read.parquet(outdir).collect()
    }
    assert got[1] == (1, 1) and got[2] == (1, 2)
    assert got[5] == (1, 1)  # evicted by event time -> restart, not idx 3


def test_event_time_replay_identical_to_live_paced(spark, tmp_path):
    """The r6 processing-time default diverged on backfill: a replay at
    full speed never goes wall-clock idle, so sessions idle-split live
    were merged on replay. With the event-time default the replay (no
    sleeps) is identical to the live-paced run (sleeps between batches),
    including across an eviction."""
    import time as _time

    batches = [
        # user 1 reaches session_idx 2 (31 min > gap 30)
        [(1, 1, "2024-01-01 08:00:00"), (1, 2, "2024-01-01 08:31:00")],
        [(2, 3, "2024-01-01 12:00:00")],          # watermark -> 12:00
        [(3, 4, "2024-01-01 12:30:00")],          # fires user 1's timeout
        [(1, 5, "2024-01-01 12:40:00")],          # user 1 returns
    ]
    kw = dict(gap_minutes=30, idle_timeout_minutes=60, timeout_mode="event")

    def drive(tag, sleep_s):
        srcdir = os.path.join(str(tmp_path), f"src_{tag}")
        outdir = os.path.join(str(tmp_path), f"out_{tag}")
        ckpt = os.path.join(str(tmp_path), f"ckpt_{tag}")
        os.makedirs(srcdir)
        for i, rows in enumerate(batches):
            _write_batch(srcdir, f"b{i}.json", rows)
            _run_mode(spark, srcdir, outdir, ckpt, **kw)
            if sleep_s:
                _time.sleep(sleep_s)
        return sorted(
            (r.event_id, r.user_id, r.session_idx)
            for r in spark.read.parquet(outdir).collect()
        )

    live = drive("live", sleep_s=2)
    replay = drive("replay", sleep_s=0)
    assert replay == live
    # and the eviction is real in both: with surviving state the return
    # would open session_idx 3 (gap > 30 min after idx 2); the restart
    # to 1 proves both runs evicted — at the same EVENT-time point
    got = {e: s for e, _u, s in live}
    assert got[2] == 2 and got[5] == 1


def test_no_timeout_keeps_state_across_idle(spark, tmp_path):
    """Control for the eviction test: same timeline WITHOUT a timeout —
    the 10-minute return continues session 1 (state survived)."""
    import time as _time

    srcdir = os.path.join(str(tmp_path), "src")
    outdir = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(srcdir)

    _write_batch(srcdir, "b1.json", [(1, 1, "2024-01-01 10:00:00")])
    _run(spark, srcdir, outdir, ckpt)
    _time.sleep(3)
    _write_batch(srcdir, "b2.json", [(2, 2, "2024-01-01 10:01:00")])
    _run(spark, srcdir, outdir, ckpt)
    _write_batch(srcdir, "b3.json", [(1, 3, "2024-01-01 10:10:00")])
    _run(spark, srcdir, outdir, ckpt)
    got = {
        r.event_id: (r.user_id, r.session_idx)
        for r in spark.read.parquet(outdir).collect()
    }
    assert got[3] == (1, 1)  # same session: within gap, state retained
