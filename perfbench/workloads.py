"""The workloads: set-up, a closed timed loop, output checks, metrics.

Every workload runs one caller in one Python process: each operation
starts when the previous one has finished. Operations are change batches
(cdc_trickle, cdc_stream) and queries (query_sample). Set-up warms the
path the operations run (cdc_trickle: two change batches; cdc_stream:
the initial load, a micro-batch of its own; query_sample: one pass
collecting every result), then the loop times a fixed number of whole
rounds; everything between operations that is not the program's work
(file arrival, a JVM collection, status-store reads) is off the clock.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import gen
import model
import spans

HERE = os.path.dirname(os.path.abspath(__file__))

# FIXTURES.md section 5: the two join domains over the curated tables.
DOMAINS = {
    "domain1_off_book": (
        "select offenders.offender_id, "
        "offenders.first_name||' '||offenders.last_name as offender_name, "
        "offender_bookings.in_out_status, offender_bookings.booking_begin_date, "
        "offender_bookings.booking_end_date "
        "from offenders INNER JOIN offender_bookings "
        "ON offenders.offender_id = offender_bookings.offender_id"
    ),
    "domain2_book_off": (
        "select offender_bookings.offender_book_id, "
        "offenders.first_name||' '||offenders.last_name as offender_name, "
        "offender_bookings.in_out_status "
        "from offender_bookings INNER JOIN offenders "
        "ON offender_bookings.offender_id = offenders.offender_id"
    ),
}
PROCESS_ID = 20220907

# query_sample: build-bound graph/round loops, executor-bound operators,
# single-job scan/join/aggregate queries, and the CDC merge and domain
# SQL entries of the registry.
JOB_BOUND = [
    "lpa_token_communities", "entity_resolution_parts",
    "hodges_lehmann_qty_shift", "q21_waiting_suppliers", "neardup_keep_best",
]
EXECUTOR_BOUND = [
    "simhash_near_dups", "rank_dependence_qty_price", "partial_corr_lineitem",
    "percentiles_by_flag", "user_health_mart",
]
SINGLE_JOB = [
    "q1_pricing_summary", "q3_shipping_priority", "q9_profit_by_nation_year",
    "q18_large_orders",
]
REGISTRY_CDC = ["cdc_merge_real", "domain_sql_runner"]
QUERY_SAMPLE = JOB_BOUND + EXECUTOR_BOUND + SINGLE_JOB + REGISTRY_CDC

# A round is four change batches (cdc_trickle), two change files
# (cdc_stream) or one pass of the query sample. cdc_trickle's batches vary
# most from one to the next, so its round holds more of them. The timed
# region runs a fixed number of whole rounds, sized from --seconds and the
# round's length on the reference host (README), never from the measured
# speed: a faster program times the same operations, not more of them.
TRICKLE_BATCHES_PER_ROUND = 4
TRICKLE_WARMUP_BATCHES = 2
STREAM_FILES_PER_ROUND = 2
NOMINAL_ROUND_S = {"cdc_trickle": 11.0, "cdc_stream": 8.0, "query_sample": 12.0}
MAX_ROUNDS = 2
# The change files cover cdc_trickle's warm-up batches and the timed rounds
# of an untraced run (at most MAX_ROUNDS) or of a traced one (4).
assert gen.N_BATCHES >= TRICKLE_WARMUP_BATCHES + TRICKLE_BATCHES_PER_ROUND * max(MAX_ROUNDS, 4)
TABLE_NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


class CheckFailed(Exception):
    """An output differs from its independent computation."""


@dataclass
class Op:
    kind: str
    seconds: float
    events: int = 0      # CDC events the operation applied
    in_bytes: int = 0    # raw JSON bytes it was given
    changed: int = 0     # distinct (table, key) pairs it touched
    window: tuple[float, float] | None = None  # span-clock start, end (micro-batches)


@dataclass
class Region:
    """The untraced or the traced rounds of the timed region, with the
    Spark jobs and written files of those rounds."""

    rounds: list[float] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)
    files: int = 0
    io: dict[str, float] = field(default_factory=dict)


class Bench:
    """Shared state of one benchmark process."""

    def __init__(self, spark, work: str, seed: int, seconds: float, traced: bool,
                 cores: int, session_start_s: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.cores = cores
        self.store = spans.StatusStore(spark)
        self.tracer = spans.Tracer(spark, enabled=False)
        self.setup: dict[str, float] = {"session.start_s": session_start_s}
        self.phases: dict[str, float] = {}
        self.attempted = 0
        self.untraced = Region()
        self.traced_region = Region()

    @contextmanager
    def timed(self, name: str, setup: bool = True):
        """Adds the block's wall time to ``setup`` (part of setup_s) or,
        with ``setup=False``, to ``phases`` (reported on stderr only)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            into = self.setup if setup else self.phases
            into[name] = into.get(name, 0.0) + time.perf_counter() - t0

    def generate(self, kind: str) -> str:
        out = os.path.join(self.work, f"input-{kind}")
        with self.timed("gen_s"):
            subprocess.run(
                [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(self.seed),
                 "--out", out, "--kind", kind],
                check=True,
            )
        return out

    def settle(self) -> None:
        """Full JVM collection before an operation, off the clock, so one
        operation's garbage is not collected on the next one's time."""
        self.spark.sparkContext._jvm.System.gc()

    def run_round(self, round_fn, region: Region) -> None:
        """One whole round; ``round_fn()`` returns the operations it ran.
        The status-store reads around it are off the clock."""
        self.store.drain()
        first_job = self.store.last_job_id()
        first_execution = self.store.last_execution_id()
        ops = round_fn()
        self.store.drain()
        last_job = self.store.last_job_id()
        region.ops.extend(ops)
        region.rounds.append(sum(op.seconds for op in ops))
        region.jobs.extend(j for j in self.store.jobs(first_job) if j["jobId"] <= last_job)
        region.files += self.store.written_files(first_execution,
                                                 self.store.last_execution_id())
        self.attempted += len(ops)

    def measure(self, workload: str, round_fn) -> Region:
        """The timed region: a fixed number of whole rounds on a JVM the
        caller has already warmed. The untraced rounds give the end-to-end figures. A traced run instead
        runs two untraced and two traced rounds in the order U T T U, so a
        warm-up trend that is still linear weighs on both alike; the
        traced rounds give the spans."""
        n_rounds = min(MAX_ROUNDS, max(1, round(self.seconds / NOMINAL_ROUND_S[workload])))
        order = [False, True, True, False] if self.traced else [False] * n_rounds
        if self.traced:
            self.install_spans()
        for traced in order:
            self.tracer.enabled = traced
            try:
                self.run_round(round_fn, self.traced_region if traced else self.untraced)
            finally:
                self.tracer.enabled = False
        for region in (self.untraced, self.traced_region):
            stage_ids = {s for j in region.jobs for s in j["stageIds"]}
            region.io = spans.stage_totals(self.store.stages(stage_ids))
        return self.untraced

    def install_spans(self) -> None:
        """Wrap the module attributes the pipeline looks up at call time."""
        from hmpps_digital_prison_reporting_glue_poc_spark.plans import pipeline
        from hmpps_digital_prison_reporting_glue_poc_spark.sources import io

        self.tracer.wrap(pipeline, "run_landing", "pipeline.landing")
        self.tracer.wrap(pipeline, "run_structured", "pipeline.structured")
        self.tracer.wrap(pipeline, "run_curated", "pipeline.curated")
        self.tracer.wrap(pipeline, "run_domains", "domains.run")
        self.tracer.wrap(io, "merge_write", "io.merge_write")


# -- shared CDC wiring -----------------------------------------------------

def payload_schema():
    """before/after struct: the union of both tables' UPPERCASE fields,
    ids as JSON integers and every other field as a string."""
    from pyspark.sql import types as T

    fields: dict[str, object] = {}
    for columns, _ in gen.TABLES.values():
        for kind, names in columns.items():
            for name in names:
                fields.setdefault(name.upper(), T.LongType() if kind == "int" else T.StringType())
    return T.StructType([T.StructField(n, t) for n, t in fields.items()])


def write_empty_target(qualified: str, path: str) -> None:
    """An empty target table (FIXTURES.md sections 3/4 plus the lineage
    columns) laid out as one partition directory, so the partition column
    reads back as int."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"int": pa.int32(), "date": pa.date32(),
             "timestamp": pa.timestamp("us", tz="UTC"), "string": pa.string()}
    columns, _ = gen.TABLES[qualified]
    fields = [pa.field(n, types[k]) for k, names in columns.items() for n in names
              if n != gen.PARTITION_COLUMN]
    fields += [pa.field("admin_hash", pa.string()), pa.field("admin_gg_pos", pa.string()),
               pa.field("admin_gg_op_ts", types["timestamp"]),
               pa.field("admin_event_ts", types["timestamp"])]
    part = os.path.join(path, f"{gen.PARTITION_COLUMN}=0")
    os.makedirs(part)
    pq.write_table(pa.schema(fields).empty_table(), os.path.join(part, "part-0.parquet"))


class CdcWiring:
    """Catalog + PipelineConfig over one base directory. Structured tables
    are ``<name>_structured``; curated tables carry the source table names
    (``offenders``, ``offender_bookings``), so the section 5 domain SQL runs
    on them verbatim. Every target is declared partitioned by the stable
    ``root_offender_id``."""

    def __init__(self, bench: Bench, base: str, raw_path: str, quarantine: bool):
        from hmpps_digital_prison_reporting_glue_poc_spark.catalog import Catalog, TableSpec
        from hmpps_digital_prison_reporting_glue_poc_spark.plans.pipeline import PipelineConfig

        cat = Catalog()
        cat.register(TableSpec("gg_event_log", os.path.join(base, "event_log"),
                               partition_by=["part_date"]))
        tables = {}
        for qualified, (_, pk) in gen.TABLES.items():
            name = model.table_name(qualified)
            structured = os.path.join(base, f"{name}_structured")
            cat.register(TableSpec(f"{name}_structured", structured, pk=[pk],
                                   partition_by=[gen.PARTITION_COLUMN]))
            cat.register(TableSpec(name, os.path.join(base, name), pk=[pk],
                                   partition_by=[gen.PARTITION_COLUMN]))
            tables[name] = (f"{name}_structured", name)
            write_empty_target(qualified, structured)
        for target in DOMAINS:
            cat.register(TableSpec(target, os.path.join(base, target)))
        self.catalog = cat
        self.cfg = PipelineConfig(
            raw_path=raw_path, event_log_table="gg_event_log", row_schema=payload_schema(),
            tables=tables, quarantine=quarantine,
        )
        self.defs = bench.spark.createDataFrame(
            [("Active", "SQL", t.split("_")[0], "offenders,offender_bookings", t, sql)
             for t, sql in DOMAINS.items()],
            "Status string, Type string, Domain string, Dependancies string, "
            "Target string, Resolution string",
        )

    @property
    def quarantine_path(self) -> str:
        return self.catalog.get("gg_event_log").path + "_quarantine"


def check_cdc(bench: Bench, wiring: CdcWiring, expected: model.Model,
              malformed: list[str]) -> None:
    """Structured and curated state against the model; quarantine against
    the malformed lines; each domain table against DuckDB."""
    spark, cat = bench.spark, wiring.catalog
    want = expected.checksums()
    for qualified in gen.TABLES:
        name = model.table_name(qualified)
        for table in (f"{name}_structured", name):
            got = model.spark_checksum(cat.read(spark, table), qualified)
            if got != want[name]:
                raise CheckFailed(f"{table}: (rows, crc32 sum) {got} != model {want[name]}")
    got_lines = []
    if os.path.exists(wiring.quarantine_path):
        got_lines = [r[0] for r in spark.read.parquet(wiring.quarantine_path).collect()]
    if sorted(got_lines) != sorted(malformed):
        raise CheckFailed(f"quarantine holds {len(got_lines)} lines, expected {len(malformed)}")
    check_domains(bench, wiring)


def check_domains(bench: Bench, wiring: CdcWiring) -> None:
    import duckdb

    normalise = oracle_normaliser()
    con = duckdb.connect()
    try:
        for qualified in gen.TABLES:
            name = model.table_name(qualified)
            path = wiring.catalog.get(name).path
            con.sql(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                f"'{path}/**/*.parquet', hive_partitioning = true)"
            )
        for target, sql in DOMAINS.items():
            want = normalise(con.sql(
                f"SELECT *, CAST({PROCESS_ID} AS BIGINT) AS process_id FROM ({sql})"
            ).df())
            got = normalise(wiring.catalog.read(bench.spark, target).toPandas())
            if got != want:
                raise CheckFailed(f"{target}: differs from DuckDB over the curated tables")
    finally:
        con.close()


def oracle_normaliser():
    """The oracle-parity suite's canonical form: lower-cased sorted column
    names, rows as sorted tuples of dtype-sensitive canonical strings."""
    tests = os.path.join(os.path.dirname(HERE), "tests")
    sys.path.insert(0, tests)
    try:
        from test_oracle_parity import _normalise
    finally:
        sys.path.remove(tests)
    return _normalise


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def clock(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def cdc_inputs(bench: Bench) -> tuple[list[str], list[str]]:
    """(initial-load trail files, change batch files), in order."""
    inputs = bench.generate("cdc")

    def listing(sub: str) -> list[str]:
        return sorted(os.path.join(inputs, sub, f) for f in os.listdir(os.path.join(inputs, sub)))

    return listing("initial"), listing("changes")


class ChangeFeed:
    """The change batches in order, with the model kept in step."""

    def __init__(self, paths: list[str], expected: model.Model):
        self.paths = list(paths)
        self.expected = expected

    def take(self, n: int) -> list[tuple[str, model.Batch, int]]:
        """The next n batches as (path, parsed batch, distinct keys)."""
        out = []
        for path in self.paths[:n]:
            batch = model.read_batch([path])
            out.append((path, batch, self.expected.apply_last_writer_wins(batch)))
        del self.paths[:n]
        return out


def cdc_metrics(region: Region) -> dict[str, float]:
    times = [op.seconds for op in region.ops]
    wall = sum(region.rounds)
    return {
        "run_s": wall / len(region.rounds),
        "events_per_s": sum(op.events for op in region.ops) / wall,
        "batch_p50_s": statistics.median(times),
        "query_geomean_s": geomean(times),
        "written_mb": region.io["outputBytes"] / 2**20 / len(region.ops),
        "files_written": region.files / len(region.ops),
    }


# -- cdc_trickle ---------------------------------------------------------------

def cdc_trickle(bench: Bench) -> dict[str, float]:
    """Initial load (hash chain on, quarantine on) in set-up, then change
    batches, each its own batch ``run_pipeline`` call (last-writer-wins)."""
    from hmpps_digital_prison_reporting_glue_poc_spark.plans import pipeline

    initial, changes = cdc_inputs(bench)
    wiring = CdcWiring(bench, os.path.join(bench.work, "trickle"),
                       os.path.dirname(initial[0]), quarantine=True)
    cfg, expected = wiring.cfg, model.Model()

    def call() -> float:
        seconds, _ = clock(pipeline.run_pipeline, bench.spark, cfg, wiring.catalog,
                           defs_df=wiring.defs, process_id=PROCESS_ID)
        return seconds

    first = model.read_batch(initial)
    with bench.timed("initial_load_s"):
        cfg.validate_hash_chain = True
        call()
        cfg.validate_hash_chain = False
    expected.apply_hash_chain(first)
    feed = ChangeFeed(changes, expected)

    def apply(n: int) -> list[Op]:
        ops = []
        for path, batch, changed in feed.take(n):
            cfg.raw_path = path
            bench.settle()
            with bench.tracer.span("op:change_batch"):
                seconds = call()
            ops.append(Op("change_batch", seconds, len(batch.events), batch.n_bytes, changed))
        return ops

    # The initial load warms the JVM, not the change-batch code path.
    with bench.timed("warmup_s"):
        apply(TRICKLE_WARMUP_BATCHES)
    region = bench.measure("cdc_trickle", lambda: apply(TRICKLE_BATCHES_PER_ROUND))
    with bench.timed("check_s", setup=False):
        check_cdc(bench, wiring, expected, first.malformed)
    return cdc_metrics(region)


# -- cdc_stream ----------------------------------------------------------------

def cdc_stream(bench: Bench) -> dict[str, float]:
    """The same initial load and change files through
    ``run_pipeline_streaming``: set-up drains the initial trail files in one
    micro-batch (the streaming path has no quarantine, so the malformed
    trail file stays out), then each timed call resumes from the checkpoint
    and drains the newly arrived change files, one file per micro-batch."""
    from hmpps_digital_prison_reporting_glue_poc_spark.plans import pipeline

    initial, changes = cdc_inputs(bench)
    initial = [p for p in initial if not p.endswith("corrupt.json")]
    base = os.path.join(bench.work, "stream")
    raw = os.path.join(base, "raw")
    os.makedirs(raw)
    checkpoint = os.path.join(base, "checkpoint")
    wiring = CdcWiring(bench, base, raw, quarantine=False)
    # The file source takes new files in modification-time order.
    mtime = [time.time() - 10 * (len(initial) + len(changes))]

    def arrive(path: str) -> None:
        dest = os.path.join(raw, os.path.basename(path))
        shutil.copyfile(path, dest)
        os.utime(dest, (mtime[0], mtime[0]))
        mtime[0] += 10

    boundaries: list[float] = []

    def drain(files_per_batch: int) -> int:
        boundaries.clear()
        return pipeline.run_pipeline_streaming(
            bench.spark, wiring.cfg, wiring.catalog, checkpoint_dir=checkpoint,
            defs_df=wiring.defs, process_id=PROCESS_ID,
            max_files_per_trigger=files_per_batch,
            on_batch=lambda batch_id: boundaries.append(time.time()),
        )

    for path in initial:
        arrive(path)
    with bench.timed("initial_load_s"):
        drain(len(initial))
    expected = model.Model()
    expected.apply_last_writer_wins(model.read_batch(initial))
    feed = ChangeFeed(changes, expected)

    def round_fn() -> list[Op]:
        batches = feed.take(STREAM_FILES_PER_ROUND)
        for path, _, _ in batches:
            arrive(path)
        bench.settle()
        with bench.tracer.span("op:stream_call"):
            t0 = time.time()  # the clock of spans and Spark's job times
            n = drain(1)
        if n != len(batches):
            raise RuntimeError(f"{n} micro-batches for {len(batches)} new files")
        starts = [t0] + boundaries[:-1]
        return [Op("micro_batch", end - start, len(b.events), b.n_bytes, changed, (start, end))
                for start, end, (_, b, changed) in zip(starts, boundaries, batches)]

    # No warm-up round: the initial load already ran the micro-batch apply
    # path (merge_write, domains), and after a warm-up round the files each
    # micro-batch writes, as the partitions grow, spread 0.09 between seeds.
    region = bench.measure("cdc_stream", round_fn)
    with bench.timed("check_s", setup=False):
        check_cdc(bench, wiring, expected, [])
    return cdc_metrics(region)


# -- query_sample ------------------------------------------------------------

def check_queries(data: str, results: dict, oracles: dict[str, str]) -> None:
    """Each sample query's result against its DuckDB oracle twin."""
    import duckdb

    normalise = oracle_normaliser()
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for name in QUERY_SAMPLE:
            if normalise(results[name]) != normalise(con.sql(oracles[name]).df()):
                raise CheckFailed(f"{name}: differs from its DuckDB oracle")
    finally:
        con.close()


def query_sample(bench: Bench) -> dict[str, float]:
    """The sample on generated tables: one pass collecting every result
    (the warm-up, and the results the oracle check reads), then timed
    passes forcing each query through the noop sink."""
    import __spark_entry__ as registry

    data = bench.generate("tables")
    queries = registry.queries()
    spark = bench.spark
    results = {}
    with bench.timed("warmup_s"):
        for name in QUERY_SAMPLE:
            results[name] = queries[name](spark, data).toPandas()

    def round_fn() -> list[Op]:
        ops = []
        for name in QUERY_SAMPLE:
            bench.settle()
            with bench.tracer.span(f"op:query:{name}"):
                with bench.tracer.span("query.build"):
                    build, df = clock(queries[name], spark, data)
                with bench.tracer.span("query.execute"):
                    execute, _ = clock(df.write.format("noop").mode("overwrite").save)
            ops.append(Op(name, build + execute))
        return ops

    region = bench.measure("query_sample", round_fn)
    with bench.timed("check_s", setup=False):
        check_queries(data, results, registry.oracle_sql())

    io = region.io
    per_query: dict[str, list[float]] = {}
    for op in region.ops:
        per_query.setdefault(op.kind, []).append(op.seconds)
    wall = sum(region.rounds)
    passes = len(region.rounds)
    return {
        "run_s": wall / passes,
        "events_per_s": io["inputRecords"] / wall,
        "batch_p50_s": statistics.median(op.seconds for op in region.ops),
        "query_geomean_s": geomean([statistics.median(v) for v in per_query.values()]),
        "written_mb": io["outputBytes"] / 2**20 / passes,
        "files_written": region.files / passes,
    }


WORKLOADS = {
    "cdc_trickle": cdc_trickle,
    "cdc_stream": cdc_stream,
    "query_sample": query_sample,
}
