"""Readers and sinks (SURVEY.md §2.1 S1-S10).

Spark-first replacements for the reference's Glue DynamicFrame plumbing:

- S1 JSON event-log scan   (reference src/gg_logs_to_parquet.py:70-103,245-247)
- S3 parquet scan          (reference src/apply_change_log_to_delta.py:200-215)
- S5 CSV scan with header  (reference src/apply_to_domains.py:181-197)
- S6 partitioned parquet sink (reference src/gg_logs_to_parquet.py:126-143)
- S7/S8 table sink + merge (reference src/apply_change_log_to_delta.py:231-245,
  src/apply_to_domains.py:213-228) — the reference full-overwrites Delta per
  batch (its own README flags the latency, reference README.md:56); here the
  sink is incremental: Delta MERGE when delta-spark is importable, else a
  partition-scoped merge that writes each touched partition once and
  swaps it in by directory rename.

Schema-first reads: the CDC JSON is read with an explicit schema (no
inference pass over 100 TB of JSON), which also pins before/after struct
field order — the Murmur3 struct hash (P2) depends on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

try:  # delta-spark is optional in this environment
    from delta.tables import DeltaTable  # type: ignore

    HAS_DELTA = True
except Exception:  # pragma: no cover - environment without delta
    # delta-spark is not installed in this container and package installs
    # are disallowed, so the MERGE INTO branch below cannot execute here;
    # the logical anti-join+union merge is its tested stand-in and the
    # Delta branch is the path that runs on a real cluster.
    DeltaTable = None
    HAS_DELTA = False


def cdc_envelope_schema(row_schema: T.StructType) -> T.StructType:
    """GoldenGate trail-file envelope (FIXTURES.md §1; reference
    dev/_dummy_records_offenders.py:24-33): ``before``/``after`` carry the
    full source row, ``tokens`` is an opaque string map dropped on ingest."""
    return T.StructType(
        [
            T.StructField("table", T.StringType()),
            T.StructField("op_type", T.StringType()),
            T.StructField("op_ts", T.StringType()),
            T.StructField("current_ts", T.StringType()),
            T.StructField("pos", T.StringType()),
            T.StructField("tokens", T.MapType(T.StringType(), T.StringType())),
            T.StructField("before", row_schema),
            T.StructField("after", row_schema),
        ]
    )


def cdc_json_reader(reader, row_schema: T.StructType, quarantine: bool = False):
    """Give a ``spark.read`` or ``spark.readStream`` reader the CDC envelope
    schema; ``quarantine=True`` adds a ``_corrupt_record`` column (PERMISSIVE
    mode): malformed lines land there with every schema field null, instead
    of silently becoming all-null rows — use ``split_corrupt`` to fork the
    frame into clean/quarantine frames. At 100 TB a poison line must not
    kill the batch, and must not vanish either."""
    schema = cdc_envelope_schema(row_schema)
    if not quarantine:
        return reader.schema(schema)
    schema = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    return (
        reader.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )


def read_cdc_json(
    spark: SparkSession, path: str, row_schema: T.StructType,
    quarantine: bool = False,
) -> DataFrame:
    """S1: schema-first JSON read of raw CDC events (``cdc_json_reader``)."""
    return cdc_json_reader(spark.read, row_schema, quarantine).json(path)


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fork a quarantine-enabled CDC read into (clean, corrupt)."""
    from pyspark.sql import functions as F

    # Caching is required by Spark for referencing _corrupt_record in a
    # filter (see SPARK-21610); the frame is one batch of raw events, and
    # ``df.unpersist()`` releases it (run_pipeline does, per batch).
    cached = df.cache()
    clean = cached.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    corrupt = cached.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return clean, corrupt


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.option("header", "true").csv(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "csv":
        return read_csv(spark, path)
    return spark.read.format(fmt).load(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_by: list[str], mode: str = "append"
) -> None:
    """S6: event-log sink. Append-only (an event log is immutable);
    partitioned for read-side pruning."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite",
                partition_by: list[str] | None = None) -> None:
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def merge_write(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    pk: list[str],
    delete_col: str | None = None,
    partition_by: list[str] | None = None,
    partitions: list | None = None,
    schema: T.StructType | None = None,
) -> None:
    """S7 rebuilt: incremental upsert sink.

    With delta-spark present: a true ``MERGE INTO`` — runtime scales with
    |updates| + |touched files|, not |target|.

    Parquet fallback, ``partition_by`` given (the scale path): the merge is
    PARTITION-SCOPED — only the partitions the updates touch are read, and
    each is replaced by renaming its merged copy into place
    (``_merge_write_partitioned``). Untouched partition files are never
    read, rewritten, or moved. Runtime scales with |updates| + |touched
    partitions|, not |target| (BASELINE.md's bar).

    Parquet fallback without ``partition_by``: read target, anti-join out
    updated keys, union the new images, full rewrite via a non-destructive
    temp-dir swap — reference-equivalent behavior, correct but
    write-amplified; give the sink a partition column at any real scale.

    ``delete_col``: boolean column on ``updates`` marking rows whose key
    should be removed rather than upserted. The partition columns must be
    stable per key (a row never migrates partitions between versions) —
    same invariant a Delta/Hudi partitioned upsert requires.

    ``partitions``: the partition values the updates touch, when the
    caller already has them — each a ``Row`` (or dict) from partition
    column name to the value cast to string; other fields are ignored.
    The pipeline observes them on the job that computes its net change.
    ``None`` collects them from ``updates`` (a distinct: two small jobs).

    ``schema``: the target's schema, when the caller knows it (the
    catalog's published schema). The unpartitioned fallback then reads
    the target with it and runs no schema-inference job; ``None`` infers
    it from the files. The partitioned fallback reads the touched
    partitions with the updates' schema either way.
    """
    if HAS_DELTA and DeltaTable is not None and DeltaTable.isDeltaTable(spark, path):
        cond = " AND ".join(f"t.{k} = u.{k}" for k in pk)
        builder = DeltaTable.forPath(spark, path).alias("t").merge(
            updates.alias("u"), cond
        )
        if delete_col:
            builder = builder.whenMatchedDelete(condition=f"u.{delete_col}")
            builder = builder.whenMatchedUpdateAll(condition=f"NOT u.{delete_col}")
            builder = builder.whenNotMatchedInsertAll(condition=f"NOT u.{delete_col}")
        else:
            builder = builder.whenMatchedUpdateAll().whenNotMatchedInsertAll()
        builder.execute()
        return

    # Parquet fallback: logical merge via anti-join + union.
    # Existence probe via the JVM filesystem API (works for any Hadoop
    # scheme, and avoids a logged executor error from a failed read).
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if delete_col is not None:
        live = updates.filter(~updates[delete_col]).drop(delete_col)
    else:
        live = updates

    if partition_by:
        _merge_write_partitioned(
            spark, updates, live, path, pk, partition_by, fs, partitions
        )
        return
    exists = fs.exists(jpath)
    if exists:
        reader = spark.read if schema is None else spark.read.schema(schema)
        target = reader.parquet(path)
        untouched = target.join(updates.select(*pk).distinct(), on=pk, how="left_anti")
        # Schema evolution (reference S8: Delta mergeSchema on domain
        # writes, src/apply_to_domains.py:223-224): new columns on either
        # side surface as nulls on the other.
        result = untouched.unionByName(live, allowMissingColumns=True)
    else:
        result = live
    # Non-destructive swap: materialize the merged result to a sibling temp
    # dir FIRST (reading the old data while writing the new), then swap it
    # into place. A failure mid-write leaves the existing target untouched;
    # a failure between delete and rename leaves the complete merged copy
    # in the temp dir for recovery — never a half-overwritten table.
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".__merge_tmp__")
    if fs.exists(tmp):
        fs.delete(tmp, True)
    result.write.mode("overwrite").parquet(tmp.toString())
    if exists:
        fs.delete(jpath, True)
    fs.rename(tmp, jpath)


def _merge_write_partitioned(
    spark: SparkSession,
    updates: DataFrame,
    live: DataFrame,
    path: str,
    pk: list[str],
    partition_by: list[str],
    fs,
    partitions: list | None = None,
) -> None:
    """Partition-scoped parquet merge (the fallback's scale path).

    1. The touched partition values: ``partitions`` when the caller
       passes them (``run_structured`` observes them on its net's
       checkpoint job), else a distinct collect of the updates' partition
       columns — metadata-scale either way (one row per touched
       partition, the same budget as a Delta commit's file listing).
       Each is named as Spark's writer names partition directories
       (``ExternalCatalogUtils.getPartitionPathString`` over the value
       cast to string, so ``/``, ``:``, ``=`` escape and NULL is
       ``__HIVE_DEFAULT_PARTITION__``).
    2. Only the touched directories that exist are read, with the updates'
       schema (no schema-inference job, no whole-table listing; a column
       only the target's files carry is not read back).
    3. Anti-join out updated keys within that slice, union the live
       images, and write the merged slice ONCE to a sibling temp dir,
       clustered by the partition columns (a few files per partition).
    4. Per touched partition: move the old directory aside, rename the
       new one in; a partition with no surviving rows is simply not
       renamed back. The old directories are deleted after every
       partition is swapped.

    A failure before step 4 leaves the target untouched; the stale temp
    dir is cleared by the next merge's write. A crash between a
    partition's two renames leaves its old directory under
    ``<temp>/_old``, which that write also clears: recover it first.
    Untouched partitions are never read, rewritten, or moved (pytest pins
    byte-identical files).
    """
    from pyspark.sql import functions as F

    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    catalog_utils = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    if partitions is None:
        partitions = updates.select(
            *[F.col(c).cast("string").alias(c) for c in partition_by]
        ).distinct().collect()
    touched = sorted({
        "/".join(
            catalog_utils.getPartitionPathString(c, row[c])
            for c in partition_by
        )
        for row in partitions
    })
    if not touched:
        return
    root = path.rstrip("/")
    existing = {rel for rel in touched if fs.exists(Path(f"{root}/{rel}"))}
    result = live
    if existing:
        target_slice = (
            spark.read.schema(live.schema).option("basePath", root)
            .parquet(*[f"{root}/{rel}" for rel in sorted(existing)])
        )
        result = target_slice.join(
            updates.select(*pk), on=pk, how="left_anti"
        ).unionByName(live)

    tmp = root + ".__merge_tmp__"
    (
        result.hint("rebalance", *partition_by)
        .write.mode("overwrite")
        .partitionBy(*partition_by)
        .parquet(tmp)
    )
    for rel in touched:
        target, new = Path(f"{root}/{rel}"), Path(f"{tmp}/{rel}")
        if rel in existing:
            _move(fs, target, Path(f"{tmp}/_old/{rel}"))
        if fs.exists(new):
            _move(fs, new, target)
    fs.delete(Path(tmp), True)


def _move(fs, src, dst) -> None:
    """Rename ``src`` to ``dst``, creating ``dst``'s parent; Hadoop's
    rename reports failure by returning False, so raise on it."""
    fs.mkdirs(dst.getParent())
    if not fs.rename(src, dst):
        raise OSError(f"rename {src.toString()} -> {dst.toString()} failed")


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC scan (built-in vectorized reader — same pushdown/pruning
    contract as parquet; the other columnar lake format a reporting
    estate commonly holds). Pass ``schema`` when the directory may hold
    ZERO data files (an empty partitioned write leaves only _SUCCESS and
    schema inference raises UNABLE_TO_INFER_SCHEMA; r9 fuzz sweep)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Multimodal ingest: Spark's ``binaryFile`` source — one row per
    file with (path, modificationTime, length, content BINARY). This is
    the production loading path for image/audio/video directories; the
    content column feeds directly into the Arrow-batched kernels in
    ``operators/multimodal.py`` (rename to ``media_id``/``content`` via
    :func:`binary_dir_as_media`). Partition-parallel: each file is a
    split, no driver-side listing beyond the index."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def binary_dir_as_media(files: DataFrame) -> DataFrame:
    """Adapt a ``binaryFile`` frame to the MEDIA_SCHEMA contract the
    multimodal operators consume: a stable integer media_id (xxhash64 of
    the file path — content-independent so re-ingests keep ids), the
    payload, and the filename extension as the media_type hint."""
    from pyspark.sql import functions as F

    return files.select(
        F.xxhash64(F.col("path")).alias("media_id"),
        F.col("content"),
        F.lower(
            F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1)
        ).alias("media_type"),
    )
