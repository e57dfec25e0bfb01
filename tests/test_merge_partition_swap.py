"""The partitioned parquet merge swaps each touched partition directory in
by rename: directory names must match the ones Spark's writer makes (a
wrong name would leave the old directory beside the new one and duplicate
its rows), and a merge that fails while writing must leave the target as
it was."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hmpps_digital_prison_reporting_glue_poc_spark.sources.io import merge_write


def _rows(spark, path):
    return sorted(
        tuple(r) for r in spark.read.parquet(path).select("pk", "part", "val").collect()
    )


def _files(root):
    return sorted(
        (os.path.relpath(os.path.join(d, f), root), os.path.getmtime(os.path.join(d, f)))
        for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    )


def test_merge_swaps_escaped_partition_values(spark, tmp_path):
    path = str(tmp_path / "tbl")
    schema = "pk long, part string, val string"
    base = spark.createDataFrame(
        [(1, "a/b", "x"), (2, "c=d:e", "y"), (3, "plain", "z")], schema
    )
    merge_write(spark, base, path, pk=["pk"], partition_by=["part"])
    assert sorted(d for d in os.listdir(path) if d.startswith("part=")) == [
        "part=a%2Fb", "part=c%3Dd%3Ae", "part=plain"
    ]
    for val in ("x2", "x3"):  # merged twice: no row may duplicate
        updates = spark.createDataFrame(
            [(1, "a/b", val), (4, "a/b", "new"), (2, "c=d:e", val)], schema
        )
        merge_write(spark, updates, path, pk=["pk"], partition_by=["part"])
    assert _rows(spark, path) == [
        (1, "a/b", "x3"), (2, "c=d:e", "x3"), (3, "plain", "z"), (4, "a/b", "new")
    ]
    assert not os.path.exists(path + ".__merge_tmp__")


def test_failed_merge_leaves_target_unchanged(spark, tmp_path):
    path = str(tmp_path / "tbl")
    schema = "pk long, part int, val string"
    base = spark.createDataFrame([(i, i % 2, f"v{i}") for i in range(6)], schema)
    merge_write(spark, base, path, pk=["pk"], partition_by=["part"])
    rows, files = _rows(spark, path), _files(path)

    failing = spark.createDataFrame([(0, 0, "x"), (1, 1, "y")], schema).withColumn(
        "val", F.raise_error(F.lit("update fails at execution")).cast("string")
    )
    with pytest.raises(Exception, match="update fails at execution"):
        merge_write(spark, failing, path, pk=["pk"], partition_by=["part"])
    assert _rows(spark, path) == rows
    assert _files(path) == files

    # a writer killed mid-write leaves partial output in the temp dir; the
    # next merge must not swap any of it in
    shutil.copytree(os.path.join(path, "part=0"), path + ".__merge_tmp__/part=0")
    updates = spark.createDataFrame([(0, 0, "ok")], schema)
    merge_write(spark, updates, path, pk=["pk"], partition_by=["part"])
    assert not os.path.exists(path + ".__merge_tmp__")
    assert _rows(spark, path) == [(0, 0, "ok")] + rows[1:]
