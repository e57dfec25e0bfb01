"""Domain-stage tests: metadata-driven SQL materialisation (E3) — mirrors
the reference's tests/test_4_apply_to_domains.py semantics on synthetic
tables (offenders/bookings roles played by customer/orders)."""

import os

import pytest
from pyspark.sql import functions as F

from hmpps_digital_prison_reporting_glue_poc_spark.catalog import Catalog, TableSpec
from hmpps_digital_prison_reporting_glue_poc_spark.catalog import testdata_catalog as make_testdata_catalog
from hmpps_digital_prison_reporting_glue_poc_spark.plans.domains import (
    DomainDefinition,
    active_definitions,
    load_definitions,
    run_definition,
    run_domains,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def defs_df(spark):
    rows = [
        (
            "Active", "SQL", "domain1", "customer,orders", "d1_cust_orders",
            "select customer.c_custkey, customer.c_name || ' ' || customer.c_mktsegment as label, "
            "orders.o_orderkey from customer INNER JOIN orders ON customer.c_custkey = orders.o_custkey",
        ),
        (
            "Active", "SQL", "domain2", "part", "d2_parts",
            "select p_partkey, p_name from part where p_size > 25",
        ),
    ]
    return spark.createDataFrame(
        rows, "Status string, Type string, Domain string, Dependancies string, Target string, Resolution string"
    )


def test_active_tagging_is_columnar(spark, defs_df):
    tagged = active_definitions(defs_df, ["orders"])
    status = {r.Target: r.Status for r in tagged.collect()}
    assert status == {"d1_cust_orders": "ACTIVE", "d2_parts": "INACTIVE"}


def test_active_tagging_no_events(spark, defs_df):
    tagged = active_definitions(defs_df, [])
    assert {r.Status for r in tagged.collect()} == {"INACTIVE"}


def test_load_definitions_parses_dependency_csv(spark, defs_df):
    defs = load_definitions(defs_df)
    assert defs[0].dependencies == ["customer", "orders"]
    assert defs[1].target == "d2_parts"


def test_run_definition_executes_sql_with_process_id(spark):
    definition = DomainDefinition(
        domain="d", target="t", dependencies=["part"],
        resolution="select p_partkey, p_name from part where p_size > 25",
    )
    out = run_definition(spark, definition, make_testdata_catalog(SF), process_id=42)
    assert out.filter(F.col("process_id") != 42).count() == 0
    assert out.count() > 0
    assert set(out.columns) == {"p_partkey", "p_name", "process_id"}


def test_run_domains_end_to_end_with_write(spark, defs_df, tmp_path):
    cat = make_testdata_catalog(SF)
    cat.register(TableSpec(name="d1_cust_orders", path=os.path.join(str(tmp_path), "d1")))
    results = run_domains(
        spark, defs_df, ["customer"], cat, process_id=7, write=True
    )
    assert set(results) == {"d1_cust_orders"}
    written = spark.read.parquet(os.path.join(str(tmp_path), "d1"))
    assert written.count() == results["d1_cust_orders"].count()
    assert written.first().process_id == 7


def test_catalog_roundtrip(tmp_path):
    cat = Catalog()
    cat.register(TableSpec(name="T1", path="/x/t1", pk=["id"], partition_by=["dt"]))
    path = os.path.join(str(tmp_path), "cat.json")
    cat.save(path)
    loaded = Catalog.load(path)
    spec = loaded.get("t1")
    assert spec.pk == ["id"] and spec.partition_by == ["dt"]
    assert "T1" in loaded and "nope" not in loaded


def test_run_domains_quarantines_failing_definition(spark, defs_df):
    """on_error='skip': a broken Resolution SQL is recorded, the healthy
    definitions still produce results; default mode still raises."""
    bad = spark.createDataFrame(
        [("Active", "SQL", "bad_domain", "customer",
          "bad_target", "select no_such_column from customer")],
        defs_df.schema,
    )
    all_defs = defs_df.unionByName(bad)
    cat = make_testdata_catalog(SF)

    failures = {}
    out = run_domains(
        spark, all_defs, ["customer"], cat,
        process_id=7, on_error="skip", failures=failures,
    )
    assert set(failures) == {"bad_target"} and "bad_target" not in out
    assert set(out) == {"d1_cust_orders"}
    assert out["d1_cust_orders"].count() > 0

    with pytest.raises(Exception, match="no_such_column|UNRESOLVED"):
        run_domains(spark, all_defs, ["customer"], cat, process_id=7)


def _defs(spark, schema, rows):
    return spark.createDataFrame(
        [("Active", "SQL", target, deps, target, sql) for target, deps, sql in rows],
        schema,
    )


def test_run_domains_activates_as_active_definitions(spark, defs_df):
    """run_domains filters the parsed definitions in Python with the
    columnar tagging's semantics: trimmed, lower-cased dependencies
    overlapping the touched names."""
    defs = defs_df.unionByName(_defs(spark, defs_df.schema, [
        ("d3_spaced", " Part , ORDERS ", "select 1 as one"),
        ("d4_none", None, "select 1 as one"),
    ]))
    cat = make_testdata_catalog(SF)
    for touched in ([], ["orders"], ["PART"], ["customer", "part"], ["nope"]):
        tagged = active_definitions(defs, touched)
        expected = [r.Target for r in tagged.collect() if r.Status == "ACTIVE"]
        assert list(run_domains(spark, defs, touched, cat, process_id=1)) == expected


def test_run_domains_returns_results_in_definition_order(spark, defs_df):
    rows = [(f"d{i}", "part", f"select {i} as n from part limit 1")
            for i in (5, 1, 4, 2, 3)]
    out = run_domains(spark, _defs(spark, defs_df.schema, rows), ["part"],
                      make_testdata_catalog(SF), process_id=1)
    assert list(out) == ["d5", "d1", "d4", "d2", "d3"]
    assert [r.n for t in out for r in out[t].collect()] == [5, 1, 4, 2, 3]


def test_run_domains_raise_reraises_first_failure_in_definition_order(
    spark, defs_df, tmp_path
):
    """on_error='raise' runs every active definition, then re-raises the
    first failure in definition order; a healthy domain of the same batch
    has been written by then."""
    defs = _defs(spark, defs_df.schema, [
        ("bad_first", "part", "select no_such_first from part"),
        ("good", "part", "select p_partkey from part where p_size > 25"),
        ("bad_second", "part", "select no_such_second from part"),
    ])
    cat = make_testdata_catalog(SF)
    cat.register(TableSpec(name="good", path=os.path.join(str(tmp_path), "good")))
    with pytest.raises(Exception, match="no_such_first"):
        run_domains(spark, defs, ["part"], cat, process_id=3, write=True)
    assert cat.read(spark, "good").first().process_id == 3


def test_run_domains_missing_dependency_is_quarantined(spark, defs_df):
    """Views are registered once before the queries run; a dependency
    that cannot be read fails only the definitions that name it."""
    defs = defs_df.unionByName(_defs(spark, defs_df.schema, [
        ("orphan", "customer,no_such_table", "select 1 as one"),
    ]))
    failures = {}
    out = run_domains(spark, defs, ["customer"], make_testdata_catalog(SF),
                      process_id=1, on_error="skip", failures=failures)
    assert set(out) == {"d1_cust_orders"}
    assert set(failures) == {"orphan"}
    assert isinstance(failures["orphan"], KeyError)


def test_run_domains_shared_and_chained_targets(spark, defs_df, tmp_path):
    """Two active definitions writing one target: the later one's result
    is the table, as when they ran one after the other. A definition over
    another active definition's target reads what that one wrote."""
    cat = make_testdata_catalog(SF)
    for target in ("shared", "base", "over_base"):
        cat.register(TableSpec(name=target, path=os.path.join(str(tmp_path), target)))
    shared = _defs(spark, defs_df.schema, [
        ("shared", "part", "select 1 as n"),
        ("shared", "part", "select 2 as n"),
    ])
    out = run_domains(spark, shared, ["part"], cat, process_id=1, write=True)
    assert [r.n for r in out["shared"].collect()] == [2]
    assert [r.n for r in cat.read(spark, "shared").collect()] == [2]

    chained = _defs(spark, defs_df.schema, [
        ("base", "part", "select count(*) as n from part"),
        ("over_base", "part,base", "select n * 2 as n2 from base"),
    ])
    out = run_domains(spark, chained, ["part"], cat, process_id=1, write=True)
    n = cat.read(spark, "part").count()
    assert [r.n2 for r in cat.read(spark, "over_base").collect()] == [2 * n]
