"""Data-quality constraint checker (operators/checks.py).  Driver-gate
parity lives in __spark_entry__ (dq_checks, seven constraints over
lineitem with two organically-failing ones); these tests pin the
per-kind semantics, NULL discipline, and the one-aggregate plan."""

import pytest
import pyspark.sql.functions as F

from go_parsesyslog_spark.operators.checks import check_constraints


def _df(spark):
    return spark.createDataFrame(
        [
            (1, "a", 5.0, "{}"),
            (2, "b", 50.0, "{x}"),
            (2, "zzz", None, "oops"),   # dup id, bad domain, NULL value
            (None, "a", -1.0, "{}"),    # NULL id, below range
        ],
        "id long, cat string, v double, props string",
    )


def _run(spark, constraints, **kw):
    rows = check_constraints(_df(spark), constraints, **kw).collect()
    return {r["constraint"]: (r["violations"], r["n_rows"], r["passed"])
            for r in rows}


def test_not_null_and_unique(spark):
    out = _run(spark, [
        {"name": "id_nn", "kind": "not_null", "col": "id"},
        {"name": "id_uq", "kind": "unique", "col": "id"},
    ])
    assert out["id_nn"] == (1, 4, False)
    # SQL UNIQUE semantics: the NULL-keyed row is NOT a duplicate; the
    # two id=2 rows contribute exactly one violation
    assert out["id_uq"] == (1, 4, False)


def test_domain_kinds_null_is_violation(spark):
    out = _run(spark, [
        {"name": "cat_set", "kind": "in_set", "col": "cat",
         "values": ["a", "b"]},
        {"name": "v_range", "kind": "in_range", "col": "v",
         "lo": 0, "hi": 100},
        {"name": "props_json", "kind": "matches", "col": "props",
         "regex": r"^\{.*\}$"},
    ])
    assert out["cat_set"] == (1, 4, False)        # 'zzz'
    assert out["v_range"] == (2, 4, False)        # NULL and -1
    assert out["props_json"] == (1, 4, False)     # 'oops'


def test_allow_null_relaxes_domain(spark):
    out = _run(spark, [
        {"name": "v_range", "kind": "in_range", "col": "v",
         "lo": 0, "hi": 100, "allow_null": True},
    ])
    assert out["v_range"] == (1, 4, False)        # only -1


def test_predicate_and_passing_constraint(spark):
    out = _run(spark, [
        {"name": "id_pos", "kind": "predicate",
         "expr": "id IS NULL OR id > 0"},
        {"name": "cat_nn", "kind": "not_null", "col": "cat"},
    ])
    assert out["id_pos"] == (0, 4, True)
    assert out["cat_nn"] == (0, 4, True)


def test_ref_integrity_broadcast_anti(spark):
    ref = spark.createDataFrame([(1,), (2,)], "k long")
    out = check_constraints(
        _df(spark),
        [{"name": "fk", "kind": "ref_integrity", "col": "id",
          "ref": "dim", "ref_col": "k"}],
        reference={"dim": ref},
    )
    rows = {r["constraint"]: r["violations"] for r in out.collect()}
    assert rows["fk"] == 0  # NULL ids are skipped, 1/2/2 all present
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_ref_integrity_missing_reference_raises(spark):
    with pytest.raises(ValueError, match="needs reference"):
        check_constraints(
            _df(spark),
            [{"name": "fk", "kind": "ref_integrity", "col": "id",
              "ref": "dim", "ref_col": "k"}],
        )


def test_unknown_kind_raises(spark):
    with pytest.raises(ValueError, match="unknown constraint kind"):
        check_constraints(
            _df(spark), [{"name": "x", "kind": "between", "col": "id"}]
        ).collect()


def test_row_local_constraints_are_one_aggregate(spark):
    """The 100 TB claim: N row-local constraints + a uniqueness = ONE
    scan and ONE aggregate pair, not N jobs."""
    plan = check_constraints(_df(spark), [
        {"name": "a", "kind": "not_null", "col": "id"},
        {"name": "b", "kind": "in_range", "col": "v", "lo": 0, "hi": 9},
        {"name": "c", "kind": "matches", "col": "cat", "regex": "^a"},
    ])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1, plan


def test_profile_table_metrics(spark):
    from go_parsesyslog_spark.operators.checks import profile_table

    df = spark.createDataFrame(
        [(1, "ab"), (2, None), (2, "c")], "id long, s string"
    )
    out = {r["column"]: (r["n_null"], r["n_distinct"], r["sum_len"])
           for r in profile_table(df, ["id", "s"]).collect()}
    assert out["id"] == (0, 2, 0)       # non-string -> sum_len 0
    assert out["s"] == (1, 2, 3)        # 'ab' + 'c'


def test_profile_table_single_scan(spark):
    from go_parsesyslog_spark.operators.checks import profile_table

    df = spark.createDataFrame([(1, "a", 2.0)],
                               "id long, s string, v double")
    plan = profile_table(df, ["id", "s", "v"])\
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1, plan
    # multi-distinct is planned with one Expand, not one job per column
    assert "Expand" in plan, plan


def test_unique_ignores_null_keys(spark):
    from go_parsesyslog_spark.operators.checks import check_constraints

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c"), (None, "d"), (2, None)],
        "k long, s string",
    )
    out = {r["constraint"]: (r["violations"], r["passed"])
           for r in check_constraints(df, [
               {"name": "k_uq", "kind": "unique", "col": "k"},
               {"name": "ks_uq", "kind": "unique", "cols": ["k", "s"]},
           ]).collect()}
    # k: [1, 2, 2] non-null -> one dup; the two NULLs never clash
    assert out["k_uq"] == (1, False)
    # (k,s): any-NULL component excluded -> [(1,a),(2,b)] all unique
    assert out["ks_uq"] == (0, True)


def test_allow_null_on_colless_predicate_raises(spark):
    import pytest as _pytest

    from go_parsesyslog_spark.operators.checks import check_constraints

    with _pytest.raises(ValueError, match="requires a 'col'"):
        check_constraints(
            _df(spark),
            [{"name": "p", "kind": "predicate", "expr": "id > 0",
              "allow_null": True}],
        )


def test_multiple_ref_constraints_share_total(spark):
    from go_parsesyslog_spark.operators.checks import check_constraints

    # VALUES inputs scan as LocalTableScan, so any RDD scan in the plan
    # would be a checkpoint
    df = spark.sql(
        "SELECT * FROM VALUES (1L, 10L), (2L, 20L), (3L, 99L) AS t(a, b)")
    dim_a = spark.sql("SELECT * FROM VALUES (1L), (2L) AS t(k)")
    dim_b = spark.sql("SELECT * FROM VALUES (10L), (20L) AS t(k)")
    checked = check_constraints(df, [
        {"name": "fk_a", "kind": "ref_integrity", "col": "a",
         "ref": "da", "ref_col": "k"},
        {"name": "fk_b", "kind": "ref_integrity", "col": "b",
         "ref": "db", "ref_col": "k"},
    ], reference={"da": dim_a, "db": dim_b})
    out = {r["constraint"]: (r["violations"], r["n_rows"])
           for r in checked.collect()}
    assert out["fk_a"] == (1, 3)   # a=3 orphaned
    assert out["fk_b"] == (1, 3)   # b=99 orphaned
    # the shared total is computed once by exchange reuse, not cut out
    # of the lineage by a checkpoint
    plan = checked._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ExistingRDD" not in final and "LogicalRDD" not in final
    assert final.count("output=[n_rows") == 1, final
    assert final.count("ReusedExchange [n_rows") == 1, final
