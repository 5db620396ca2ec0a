"""Sketch-based top-k value counts (`approx_top_k`) and the approximate
mode of expect_column_most_common_value_to_be_in_set.

Exactness contract: while the column's true cardinality fits inside
``max_items_tracked`` the sketch never evicts, so counts — and therefore
modes, ties included — are identical to the exact groupBy path.  These
tests pin that equivalence plus the plan shape (map-side sketch combine,
no per-value shuffle, no Python nodes).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.operators.query_ops import (
    approx_value_counts,
    value_counts,
)
from great_expectations_spark.plans.planner import SuiteValidator


@pytest.fixture(scope="module")
def skewed(spark):
    rows = (
        [("alpha",)] * 9
        + [("beta",)] * 9       # tie for mode
        + [("gamma",)] * 4
        + [("delta",)] * 2
        + [(None,)] * 3
    )
    return spark.createDataFrame(rows, "v string").repartition(4)


def _run(df, **kwargs):
    suite = ExpectationSuite("m").add(
        "expect_column_most_common_value_to_be_in_set", column="v", **kwargs
    )
    r = SuiteValidator().validate(df, suite).results[0]
    if r.exception_info["raised_exception"]:
        raise AssertionError(r.exception_info["exception_message"])
    return r


def test_approx_value_counts_matches_exact(skewed):
    exact = {
        (r["v"], r["count"]) for r in value_counts(skewed, "v").collect()
    }
    approx = {
        (r["v"], r["count"])
        for r in approx_value_counts(skewed, "v", k=10).collect()
    }
    assert approx == exact
    # k truncates to the heaviest values
    top2 = approx_value_counts(skewed, "v", k=2).collect()
    assert {r["v"] for r in top2} == {"alpha", "beta"}


def test_modes_and_ties_match_exact_path(skewed):
    for kwargs in (
        dict(value_set=["alpha"], ties_okay=True),       # tie, in set
        dict(value_set=["alpha"]),                       # tie -> fail
        dict(value_set=["zeta"], ties_okay=True),        # tie, not in set
    ):
        exact = _run(skewed, **kwargs)
        approx = _run(skewed, approximate=True, **kwargs)
        assert approx.success == exact.success, kwargs
        assert (
            approx.result["observed_value"] == exact.result["observed_value"]
        ), kwargs


def test_empty_and_all_null_vacuous_pass(spark):
    nulls = spark.createDataFrame([(None,), (None,)], "v string")
    r = _run(nulls, approximate=True, value_set=["x"])
    assert r.success and r.result["observed_value"] == []


def test_grouped_sketch_matches_per_partition_exact(spark, skewed):
    from great_expectations_spark.checkpoint.runner import (
        validate_by_partition,
    )

    df = skewed.withColumn(
        "part",
        F.when(F.col("v").isin("alpha", "gamma"), "p0").otherwise("p1"),
    )
    suite_ap = ExpectationSuite("m").add(
        "expect_column_most_common_value_to_be_in_set",
        column="v", value_set=["alpha", "beta"], ties_okay=True,
        approximate=True,
    )
    grouped = validate_by_partition(df, suite_ap, "part")
    assert set(grouped) == {"p0", "p1"}
    for part, res in grouped.items():
        exact = _run(
            df.filter(F.col("part") == part),
            value_set=["alpha", "beta"], ties_okay=True,
        )
        got = res.results[0]
        assert got.success == exact.success, part
        assert (
            got.result["observed_value"] == exact.result["observed_value"]
        ), part


def test_grouped_tie_explosion_confined_to_one_partition(spark):
    """A >1000-way mode tie in ONE junk partition must not fail every
    partition: the grouped evaluation maps that partition to the error
    alone, and healthy partitions keep their results."""
    from great_expectations_spark.checkpoint.runner import (
        validate_by_partition,
    )
    from great_expectations_spark.core.suite import ExpectationSuite

    rows = [("junk", f"u{i}") for i in range(1001)]
    rows += [("ok", "alpha")] * 5 + [("ok", "beta")] * 2
    df = spark.createDataFrame(rows, "part string, v string")
    suite = ExpectationSuite("m").add(
        "expect_column_most_common_value_to_be_in_set",
        column="v", value_set=["alpha"], approximate=True,
    )
    out = validate_by_partition(df, suite, "part")
    ok = out["ok"].results[0]
    assert ok.success and ok.result["observed_value"] == ["alpha"]
    junk = out["junk"].results[0]
    assert junk.exception_info["raised_exception"]
    assert "no meaningful mode" in junk.exception_info["exception_message"]


def test_plan_is_sketch_combine_no_value_shuffle(skewed):
    plan = (
        approx_value_counts(skewed, "v", k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # partial sketch per task, merged — not a groupBy-value exchange
    assert "approx_top_k" in plan, plan
    assert "partial_approx_top_k" in plan, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan


def test_k_validation():
    with pytest.raises(ValueError, match="max_items_tracked"):
        from great_expectations_spark.operators.query_ops import (
            _approx_top_k_expr,
        )

        _approx_top_k_expr("v", 10, 5)
