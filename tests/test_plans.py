"""Physical-plan guarantees: the properties BENCH_NOTES claims must stay
true — column pruning reaches the parquet scan, the bundled agg shuffles
one partial row per partition (no row shuffle), filters push down, and the
sample phase pushes limits."""

import re

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.plans.planner import SuiteValidator


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")


def _phase_a_plan(df, suite) -> str:
    """Reconstruct the phase-A bundled agg and return its formatted plan."""
    v = SuiteValidator()
    items = v._compile(suite, {}, True)
    exprs = []
    from great_expectations_spark.core.domain import domain_gate
    from great_expectations_spark.plans.specs import CompiledAggregate, CompiledMap

    i = 0
    for item in items:
        c = item.compiled
        if isinstance(c, CompiledMap):
            gate = domain_gate(item.domain) if item.domain is not None else F.lit(True)
            considered = gate & domain_gate(c.considered)
            exprs.append(
                F.sum(
                    F.when(considered & domain_gate(c.unexpected), 1).otherwise(0)
                ).alias(f"m{i}")
            )
            i += 1
        elif isinstance(c, CompiledAggregate):
            for key, col in c.agg_exprs.items():
                exprs.append(col.alias(f"m{i}"))
                i += 1
    plan_df = df.agg(*exprs)
    return plan_df._sc._jvm.PythonSQLUtils.explainString(
        plan_df._jdf.queryExecution(), "formatted"
    )


def test_bundled_agg_prunes_columns(lineitem):
    suite = (
        ExpectationSuite("p")
        .add("expect_column_values_to_not_be_null", column="l_orderkey")
        .add(
            "expect_column_values_to_be_between",
            column="l_quantity", min_value=0, max_value=60,
        )
        .add("expect_column_mean_to_be_between", column="l_discount",
             min_value=0)
    )
    plan = _phase_a_plan(lineitem, suite)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # only the three referenced columns reach the scan (16 in the file)
    assert read_cols == {"l_orderkey", "l_quantity", "l_discount"}, read_cols
    # the only exchange is the single-partition partial-agg merge — no
    # hash row shuffle anywhere in phase A
    assert "SinglePartition" in plan
    assert "hashpartitioning" not in plan.lower(), plan
    assert "HashAggregate" in plan


def test_bundled_agg_no_collect_set_phase_a(lineitem):
    suite = ExpectationSuite("p").add(
        "expect_column_distinct_values_to_be_in_set",
        column="l_returnflag", value_set=["A", "N", "R"],
    )
    plan = _phase_a_plan(lineitem, suite)
    assert "collect_set" not in plan.lower()


def test_sample_phase_pushes_limit(lineitem):
    # the violation-sample collect must carry a CollectLimit/limit, not a
    # full materialization
    suite = ExpectationSuite("p").add(
        "expect_column_values_to_be_between",
        column="l_quantity", min_value=0, max_value=10,
    )
    v = SuiteValidator()
    res = v.validate(lineitem, suite, result_format="SUMMARY")
    r = res.results[0]
    assert not r.success
    # SUMMARY partial list capped at 20 despite thousands of violations
    assert len(r.result["partial_unexpected_list"]) == 20
    assert r.result["unexpected_count"] > 1000


def test_job_concurrency_one_runs_jobs_on_one_thread(lineitem, monkeypatch):
    # job_concurrency=1 serializes the pass: every collect (map sample,
    # window count and sample, aggregate followup) runs on one thread
    import threading

    cls = type(lineitem)
    collect = cls.collect
    threads = []

    def spy(self):
        threads.append(threading.current_thread().name)
        return collect(self)

    monkeypatch.setattr(cls, "collect", spy)
    suite = (
        ExpectationSuite("p")
        .add("expect_column_values_to_be_between",
             column="l_quantity", min_value=0, max_value=5)
        .add("expect_column_values_to_be_unique", column="l_partkey")
        .add("expect_column_distinct_values_to_be_in_set",
             column="l_returnflag", value_set=["A", "N", "R"])
    )
    res = SuiteValidator(job_concurrency=1).validate(lineitem, suite, "SUMMARY")
    between, unique, _ = res.results
    assert between.result["partial_unexpected_list"]
    assert unique.result["partial_unexpected_list"]
    assert len(threads) >= 4
    assert len(set(threads)) == 1, threads


def test_row_condition_pushes_to_scan(spark, lineitem):
    # a row_condition over a scan column becomes a pushed filter when the
    # engine evaluates a domain-scoped aggregate
    scoped = lineitem.filter(F.expr("l_returnflag = 'A'")).agg(
        F.sum(F.when(F.col("l_quantity") > 10, 1).otherwise(0))
    )
    plan = scoped._sc._jvm.PythonSQLUtils.explainString(
        scoped._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,A)]" in plan
