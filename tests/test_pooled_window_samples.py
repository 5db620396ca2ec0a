"""Fused window counts+samples: the three window-family expectations
sharing one (conv_id, turn_idx) spec must get their violation COUNTS
(observation metrics) and their violation SAMPLES from ONE job — not a
count agg plus a pooled re-scan — with per-member content identical in
kind to the dedicated path, exact per-member caps (no starvation), and
a fallback that never loses counts or rows when the fused machinery is
disabled."""

from __future__ import annotations

import pytest

from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.plans.planner import SuiteValidator


@pytest.fixture(scope="module")
def convs(spark):
    # 3 conversations; planted violations:
    #  - conv "dup": duplicate (conv_id, turn_idx) at idx 2
    #  - conv "gap": turn_idx jumps 1 -> 3 (contiguity violation at 3)
    #  - conv "ts":  ts regression at idx 2
    rows = []
    for cid in ("dup", "gap", "ts"):
        idxs = [0, 1, 2, 3]
        if cid == "gap":
            idxs = [0, 1, 3, 4]
        for i, idx in enumerate(idxs):
            ts = 1000 + 10 * i
            if cid == "ts" and idx == 2:
                ts = 1001  # goes backwards
            rows.append((cid, idx, "user", f"t{cid}{idx}", ts))
    # same ts as its twin so non-strict monotonicity stays clean
    # regardless of tie order within the duplicated turn_idx
    rows.append(("dup", 2, "user", "dupe", 1020))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, ts long"
    )


@pytest.fixture(scope="module")
def window_suite():
    return (
        ExpectationSuite("pooled")
        .add(
            "expect_column_values_to_be_increasing",
            column="ts",
            partition_by="conv_id",
            order_by="turn_idx",
        )
        .add(
            "expect_sequence_to_be_contiguous",
            group_column="conv_id",
            index_column="turn_idx",
        )
        .add(
            "expect_compound_columns_to_be_unique",
            column_list=["conv_id", "turn_idx"],
        )
    )


def _by_type(res):
    return {
        r.expectation_config["expectation_type"]: r for r in res.results
    }


def _spy_fused(monkeypatch, calls):
    orig = SuiteValidator._fused_window_group

    def spy(self, df, members, metrics, rf, prefetched):
        before = set(prefetched)
        ok = orig(self, df, members, metrics, rf, prefetched)
        calls.append(
            {
                "members": len(members),
                "fused": ok,
                "served": len(set(prefetched) - before),
            }
        )
        return ok

    monkeypatch.setattr(SuiteValidator, "_fused_window_group", spy)


def _assert_window_contents(res, list_key="partial_unexpected_list"):
    by = _by_type(res)

    inc = by["expect_column_values_to_be_increasing"]
    assert inc.success is False
    assert inc.result["unexpected_count"] == 1
    assert inc.result[list_key] == [1001]

    seq = by["expect_sequence_to_be_contiguous"]
    assert seq.success is False
    assert seq.result["unexpected_count"] == 1
    assert seq.result[list_key] == [{"conv_id": "gap", "turn_idx": 3}]

    uniq = by["expect_compound_columns_to_be_unique"]
    assert uniq.success is False
    # both rows of the duplicated key are flagged (adopted-count parity)
    assert uniq.result["unexpected_count"] == 2
    assert sorted(
        tuple(sorted(d.items())) for d in uniq.result[list_key]
    ) == [
        (("conv_id", "dup"), ("turn_idx", 2)),
        (("conv_id", "dup"), ("turn_idx", 2)),
    ]


@pytest.mark.parametrize("jc", [1, 8])
def test_fused_job_serves_counts_and_all_samples(
    spark, convs, window_suite, monkeypatch, jc
):
    calls = []
    _spy_fused(monkeypatch, calls)
    res = SuiteValidator(job_concurrency=jc).validate(
        convs, window_suite, result_format="SUMMARY"
    )
    # one group (conv_id, turn_idx); one fused call serving all three
    # violated members' samples alongside their counts
    assert calls == [{"members": 3, "fused": True, "served": 3}]
    _assert_window_contents(res)


def test_fused_carries_index_lineage(spark, convs, window_suite):
    rf = {
        "result_format": "SUMMARY",
        "unexpected_index_column_names": ["conv_id", "turn_idx"],
    }
    res = SuiteValidator(job_concurrency=1).validate(
        convs, window_suite, result_format=rf
    )
    by = _by_type(res)
    inc = by["expect_column_values_to_be_increasing"]
    assert inc.result["partial_unexpected_index_list"] == [
        {"conv_id": "ts", "turn_idx": 2}
    ]


@pytest.mark.parametrize("jc", [1, 8])
def test_fused_failure_falls_back_to_count_agg_and_dedicated_jobs(
    spark, convs, window_suite, monkeypatch, jc
):
    # counts must never depend on the fused path: disable it entirely and
    # the suite must produce identical counts and sample content through
    # the count-only agg + dedicated per-expectation sample jobs
    monkeypatch.setattr(
        SuiteValidator,
        "_fused_window_group",
        lambda self, df, members, metrics, rf, prefetched: False,
    )
    res = SuiteValidator(job_concurrency=jc).validate(
        convs, window_suite, result_format="SUMMARY"
    )
    _assert_window_contents(res)


def test_partial_cap_respected_per_member(spark, convs, window_suite):
    # partial_unexpected_count=1 must cap EVERY member's list at 1 row
    # (the duplicate member has 2 violations) without starving the others
    res = SuiteValidator(job_concurrency=1).validate(
        convs,
        window_suite,
        result_format={
            "result_format": "SUMMARY",
            "partial_unexpected_count": 1,
        },
    )
    by = _by_type(res)
    assert by["expect_column_values_to_be_increasing"].result[
        "partial_unexpected_list"
    ] == [1001]
    assert by["expect_sequence_to_be_contiguous"].result[
        "partial_unexpected_list"
    ] == [{"conv_id": "gap", "turn_idx": 3}]
    uniq = by["expect_compound_columns_to_be_unique"]
    assert uniq.result["unexpected_count"] == 2
    assert len(uniq.result["partial_unexpected_list"]) == 1


def test_complete_format_uses_fused_pool(
    spark, convs, window_suite, monkeypatch
):
    # COMPLETE pools too (the top-k keeps only its Final limit above
    # Spark's windowGroupLimitThreshold): full lists, one fused job
    calls = []
    _spy_fused(monkeypatch, calls)
    res = SuiteValidator(job_concurrency=1).validate(
        convs, window_suite, result_format="COMPLETE"
    )
    assert calls == [{"members": 3, "fused": True, "served": 3}]
    _assert_window_contents(res, list_key="unexpected_list")


@pytest.fixture(scope="module")
def spread(spark):
    # 40 conversations of 6 turns over 4 input partitions; a ts regression
    # at turn 3 of every 4th conversation (10 violations) and one
    # contiguity gap (conversation c01 lacks turn 2)
    rows = []
    for c in range(40):
        cid = f"c{c:02d}"
        for t in range(6):
            if c == 1 and t == 2:
                continue
            ts = c * 100 + t * 10
            if c % 4 == 0 and t == 3:
                ts -= 15
            rows.append((cid, t, ts))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts long"
    ).repartition(4)


def test_cap_is_exact_and_deterministic_across_partitions(spark, spread):
    suite = (
        ExpectationSuite("spread")
        .add(
            "expect_column_values_to_be_increasing",
            column="ts",
            partition_by="conv_id",
            order_by="turn_idx",
        )
        .add(
            "expect_sequence_to_be_contiguous",
            group_column="conv_id",
            index_column="turn_idx",
        )
    )
    cap = 3
    rf = {"result_format": "SUMMARY", "partial_unexpected_count": cap}
    assert spread.rdd.getNumPartitions() >= 4
    before = spark.conf.get("spark.sql.shuffle.partitions")
    seen = []
    try:
        for parts in ("1", "4"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for jc in (1, 8):
                by = _by_type(
                    SuiteValidator(job_concurrency=jc).validate(
                        spread, suite, result_format=rf
                    )
                )
                inc = by["expect_column_values_to_be_increasing"].result
                seq = by["expect_sequence_to_be_contiguous"].result
                assert inc["unexpected_count"] == 10
                assert seq["unexpected_count"] == 1
                for r in (inc, seq):
                    assert len(r["partial_unexpected_list"]) == min(
                        cap, r["unexpected_count"]
                    )
                seen.append(
                    (
                        inc["partial_unexpected_list"],
                        seq["partial_unexpected_list"],
                    )
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert all(s == seen[0] for s in seen), seen
    # the sample is the k smallest violating rows by the sample columns
    assert seen[0] == (
        [c * 100 + 15 for c in (0, 4, 8)],
        [{"conv_id": "c01", "turn_idx": 3}],
    )
