"""Guards that keep driver/executor memory bounded on high-cardinality
inputs, and the reference-parity fix for categorical KL holdout scaling."""

import math

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.operators import aggregates, distribution
from great_expectations_spark.plans.planner import SuiteValidator


def _one_result(df, etype, **kwargs):
    suite = ExpectationSuite("g").add(etype, **kwargs)
    res = SuiteValidator().validate(df, suite, result_format="BASIC")
    return res.results[0]


def test_distinct_set_phase_a_has_no_collect_set(spark):
    # the bundled (phase-A) agg must carry only the fixed-width distinct
    # COUNT; the value set is deferred to the cap-gated followup job
    compiled = aggregates._distinct_in_set(
        {"column": "c", "value_set": ["a"]}
    )
    for key, col in compiled.agg_exprs.items():
        assert "collect_set" not in str(col).lower(), key
    assert compiled.followup is not None


def test_distinct_set_cap_fails_fast(spark, monkeypatch):
    monkeypatch.setattr(aggregates, "DISTINCT_COLLECT_CAP", 5)
    df = spark.range(100).select(F.col("id").alias("c"))
    r = _one_result(
        df, "expect_column_distinct_values_to_be_in_set",
        value_set=list(range(100)), column="c",
    )
    assert r.exception_info["raised_exception"]
    assert "exceeds the collect cap" in r.exception_info["exception_message"]


def test_distinct_set_under_cap_still_correct(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("a",)], "c string"
    )
    r = _one_result(
        df, "expect_column_distinct_values_to_be_in_set",
        value_set=["a", "b", "x"], column="c",
    )
    assert r.success
    assert r.result["observed_value"] == ["a", "b"]


def test_categorical_chi2_cardinality_cap(spark, monkeypatch):
    monkeypatch.setattr(distribution, "CATEGORICAL_COLLECT_CAP", 5)
    df = spark.range(100).select(
        F.col("id").cast("string").alias("c"),
        (F.col("id") < 50).alias("is_base"),
    )
    r = _one_result(
        df, "expect_column_two_sample_chisquare_p_to_be_greater_than",
        column="c", baseline_condition="is_base",
    )
    assert r.exception_info["raised_exception"]
    assert "categorical cap" in r.exception_info["exception_message"]


def test_cramers_phi_cardinality_cap(spark, monkeypatch):
    monkeypatch.setattr(distribution, "CATEGORICAL_COLLECT_CAP", 5)
    df = spark.range(100).select(
        F.col("id").cast("string").alias("a"),
        (F.col("id") % 3).cast("string").alias("b"),
    )
    r = _one_result(
        df, "expect_column_pair_cramers_phi_value_to_be_less_than",
        column_A="a", column_B="b", threshold=0.9,
    )
    assert r.exception_info["raised_exception"]
    assert "categorical cap" in r.exception_info["exception_message"]


def test_kl_categorical_tail_holdout_scales_all_known_weights(spark):
    # pk = [0.5, 0.3, 0.2] over (a, b, c); expected knows only a, b.
    # Reference algebra: qk = [0.6*0.9, 0.4*0.9, 0.1] with holdout 0.1 —
    # EVERY known weight scaled by (1 - holdout), including any weight
    # smaller than the holdout itself.
    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2
    df = spark.createDataFrame(rows, "c string")
    partition = {"values": ["a", "b"], "weights": [0.6, 0.4]}
    r = _one_result(
        df, "expect_column_kl_divergence_to_be_less_than",
        column="c", partition_object=partition, threshold=5.0,
        tail_weight_holdout=0.1,
    )
    expected_kl = (
        0.5 * math.log(0.5 / 0.54)
        + 0.3 * math.log(0.3 / 0.36)
        + 0.2 * math.log(0.2 / 0.1)
    )
    assert r.result["observed_value"] == pytest.approx(expected_kl)


def test_kl_categorical_small_known_weight_is_scaled(spark):
    # regression for the membership-vs-magnitude bug: a known expected
    # weight BELOW the holdout must still be scaled by (1 - holdout)
    rows = [("a",)] * 9 + [("b",)] * 1 + [("x",)] * 10
    df = spark.createDataFrame(rows, "c string")
    partition = {"values": ["a", "b"], "weights": [0.95, 0.05]}
    holdout = 0.2
    r = _one_result(
        df, "expect_column_kl_divergence_to_be_less_than",
        column="c", partition_object=partition, threshold=10.0,
        tail_weight_holdout=holdout,
    )
    qk = [0.95 * 0.8, 0.05 * 0.8, 0.2]
    pk = [0.45, 0.05, 0.5]
    expected_kl = sum(p * math.log(p / q) for p, q in zip(pk, qk))
    assert r.result["observed_value"] == pytest.approx(expected_kl)


def test_categorical_partition_object_cap(spark, monkeypatch):
    from great_expectations_spark.operators.distribution import (
        build_categorical_partition_object,
    )

    monkeypatch.setattr(distribution, "CATEGORICAL_COLLECT_CAP", 5)
    df = spark.range(100).select(F.col("id").cast("string").alias("c"))
    with pytest.raises(ValueError, match="categorical cap"):
        build_categorical_partition_object(df, "c", None)


def test_most_common_mode_tie_cap(spark):
    # an all-distinct column has every value tied for mode — must fail
    # with a clear error, not ship the column to the driver
    df = spark.range(5000).select(F.col("id").cast("string").alias("c"))
    r = _one_result(
        df, "expect_column_most_common_value_to_be_in_set",
        column="c", value_set=["0"],
    )
    assert r.exception_info["raised_exception"]
    assert "tie for most-common" in r.exception_info["exception_message"]


def test_choose_simhash_blocks_low_hamming_keeps_cheap_config():
    from great_expectations_spark.functions.dedup import choose_simhash_blocks

    # H=3: single-block keys are 16 bits — the old default stays optimal
    assert choose_simhash_blocks(3) == 4


@pytest.mark.parametrize("h", [6, 8, 10])
def test_choose_simhash_blocks_high_hamming_never_subsixteen_silently(h):
    import warnings

    from great_expectations_spark.functions.dedup import choose_simhash_blocks

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        n = choose_simhash_blocks(h)
    width = (n - h) * 64.0 / n
    # either the key is >= 16 bits, or the user was warned explicitly
    assert width >= 16.0 or any(
        "simhash banding" in str(w.message) for w in caught
    )
    # and the config is never the quadratic n_blocks = H + 1 single-block
    # default when that key is under 16 bits
    if (1 * 64.0 / (h + 1)) < 16.0:
        assert n > h + 1


def test_choose_simhash_blocks_corpus_hint_scales_blocks():
    from great_expectations_spark.functions.dedup import choose_simhash_blocks

    # 10^9 docs at H=3 needs a wider key than the 16-bit default
    small = choose_simhash_blocks(3, expected_corpus_size=10_000)
    big = choose_simhash_blocks(3, expected_corpus_size=1_000_000_000)
    assert big > small
    width = (big - 3) * 64.0 / big
    assert math.comb(big, 3) * 1e9 / 2 ** (width + 1) <= 64.0


def test_choose_simhash_blocks_refuses_impossible_scale():
    from great_expectations_spark.functions.dedup import choose_simhash_blocks

    with pytest.raises(ValueError, match="sub-quadratic"):
        choose_simhash_blocks(10, expected_corpus_size=1_000_000_000)


def test_simhash_pairs_identical_across_block_configs(spark):
    from great_expectations_spark.functions.dedup import (
        simhash_candidate_pairs,
    )

    rows = [
        ("a1", "the quick brown fox jumps over the lazy dog near the barn"),
        ("a2", "the quick brown fox jumps over the lazy dog near the barn"),
        ("b1", "completely different text about spark shuffle partitions"),
        ("b2", "completely different text about spark shuffle partition"),
        ("c1", "unrelated third document mentioning databases and indexes"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    base = {
        tuple(r)
        for r in simhash_candidate_pairs(
            df, "doc_id", max_hamming=8, n_blocks=9
        ).select("id_a", "id_b").collect()
    }
    wide = {
        tuple(r)
        for r in simhash_candidate_pairs(
            df, "doc_id", max_hamming=8, n_blocks=11
        ).select("id_a", "id_b").collect()
    }
    # pigeonhole recall guarantee: pair set identical across configs
    assert base == wide
    assert ("a1", "a2") in base


def test_batch_values_cap(spark):
    from great_expectations_spark.sources.fluent import Datasource

    ds = Datasource("d", spark)
    wide = spark.range(100).select(F.col("id").cast("string").alias("c"))
    asset = ds.add_dataframe_asset("wide", wide)
    with pytest.raises(ValueError, match="distinct values"):
        asset.batch_values("c", cap=50)
    # identifier-like column returns the sorted values
    vals = asset.batch_values("c", cap=200)
    assert len(vals) == 100
    assert vals == sorted(vals, key=str)


def test_ngram_jaccard_denominator_uses_filtered_universe(spark):
    from great_expectations_spark.functions.dedup import ngram_jaccard_pairs

    # "w1 w2 w3" appears in every doc -> its shingle is hot at cap=2.
    # Docs a/b share everything else; with the OLD pre-filter sizes the
    # hot shingle stayed in the denominator and jaccard < 1.0.
    rows = [
        ("a", "w1 w2 w3 alpha beta gamma delta"),
        ("b", "w1 w2 w3 alpha beta gamma delta"),
        ("c", "w1 w2 w3 zeta eta theta iota"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", k=3, threshold=0.9, max_doc_frequency=2
        ).collect()
    }
    assert out[("a", "b")] == pytest.approx(1.0)


# --- skew-immune contiguity (strategy="join") ------------------------------


def _gap_count(df, strategy):
    r = _one_result(
        df,
        "expect_sequence_to_be_contiguous",
        group_column="g",
        index_column="i",
        first_index=1,
        strategy=strategy,
    )
    return r.result["unexpected_count"]


def test_contiguity_join_matches_window_strategy(spark):
    # gaps, duplicate indexes, a group starting above first_index, and a
    # NULL group (one real group, window-path semantics) must count the
    # same under both physical strategies
    rows = (
        [("a", i) for i in (1, 2, 3)]          # contiguous
        + [("b", i) for i in (1, 3, 3, 5)]     # gaps at 3 and 5; dup 3
        + [("c", i) for i in (4, 5)]           # starts late: gap at 4
        + [(None, i) for i in (1, 2, 4)]       # null group: gap at 4
        + [("d", None)]                        # null index: not considered
    )
    df = spark.createDataFrame(rows, "g string, i int")
    expected = 4  # b:3, b:5, c:4, null:4
    assert _gap_count(df, "window") == expected
    assert _gap_count(df, "join") == expected


def test_contiguity_join_plan_has_no_per_group_window(spark):
    # the join strategy must not contain a Window operator (no
    # whole-group sort on one task) nor any join — it is ONE two-phase
    # hash aggregation on the (group, index) pair
    from great_expectations_spark.operators.window_ops import (
        _sequence_contiguous_join,
    )

    df = spark.createDataFrame([("a", 1), ("a", 3)], "g string, i int")
    cw = _sequence_contiguous_join("g", "i", 1)
    plan = (
        cw.violations(df, None)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "Join" not in plan
    # two-phase: a partial aggregate below the pair-key exchange
    assert "partial_max" in plan or "HashAggregate" in plan
    assert plan.count("Exchange") == 1


def test_contiguity_join_hot_group(spark):
    # one conversation with 20k turns among 200 small ones: the join
    # strategy finds the single planted gap and both strategies agree
    hot = spark.range(1, 20_001).select(
        F.lit("hot").alias("g"), F.col("id").cast("int").alias("i")
    ).filter(F.col("i") != 777)  # planted gap -> i=778 flags
    small = spark.range(200).select(
        F.concat(F.lit("c"), F.col("id")).alias("g"), F.lit(1).alias("i")
    )
    df = hot.unionByName(small).repartition(8)
    assert _gap_count(df, "join") == 1
    assert _gap_count(df, "window") == 1


def test_contiguity_join_not_adopted_as_uniqueness(spark):
    # regression: with BOTH strategies in one suite, the planner's
    # shared-window adoption must not rewrite the join-strategy
    # contiguity (flag_builder-less, domain cols == window spec) into a
    # uniqueness duplicate flag — counts must agree
    rows = [("a", 1), ("a", 3), ("a", 3), ("b", 2)]
    df = spark.createDataFrame(rows, "g string, i int")
    suite = (
        ExpectationSuite("both")
        .add(
            "expect_sequence_to_be_contiguous",
            group_column="g", index_column="i",
            first_index=1, strategy="join",
        )
        .add(
            "expect_sequence_to_be_contiguous",
            group_column="g", index_column="i", first_index=1,
        )
        .add("expect_compound_columns_to_be_unique", column_list=["g", "i"])
    )
    res = SuiteValidator().validate(df, suite, result_format="BASIC")
    by_kwargs = {}
    for r in res.results:
        k = r.expectation_config["kwargs"].get(
            "strategy",
            "unique"
            if r.expectation_config["expectation_type"].endswith("unique")
            else "window",
        )
        by_kwargs[k] = r.result["unexpected_count"]
    assert by_kwargs["join"] == 2   # a:3 (gap), b:2 (gap)
    assert by_kwargs["window"] == 2
    assert by_kwargs["unique"] == 2  # the two (a,3) duplicate rows
