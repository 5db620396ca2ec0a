"""Every job expectation (and the distinct-set followup family) gives the
same result on every path: ``validate_by_partition``, the results
``run_checkpoint`` stores, and ``validate`` of each partition's slice —
success, the whole result dict (samples and ``details`` included) and
whether it raised.  The table has a NULL partition and a partition that
the expectations' ``row_condition`` filters to empty."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.checkpoint.runner import (
    run_checkpoint,
    validate_by_partition,
)
from great_expectations_spark.checkpoint.sketches import PartitionSketchStore
from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.plans.planner import SuiteValidator

DAYS = ["a", "b", None, "e"]
KEEP = {"row_condition": "keep", "condition_parser": "spark"}
CONT = {"bins": [0.0, 5.0, 10.0, 20.0], "weights": [0.5, 0.3, 0.2]}
CAT = {"values": ["u", "v", "w"], "weights": [0.5, 0.3, 0.2]}
WORDS = "the cat sat on the mat and the cat sat on the hat"


@pytest.fixture(scope="module")
def table(spark):
    rows = []
    for d, day in enumerate(DAYS):
        for i in range(24 if day != "e" else 3):
            x = float((i * 7 + d * 3) % 19) + (0.5 if i % 5 == 0 else 0.0)
            rows.append(
                (
                    day,
                    day != "e",
                    None if i % 11 == 3 else x,
                    ["w", "u", "zz", "v", "b", "u"][(i + d) % 6],
                    ["p", "q"][(i * d) % 2],
                    f"k{(i + d) % 9}",
                    " ".join(WORDS.split()[(i % 4) :][: 6 + d]),
                    i,
                )
            )
    df = spark.createDataFrame(
        rows,
        "day string, keep boolean, x double, cat string, pair string, "
        "key string, text string, i int",
    ).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("history"))
    old = spark.createDataFrame(
        [("h", float(v % 17)) for v in range(60)], "part string, x double"
    )
    PartitionSketchStore(
        path, histogram_edges={"x": [0.0, 4.0, 8.0, 12.0, 19.0]}
    ).update(old, "part", ["x"], kinds=("histogram",))
    return path


def _cases(spark, history):
    # other tables by name: a DataFrame kwarg does not serialize into
    # the stored results
    spark.createDataFrame(
        [(f"k{i}",) for i in (0, 2, 3, 5, 7)], "key string"
    ).createOrReplaceTempView("gx_cross_dim")
    spark.range(24).createOrReplaceTempView("gx_cross_other")
    drift = {"baseline_condition": "i < 12", **KEEP}
    return {
        "kl_continuous": (
            "expect_column_kl_divergence_to_be_less_than",
            dict(column="x", partition_object=CONT, threshold=0.3, **KEEP),
        ),
        "kl_categorical": (
            "expect_column_kl_divergence_to_be_less_than",
            dict(column="cat", partition_object=CAT, threshold=0.3, **KEEP),
        ),
        "chisquare_gof": (
            "expect_column_chisquare_test_p_value_to_be_greater_than",
            dict(column="cat", partition_object=CAT, p=0.05, **KEEP),
        ),
        "bootstrapped_ks": (
            "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than",
            dict(column="x", partition_object=CONT, p=0.05, **KEEP),
        ),
        "two_sample_ks": (
            "expect_column_two_sample_ks_to_be_less_than",
            dict(column="x", threshold=0.2, bins=[0, 4, 8, 12, 20], **drift),
        ),
        "two_sample_psi": (
            "expect_column_two_sample_psi_to_be_less_than",
            dict(column="x", threshold=0.1, bins=[0, 4, 8, 12, 20], **drift),
        ),
        "two_sample_chisquare": (
            "expect_column_two_sample_chisquare_p_to_be_greater_than",
            dict(column="cat", p=0.5, **drift),
        ),
        "cramers_phi": (
            "expect_column_pair_cramers_phi_value_to_be_less_than",
            dict(column_A="cat", column_B="pair", threshold=0.2, **KEEP),
        ),
        "parameterized_ks_auto": (
            "expect_column_parameterized_distribution_ks_test_p_value_to_be_"
            "greater_than",
            dict(
                column="x", distribution="uniform",
                params={"min": 0.0, "max": 20.0}, p=0.5, **KEEP,
            ),
        ),
        "parameterized_ks_exact": (
            "expect_column_parameterized_distribution_ks_test_p_value_to_be_"
            "greater_than",
            dict(
                column="x", distribution="norm",
                params={"mean": 9.0, "std_dev": 5.0}, p=0.5,
                method="exact", **KEEP,
            ),
        ),
        "most_common_exact": (
            "expect_column_most_common_value_to_be_in_set",
            dict(column="cat", value_set=["u"], **KEEP),
        ),
        "most_common_approx": (
            "expect_column_most_common_value_to_be_in_set",
            dict(column="cat", value_set=["u"], approximate=True, **KEEP),
        ),
        "z_scores": (
            "expect_column_value_z_scores_to_be_less_than",
            dict(column="x", threshold=1.2, mostly=0.9, **KEEP),
        ),
        "query_row_count": (
            "expect_query_row_count_to_be_between",
            dict(
                query="SELECT cat FROM {batch} WHERE keep GROUP BY cat",
                min_value=0, max_value=4,
            ),
        ),
        "query_no_rows": (
            "expect_query_results_to_return_no_rows",
            dict(
                query="SELECT i, cat FROM {batch} WHERE x > 15 ORDER BY i",
                max_unexpected_rows=1,
            ),
        ),
        "query_value": (
            "expect_query_value_to_be_between",
            dict(query="SELECT AVG(x) FROM {batch}", min_value=9.0,
                 max_value=10.0),
        ),
        "queried_frequency": (
            "expect_queried_column_value_frequency_to_meet_threshold",
            dict(column="cat", value="u", threshold=0.3),
        ),
        "exists_in_other_table": (
            "expect_column_values_to_exist_in_other_table",
            dict(
                column="key", other_table="gx_cross_dim", other_column="key",
                mostly=0.5, **KEEP,
            ),
        ),
        "sketched_history": (
            "expect_column_distribution_to_match_sketched_history",
            dict(column="x", store_dir=history, max_psi=0.3, **KEEP),
        ),
        "substring_duplication": (
            "expect_corpus_substring_duplication_to_be_less_than",
            dict(column="text", n=3, threshold=0.9, **KEEP),
        ),
        "row_count_equal_other_table": (
            "expect_table_row_count_to_equal_other_table",
            dict(other_table="gx_cross_other"),
        ),
        "distinct_values_in_set": (
            "expect_column_distinct_values_to_be_in_set",
            dict(column="cat", value_set=["u", "v", "w", "b"], **KEEP),
        ),
    }


CASES = [
    "kl_continuous", "kl_categorical", "chisquare_gof", "bootstrapped_ks",
    "two_sample_ks", "two_sample_psi", "two_sample_chisquare",
    "cramers_phi", "parameterized_ks_auto", "parameterized_ks_exact",
    "most_common_exact", "most_common_approx", "z_scores",
    "query_row_count", "query_no_rows", "query_value", "queried_frequency",
    "exists_in_other_table", "sketched_history", "substring_duplication",
    "row_count_equal_other_table", "distinct_values_in_set",
]


def _comparable(result: dict) -> tuple:
    return (
        result["success"],
        result["result"],
        result["exception_info"]["raised_exception"],
    )


@pytest.mark.parametrize("case", CASES)
def test_job_expectation_same_result_on_every_path(
    spark, table, history, tmp_path, case
):
    expectation_type, kwargs = _cases(spark, history)[case]
    suite = ExpectationSuite(case).add(expectation_type, **kwargs)
    grouped = validate_by_partition(table, suite, "day")
    summary = run_checkpoint(table, suite, "day", str(tmp_path / "ckpt"))
    stored = {}
    for entry in summary["entries"]:
        with open(entry["result_path"]) as f:
            stored[entry["partition_id"]] = json.load(f)["results"][0]
    assert sorted(grouped) == sorted(stored) == sorted(map(str, DAYS))
    v = SuiteValidator()
    for day in DAYS:
        part = table.filter(F.col("day").eqNullSafe(day))
        basic, summ = (
            json.loads(v.validate(part, suite, fmt).to_json())["results"][0]
            for fmt in ("BASIC", "SUMMARY")
        )
        got = json.loads(grouped[str(day)].to_json())["results"][0]
        assert _comparable(got) == _comparable(basic), (case, day)
        assert _comparable(stored[str(day)]) == _comparable(summ), (case, day)
