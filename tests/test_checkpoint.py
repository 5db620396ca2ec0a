"""Checkpoint runner + manifest resume + single-pass grouped validation."""

from __future__ import annotations

import json

import pytest

from great_expectations_spark.checkpoint.manifest import CheckpointManifest
from great_expectations_spark.checkpoint.runner import (
    run_checkpoint,
    validate_by_partition,
)
from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.datagen.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    df = generate_transcripts(spark, 300, hot_conversations=0).persist()
    df.count()
    yield df
    df.unpersist()


def _suite():
    return (
        ExpectationSuite("ckpt")
        .add("expect_column_values_to_not_be_null", column="text", mostly=0.9)
        .add(
            "expect_column_values_to_be_in_set",
            column="role",
            value_set=["system", "user", "assistant", "tool"],
            mostly=0.99,
        )
        .add(
            "expect_compound_columns_to_be_unique",
            column_list=["conv_id", "turn_idx"],
            mostly=0.9,
        )
        .add("expect_column_mean_to_be_between", column="turn_idx", min_value=0)
    )


def test_checkpoint_run_and_resume(spark, transcripts, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    summary = run_checkpoint(
        transcripts, _suite(), "day", ckpt, result_format="SUMMARY"
    )
    assert summary["partitions_validated_now"] == summary["partitions_total"]
    assert not summary["failures"]
    assert summary["partitions_total"] == 30

    # resume: nothing to do
    summary2 = run_checkpoint(transcripts, _suite(), "day", ckpt)
    assert summary2["partitions_validated_now"] == 0
    assert summary2["partitions_skipped_resume"] == 30

    # suite change => full re-run (different hash)
    changed = _suite().add(
        "expect_column_values_to_be_between", column="turn_idx", min_value=0
    )
    summary3 = run_checkpoint(transcripts, changed, "day", ckpt)
    assert summary3["partitions_validated_now"] == 30

    # manifest entries carry lineage + throughput
    manifest = CheckpointManifest(ckpt)
    entries = manifest.all_entries()
    assert len(entries) == 60
    e = entries[0]
    assert e.rows > 0 and e.rows_per_sec > 0
    with open(e.result_path) as f:
        payload = json.load(f)
    assert payload["meta"]["partition_id"] == e.partition_id
    assert payload["statistics"]["evaluated_expectations"] in (4, 5)


def test_checkpoint_resume_after_kill(spark, transcripts, tmp_path):
    """A job killed mid-run resumes EXACTLY where it stopped: only the
    partitions with no 'done' manifest record re-run, completed results
    are not recomputed (their record files are byte-identical), and a
    half-written manifest record (the torn write a kill can leave) is
    treated as not-done."""
    import os

    ckpt = str(tmp_path / "ckpt")
    run_checkpoint(
        transcripts, _suite(), "day", ckpt, result_format="SUMMARY"
    )
    mdir = os.path.join(ckpt, "manifest")
    records = sorted(os.listdir(mdir))
    assert len(records) == 30

    # simulate a kill after 12 partitions: drop 17 records, tear 1
    for name in records[12:29]:
        os.unlink(os.path.join(mdir, name))
    torn = os.path.join(mdir, records[29])
    with open(torn, "r+") as f:
        f.truncate(37)  # mid-JSON: corrupt, as a kill during write leaves

    survivors = {
        n: open(os.path.join(mdir, n)).read() for n in records[:12]
    }
    summary = run_checkpoint(
        transcripts, _suite(), "day", ckpt, result_format="SUMMARY"
    )
    assert summary["partitions_skipped_resume"] == 12
    assert summary["partitions_validated_now"] == 18  # 17 missing + 1 torn
    assert not summary["failures"]
    # completed partitions were not recomputed
    for name, before in survivors.items():
        with open(os.path.join(mdir, name)) as f:
            assert f.read() == before, name
    # the torn record was rewritten whole
    with open(torn) as f:
        assert json.load(f)["status"] == "done"


def test_checkpoint_concurrent_matches_serial(spark, transcripts, tmp_path):
    s1 = run_checkpoint(
        transcripts, _suite(), "day", str(tmp_path / "serial")
    )
    s2 = run_checkpoint(
        transcripts,
        _suite(),
        "day",
        str(tmp_path / "conc"),
        max_concurrency=4,
    )
    assert s1["success"] == s2["success"]
    assert s1["partitions_done"] == s2["partitions_done"]


def test_single_pass_grouped_matches_per_partition(spark, transcripts, tmp_path):
    suite = _suite()
    grouped = validate_by_partition(transcripts, suite, "day")
    assert len(grouped) == 30

    # cross-check three partitions against the full validator
    from great_expectations_spark.plans.planner import SuiteValidator
    from pyspark.sql import functions as F

    v = SuiteValidator()
    for day in list(grouped)[:3]:
        full = v.validate(
            transcripts.filter(F.col("day") == day), suite, "BASIC"
        )
        g = grouped[day]
        assert g.success == full.success
        for gr, fr in zip(g.results, full.results):
            assert gr.success == fr.success
            if "unexpected_count" in fr.result:
                assert (
                    gr.result["unexpected_count"]
                    == fr.result["unexpected_count"]
                ), gr.expectation_config["expectation_type"]


def test_checkpoint_actions(spark, transcripts, tmp_path):
    from great_expectations_spark.checkpoint.actions import (
        FunctionAction,
        NotificationAction,
        StoreMetricsAction,
        StoreValidationResultAction,
    )

    seen = []
    notified = []
    metrics = StoreMetricsAction()
    store = StoreValidationResultAction(str(tmp_path / "results"))
    actions = [
        FunctionAction(lambda ctx: seen.append(ctx.partition_id)),
        NotificationAction(notified.append, notify_on="failure"),
        metrics,
        store,
    ]
    summary = run_checkpoint(
        transcripts, _suite(), "day", str(tmp_path / "ckpt_act"),
        actions=actions,
    )
    # custom action received EVERY partition's result
    assert sorted(seen) == sorted(
        e["partition_id"] for e in summary["entries"]
    )
    # all partitions pass here, so the failure-only notifier stayed quiet
    assert notified == []
    # metric rows: per expectation + suite statistics, for each partition
    per_part = {r["partition_id"] for r in metrics.rows}
    assert per_part == set(seen)
    stat_rows = [
        r for r in metrics.rows
        if r["expectation_type"] == "__suite_statistics__"
    ]
    assert len(stat_rows) == len(seen)
    # stored result files exist and parse
    import glob
    files = glob.glob(str(tmp_path / "results" / "*" / "*.json"))
    assert len(files) == len(seen)
    with open(files[0]) as f:
        loaded = json.load(f)
    assert isinstance(loaded, dict)
    assert isinstance(loaded["results"], list) and loaded["results"]
    assert "expectation_type" in loaded["results"][0]["expectation_config"]


def test_checkpoint_failure_action_fires(spark, tmp_path):
    from great_expectations_spark.checkpoint.actions import NotificationAction

    df = spark.createDataFrame(
        [("p1", 5), ("p1", 7), ("p2", 500)], "part string, qty int"
    )
    suite = ExpectationSuite("f").add(
        "expect_column_values_to_be_between",
        column="qty", min_value=0, max_value=100,
    )
    notified = []
    summary = run_checkpoint(
        df, suite, "part", str(tmp_path / "ckpt_fail"),
        actions=[NotificationAction(notified.append, notify_on="failure")],
    )
    assert len(notified) == 1  # only the violating partition
    assert notified[0]["partition"] == {"part": "p2"}
    assert notified[0]["failed_expectations"] == [
        "expect_column_values_to_be_between"
    ]
    # a broken action must not fail the run
    def boom(ctx):
        raise RuntimeError("sender down")

    from great_expectations_spark.checkpoint.actions import FunctionAction

    summary2 = run_checkpoint(
        df, suite, "part", str(tmp_path / "ckpt_fail2"),
        actions=[FunctionAction(boom)],
    )
    assert summary2["partitions_validated_now"] == 2


def _job_suite(dim):
    return (
        ExpectationSuite("jobs")
        .add(
            "expect_column_values_to_exist_in_other_table",
            column="conv_id",
            other_table=dim,
            other_column="conv_id",
            mostly=0.5,
        )
        .add(
            "expect_column_two_sample_ks_to_be_less_than",
            column="turn_idx",
            baseline_condition="turn_idx < 6",
            threshold=1.1,
            bins=[0, 3, 6, 9, 12, 100],
        )
        .add(
            "expect_column_two_sample_chisquare_p_to_be_greater_than",
            column="role",
            baseline_condition="turn_idx < 6",
            p=-0.1,
        )
    )


def test_grouped_one_sample_distribution_matches_per_partition(
    spark, transcripts
):
    """The one-sample distribution family (KL continuous + categorical,
    chi-square GoF, bootstrapped KS) evaluates per-partition via the new
    O(1) grouped hooks and must match the full validator run partition by
    partition — including the seeded bootstrap (same seed per partition
    on both paths)."""
    from pyspark.sql import functions as F

    from great_expectations_spark.operators.distribution import (
        build_categorical_partition_object,
        build_continuous_partition_object,
    )
    from great_expectations_spark.plans.planner import SuiteValidator

    cont = build_continuous_partition_object(
        transcripts, "turn_idx", bins=6
    )
    cont_finite = dict(cont)
    cont_finite.pop("tail_weights", None)
    cat = build_categorical_partition_object(transcripts, "role")
    suite = (
        ExpectationSuite("dist")
        .add(
            "expect_column_kl_divergence_to_be_less_than",
            column="turn_idx",
            partition_object=cont,
            threshold=2.0,
        )
        .add(
            "expect_column_kl_divergence_to_be_less_than",
            column="role",
            partition_object=cat,
            threshold=2.0,
        )
        .add(
            "expect_column_chisquare_test_p_value_to_be_greater_than",
            column="role",
            partition_object=cat,
            p=0.0,
        )
        .add(
            "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than",
            column="turn_idx",
            partition_object=cont_finite,
            p=0.05,
        )
    )
    grouped = validate_by_partition(transcripts, suite, "day")
    assert len(grouped) == 30
    v = SuiteValidator()
    for day in sorted(grouped)[:3]:
        full = v.validate(
            transcripts.filter(F.col("day") == day), suite, "BASIC"
        )
        for gr, fr in zip(grouped[day].results, full.results):
            et = gr.expectation_config["expectation_type"]
            assert gr.success == fr.success, (day, et)
            assert gr.result["observed_value"] == pytest.approx(
                fr.result["observed_value"]
            ), (day, et)


def test_grouped_cramers_phi_and_parameterized_ks(
    spark, transcripts, monkeypatch
):
    """Cramér's phi and parameterized KS also ride grouped O(1) jobs.
    Parameterized KS grouped mode is grid-only, so force the whole-table
    path onto the grid too (cap=0) for exact parity."""
    from great_expectations_spark.operators import distribution as dist
    from great_expectations_spark.plans.planner import SuiteValidator
    from pyspark.sql import functions as F

    monkeypatch.setattr(dist, "EXACT_KS_COLLECT_CAP", 0)
    suite = (
        ExpectationSuite("assoc")
        .add(
            "expect_column_pair_cramers_phi_value_to_be_less_than",
            column_A="role",
            column_B="tool",
            threshold=1.1,
        )
        .add(
            "expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than",
            column="turn_idx",
            distribution="uniform",
            params={"min": 0, "max": 60},
            p=0.0,
        )
    )
    grouped = validate_by_partition(transcripts, suite, "day")
    assert len(grouped) == 30
    v = SuiteValidator()
    for day in sorted(grouped)[:3]:
        full = v.validate(
            transcripts.filter(F.col("day") == day), suite, "BASIC"
        )
        for gr, fr in zip(grouped[day].results, full.results):
            et = gr.expectation_config["expectation_type"]
            assert gr.success == fr.success, (day, et)
            assert gr.result["observed_value"] == pytest.approx(
                fr.result["observed_value"], rel=1e-6
            ), (day, et)


def test_grouped_job_expectations_match_per_partition(spark, transcripts):
    """Referential + drift expectations evaluate per-partition via the O(1)
    grouped hooks and must match the full validator run partition by
    partition."""
    from pyspark.sql import functions as F

    from great_expectations_spark.plans.planner import SuiteValidator

    # dim table missing some conversations -> nonzero unexpected counts
    dim = (
        transcripts.select("conv_id")
        .distinct()
        .filter(F.hash("conv_id") % 5 != 0)
        .persist()
    )
    dim.count()
    try:
        suite = _job_suite(dim)
        grouped = validate_by_partition(transcripts, suite, "day")
        assert len(grouped) == 30
        v = SuiteValidator()
        for day in sorted(grouped)[:4]:
            full = v.validate(
                transcripts.filter(F.col("day") == day), suite, "BASIC"
            )
            g = grouped[day]
            for gr, fr in zip(g.results, full.results):
                et = gr.expectation_config["expectation_type"]
                assert gr.success == fr.success, et
                if "unexpected_count" in fr.result:
                    assert (
                        gr.result["unexpected_count"]
                        == fr.result["unexpected_count"]
                    ), et
                if "observed_value" in fr.result:
                    assert gr.result["observed_value"] == pytest.approx(
                        fr.result["observed_value"]
                    ), et
        # at least one partition has referential violations in this setup
        assert any(
            g.results[0].result["unexpected_count"] > 0
            for g in grouped.values()
        )
    finally:
        dim.unpersist()


def _first_days(df, n=2):
    return sorted(r[0] for r in df.select("day").distinct().collect())[:n]


def test_grouped_job_expectations_job_count_constant(spark, transcripts):
    """Spark job count for validate_by_partition must NOT grow with the
    number of partitions (the grouped hooks are O(1) jobs per item)."""
    from pyspark.sql import functions as F

    dim = transcripts.select("conv_id").distinct().persist()
    dim.count()
    sc = spark.sparkContext
    try:
        few = transcripts.filter(F.col("day").isin(_first_days(transcripts)))
        # a row_condition-scoped aggregate rides one grouped filtered agg
        suite = _job_suite(dim).add(
            "expect_column_mean_to_be_between",
            column="turn_idx", min_value=0,
            row_condition="role = 'user'", condition_parser="spark",
        )
        sc.setJobGroup("gx_grouped_few", "few partitions")
        assert len(validate_by_partition(few, suite, "day")) == 2
        jobs_few = len(sc.statusTracker().getJobIdsForGroup("gx_grouped_few"))

        sc.setJobGroup("gx_grouped_many", "many partitions")
        validate_by_partition(transcripts, suite, "day")
        jobs_many = len(
            sc.statusTracker().getJobIdsForGroup("gx_grouped_many")
        )
    finally:
        sc.setJobGroup(None, None)
        dim.unpersist()
    assert jobs_few > 0
    # 2 partitions vs 30 partitions: job count must NOT scale with
    # partitions (per-partition fallback would be ~3 jobs x 30 partitions;
    # AQE may add a couple of shuffle-stage jobs on the larger input)
    assert jobs_many <= jobs_few + 3, (jobs_few, jobs_many)
    assert jobs_many < 15, jobs_many


def test_grouped_user_sql_matches_per_partition(spark, transcripts):
    """All four user-SQL query expectations ride the chunked-UNION-ALL
    grouped hook; every partition's vout must match a dedicated
    whole-validator run on that partition's slice."""
    from pyspark.sql import functions as F

    from great_expectations_spark.plans.planner import SuiteValidator

    suite = (
        ExpectationSuite("usersql")
        .add(
            "expect_query_row_count_to_be_between",
            query=(
                "SELECT conv_id FROM {batch} WHERE text IS NULL "
                "GROUP BY conv_id"
            ),
            min_value=0,
            max_value=10_000,
        )
        .add(
            "expect_query_results_to_return_no_rows",
            query=(
                "SELECT conv_id, turn_idx FROM {batch} "
                "WHERE role = 'operator'"
            ),
            max_unexpected_rows=100_000,
        )
        .add(
            "expect_query_value_to_be_between",
            query="SELECT AVG(LENGTH(text)) FROM {batch}",
            min_value=0.0,
            max_value=1e9,
        )
        .add(
            "expect_queried_column_value_frequency_to_meet_threshold",
            column="role",
            value="assistant",
            threshold=0.0,
        )
    )
    grouped = validate_by_partition(transcripts, suite, "day")
    assert len(grouped) == 30
    v = SuiteValidator()
    for day in sorted(grouped)[:4]:
        full = v.validate(
            transcripts.filter(F.col("day") == day), suite, "BASIC"
        )
        for gr, fr in zip(grouped[day].results, full.results):
            et = gr.expectation_config["expectation_type"]
            assert not gr.exception_info["raised_exception"], (
                day, et, gr.exception_info
            )
            assert gr.success == fr.success, (day, et)
            assert gr.result["observed_value"] == pytest.approx(
                fr.result["observed_value"]
            ), (day, et)
            if "unexpected_count" in fr.result:
                assert (
                    gr.result["unexpected_count"]
                    == fr.result["unexpected_count"]
                ), (day, et)


def test_grouped_user_sql_chunking_and_fallback(spark, transcripts, monkeypatch):
    """Chunk size 4 over 30 partitions (8 union jobs) must produce the
    same results; an over-cap partition is omitted from the grouped map
    and the per-partition fallback raises the documented error."""
    from pyspark.sql import functions as F

    from great_expectations_spark.operators import query_ops

    monkeypatch.setattr(query_ops, "QUERY_GROUPED_PARTITIONS_PER_JOB", 4)
    suite = ExpectationSuite("usersql_chunk").add(
        "expect_query_value_to_be_between",
        query="SELECT COUNT(DISTINCT conv_id) FROM {batch}",
        min_value=1,
        max_value=10_000_000,
    )
    grouped = validate_by_partition(transcripts, suite, "day")
    assert len(grouped) == 30
    assert all(
        g.results[0].success and not g.results[0].exception_info[
            "raised_exception"
        ]
        for g in grouped.values()
    )

    # per-branch limit 2 means a 2-row result is "maybe over", omitted,
    # and the fallback run raises the exact single-run error message
    suite_bad = ExpectationSuite("usersql_bad").add(
        "expect_query_value_to_be_between",
        query=(
            "SELECT LENGTH(text) FROM {batch} ORDER BY conv_id, turn_idx "
            "LIMIT 3"
        ),
        min_value=0,
        max_value=1e9,
    )
    grouped_bad = validate_by_partition(transcripts, suite_bad, "day")
    r = next(iter(grouped_bad.values())).results[0]
    assert r.exception_info["raised_exception"]
    assert "exactly one scalar" in r.exception_info["exception_message"]


def test_checkpoint_html_docs_action(spark, transcripts, tmp_path):
    """End-to-end: checkpoint run emits a navigable Data Docs SITE —
    home index → suite page (column-grouped expectation blocks + run
    history) → run page → one report per partition."""
    import glob
    import os

    from great_expectations_spark.render.html import HtmlDocsAction

    docs_dir = str(tmp_path / "docs")
    summary = run_checkpoint(
        transcripts, _suite(), "day", str(tmp_path / "ck_html"),
        actions=[HtmlDocsAction(docs_dir)],
    )
    from great_expectations_spark.render.site import _safe

    run_dir = os.path.join(
        docs_dir, "suites", "ckpt", "runs", _safe(summary["run_id"])
    )
    pages = glob.glob(os.path.join(run_dir, "*.html"))
    # one page per partition + the run index
    assert len(pages) == summary["partitions_total"] + 1
    with open(os.path.join(run_dir, "index.html")) as f:
        index = f.read()
    assert index.count("<td><a href=") == summary["partitions_total"]
    first = sorted(p for p in pages if not p.endswith("index.html"))[0]
    with open(first) as f:
        page = f.read()
    assert page.startswith("<!doctype html>")
    assert "expect_column_values_to_not_be_null" in page
    assert 'class="ok"' in page or 'class="fail"' in page

    # navigation above the run: home index links the suite page, the
    # suite page links the run page and groups expectations by column
    with open(os.path.join(docs_dir, "index.html")) as f:
        home = f.read()
    assert 'href="suites/ckpt/index.html"' in home
    with open(os.path.join(docs_dir, "suites", "ckpt", "index.html")) as f:
        suite_page = f.read()
    assert f'href="runs/{_safe(summary["run_id"])}/index.html"' in suite_page
    assert "<h3><code>text</code></h3>" in suite_page
    assert "values must not be null" in suite_page


def test_partition_list_cap(spark, transcripts, tmp_path, monkeypatch):
    # a row-level key mistaken for a partition column must fail fast with
    # a clear error, not collect the whole key space to the driver
    from great_expectations_spark.checkpoint import runner

    monkeypatch.setattr(runner, "PARTITION_LIST_CAP", 10)
    for detect_changes in (False, True):
        with pytest.raises(ValueError, match="more than 10 distinct"):
            run_checkpoint(
                transcripts,
                _suite(),
                partition_column="conv_id",
                checkpoint_dir=str(tmp_path / "cap"),
                detect_changes=detect_changes,
            )
    # a sane partition column still works with an adequate cap
    vals = runner._collect_partition_values(transcripts, "day", cap=100_000)
    assert 10 < len(vals) <= 100_000
    assert vals == sorted(vals, key=lambda v: (v is None, v))


def test_grouped_shared_window_pass_matches_per_partition(spark, transcripts):
    """Increasing + contiguity share a (conv_id, turn_idx) window spec and
    compound-uniqueness rides the same pass as a duplicate flag — ONE
    grouped shuffle for all three.  Counts must equal the full validator
    run partition by partition (planted ts-decreases, turn gaps and
    duplicate (conv_id, turn_idx) pairs make every count nonzero
    somewhere)."""
    from pyspark.sql import functions as F

    from great_expectations_spark.plans.planner import SuiteValidator

    suite = (
        ExpectationSuite("sharedwin")
        .add(
            "expect_column_values_to_be_increasing",
            column="ts",
            partition_by="conv_id",
            order_by="turn_idx",
            mostly=0.9,
        )
        .add(
            "expect_sequence_to_be_contiguous",
            group_column="conv_id",
            index_column="turn_idx",
            mostly=0.9,
        )
        .add(
            "expect_compound_columns_to_be_unique",
            column_list=["conv_id", "turn_idx"],
            mostly=0.9,
        )
    )
    grouped = validate_by_partition(transcripts, suite, "day")
    assert len(grouped) == 30
    v = SuiteValidator()
    for day in sorted(grouped)[:4]:
        full = v.validate(
            transcripts.filter(F.col("day") == day), suite, "BASIC"
        )
        for gr, fr in zip(grouped[day].results, full.results):
            et = gr.expectation_config["expectation_type"]
            assert gr.success == fr.success, et
            assert (
                gr.result["unexpected_count"]
                == fr.result["unexpected_count"]
            ), et
    # the planted violations are visible through the shared pass
    # (ts-decreases and referential gaps are planted at 1/4000 and 1/250
    # conversation rates and may be absent in a 300-conversation fixture;
    # duplicate (conv_id, turn_idx) pairs — turn 13 of every conversation
    # with >= 13 turns — are guaranteed present)
    assert any(
        g.results[2].result["unexpected_count"] > 0
        for g in grouped.values()
    )


def test_grouped_distinct_set_followup_single_job(spark):
    """The distinct-value-set family's grouped followup resolves every
    partition's value set in one groupBy job; a partition over the collect
    cap gets the cap error without poisoning the others."""
    from pyspark.sql import functions as F

    import great_expectations_spark.operators.aggregates as agg
    from great_expectations_spark.plans.planner import SuiteValidator

    df = spark.range(10_000).select(
        (F.col("id") % 5).alias("day"),
        F.concat(F.lit("v"), (F.col("id") % 3).cast("string")).alias("cat"),
        F.when(F.col("id") % 5 == 2, F.col("id").cast("string"))
        .otherwise(F.lit("x"))
        .alias("wide"),
    )
    suite = ExpectationSuite("ds").add(
        "expect_column_distinct_values_to_be_in_set",
        column="cat",
        value_set=["v0", "v1", "v2"],
    )
    grouped = validate_by_partition(df, suite, "day")
    v = SuiteValidator()
    for day in sorted(grouped):
        full = v.validate(df.filter(F.col("day") == day), suite, "BASIC")
        assert grouped[day].results[0].success == full.results[0].success
        assert (
            grouped[day].results[0].result["observed_value"]
            == full.results[0].result["observed_value"]
        )

    # over-cap partition: 'wide' has 2000 distinct values in day=2 only
    old_cap = agg.DISTINCT_COLLECT_CAP
    agg.DISTINCT_COLLECT_CAP = 100
    try:
        suite2 = ExpectationSuite("ds2").add(
            "expect_column_distinct_values_to_be_in_set",
            column="wide",
            value_set=["x"],
        )
        grouped2 = validate_by_partition(df, suite2, "day")
    finally:
        agg.DISTINCT_COLLECT_CAP = old_cap
    r2 = {day: res.results[0] for day, res in grouped2.items()}
    assert not r2["2"].success
    assert r2["2"].exception_info["raised_exception"]
    assert "collect cap" in r2["2"].exception_info["exception_message"]
    for day in ("0", "1", "3", "4"):
        assert r2[day].success, day
        assert r2[day].result["observed_value"] == ["x"]


def test_checkpoint_html_docs_action_concurrent(spark, transcripts, tmp_path):
    """max_concurrency>1 is still accepted (it has no effect): the index
    must come out complete (one row per partition, never a torn file) —
    the entry list + index rewrite are lock-serialized."""
    import glob
    import os

    from great_expectations_spark.render.html import HtmlDocsAction

    docs_dir = str(tmp_path / "docs_mt")
    summary = run_checkpoint(
        transcripts, _suite(), "day", str(tmp_path / "ck_html_mt"),
        actions=[HtmlDocsAction(docs_dir)], max_concurrency=4,
    )
    from great_expectations_spark.render.site import _safe

    run_dir = os.path.join(
        docs_dir, "suites", "ckpt", "runs", _safe(summary["run_id"])
    )
    pages = glob.glob(os.path.join(run_dir, "*.html"))
    assert len(pages) == summary["partitions_total"] + 1
    with open(os.path.join(run_dir, "index.html")) as f:
        index = f.read()
    assert index.count("<td><a href=") == summary["partitions_total"]
    assert index.rstrip().endswith("</html>")


def test_grouped_distinct_set_null_partition(spark):
    """A NULL partition value must not be silently dropped by the
    grouped distinct-set followup (isin() never matches NULL): its
    observed value set must be real, so out-of-set values there fail."""
    from great_expectations_spark.checkpoint.runner import (
        validate_by_partition,
    )

    df = spark.createDataFrame(
        [("2026-01-01", "a"), ("2026-01-01", "b"),
         (None, "a"), (None, "zzz")],
        "day string, kind string",
    )
    suite = ExpectationSuite("s").add(
        "expect_column_distinct_values_to_be_in_set",
        column="kind", value_set=["a", "b"],
    )
    results = validate_by_partition(df, suite, "day")
    assert results["2026-01-01"].success is True
    null_res = results["None"].results[0]
    assert null_res.success is False
    assert "zzz" in null_res.result["observed_value"]


def test_no_extra_distinct_scan_when_bundle_covers_universe(
    spark, transcripts, monkeypatch
):
    """When the suite carries any bundled metric, the bundle's unfiltered
    groupBy already enumerates every partition — validate_by_partition
    must NOT pay an extra distinct scan just because a job expectation
    is present (ADVICE r4 #3).  A job-only suite still scans (its
    grouped mapping may legitimately be partial)."""
    from great_expectations_spark.checkpoint import runner as runner_mod
    from pyspark.sql import functions as F

    dim = transcripts.select("conv_id").distinct().persist()
    dim.count()
    calls = {"n": 0}
    real = runner_mod._collect_partition_values

    def counting(df, col):
        calls["n"] += 1
        return real(df, col)

    days = sorted(
        r[0] for r in transcripts.select("day").distinct().collect()
    )[:2]
    monkeypatch.setattr(runner_mod, "_collect_partition_values", counting)
    try:
        few = transcripts.filter(F.col("day").isin(days))
        mixed = _job_suite(dim).add(
            "expect_column_values_to_not_be_null", column="conv_id"
        )
        out = validate_by_partition(few, mixed, "day")
        assert sorted(out) == days
        assert calls["n"] == 0  # bundle supplied the universe

        job_only = _job_suite(dim)
        out2 = validate_by_partition(few, job_only, "day")
        assert sorted(out2) == days
        assert calls["n"] == 1  # no full-universe mapping -> one scan
    finally:
        dim.unpersist()


def test_grouped_windows_are_partition_local(spark):
    """A conversation that crosses a partition boundary: conv x has turns
    0-1 on day a and turns 2-3 on day b, conv y sits on day b only.  For
    every partition and every window expectation, validate_by_partition
    must count exactly what a per-partition validate counts — on day b,
    x's turn 2 has no predecessor inside the partition."""
    from pyspark.sql import functions as F

    from great_expectations_spark.plans.planner import SuiteValidator

    rows = [
        ("x", 0, 100, "a"),
        ("x", 1, 110, "a"),
        ("x", 2, 120, "b"),
        ("x", 3, 130, "b"),
        ("y", 0, 50, "b"),
        ("y", 1, 60, "b"),
        ("y", 1, 60, "b"),  # duplicate turn, same ts
        ("y", 2, 55, "b"),  # ts regression within y
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts long, day string"
    ).coalesce(1)
    suite = (
        ExpectationSuite("crossday")
        .add(
            "expect_sequence_to_be_contiguous",
            group_column="conv_id",
            index_column="turn_idx",
        )
        .add(
            "expect_sequence_to_be_contiguous",
            group_column="conv_id",
            index_column="turn_idx",
            strategy="join",
        )
        .add(
            "expect_column_values_to_be_increasing",
            column="ts",
            partition_by="conv_id",
            order_by="turn_idx",
        )
        .add("expect_column_values_to_be_increasing", column="ts")
        .add(
            "expect_compound_columns_to_be_unique",
            column_list=["conv_id", "turn_idx"],
        )
        # row_condition-scoped aggregates and map: conversation y only
        .add(
            "expect_column_mean_to_be_between",
            column="turn_idx", min_value=0, max_value=1,
            row_condition="conv_id = 'y'", condition_parser="spark",
        )
        .add(
            "expect_column_max_to_be_between",
            column="turn_idx", min_value=0, max_value=1,
            row_condition="conv_id = 'y'", condition_parser="spark",
        )
        .add(
            "expect_column_values_to_be_between",
            column="ts", min_value=0, max_value=58,
            row_condition="conv_id = 'y'", condition_parser="spark",
        )
    )
    grouped = validate_by_partition(df, suite, "day")
    assert sorted(grouped) == ["a", "b"]
    v = SuiteValidator()
    counts = {}
    observed = {}
    for day in ("a", "b"):
        full = v.validate(df.filter(F.col("day") == day), suite, "BASIC")
        pairs = zip(grouped[day].results, full.results)
        for i, (gr, fr) in enumerate(pairs):
            assert (
                gr.result.get("unexpected_count"),
                gr.result.get("observed_value"),
                gr.success,
                gr.exception_info["raised_exception"],
            ) == (
                fr.result.get("unexpected_count"),
                fr.result.get("observed_value"),
                fr.success,
                fr.exception_info["raised_exception"],
            ), (day, i)
        counts[day] = [r.result["unexpected_count"] for r in full.results[:5]]
        counts[day].append(full.results[7].result["unexpected_count"])
        observed[day] = [
            (r.result["observed_value"], r.success) for r in full.results[5:7]
        ]
    # window-contiguity, join-contiguity, per-conversation increasing,
    # table-order increasing (y's 50 and 55 after larger ts), uniqueness,
    # y's ts above 58 (60 twice)
    assert counts == {"a": [0, 0, 0, 0, 0, 0], "b": [1, 1, 1, 2, 2, 2]}
    # y's turn_idx 0, 1, 1, 2 on day b: mean 1.0 passes, max 2 fails; day a
    # has no y rows, so both observe None and fail
    assert observed == {
        "a": [(None, False), (None, False)],
        "b": [(1.0, True), (2, False)],
    }


def test_grouped_slice_fallback_null_partition(spark):
    """An expectation without a grouped hook runs on each partition's
    slice; the NULL partition's slice must hold its rows, so its result
    equals a validate of those rows."""
    from great_expectations_spark.plans.planner import SuiteValidator

    df = spark.createDataFrame(
        [("d1", "a"), ("d1", "a"), (None, "z"), (None, "z")],
        "day string, kind string",
    )
    suite = ExpectationSuite("s").add(
        "expect_column_most_common_value_to_be_in_set",
        column="kind", value_set=["a"],
    )
    grouped = validate_by_partition(df, suite, "day")
    full = SuiteValidator().validate(df.filter("day IS NULL"), suite)
    got, want = grouped["None"].results[0], full.results[0]
    assert (got.success, got.result["observed_value"]) == (False, ["z"])
    assert (want.success, want.result["observed_value"]) == (False, ["z"])
    assert grouped["d1"].results[0].success


def test_checkpoint_null_partition_validated_on_its_rows(spark, tmp_path):
    """The NULL partition of the partition column is validated on its own
    rows, not on an empty slice."""
    df = spark.createDataFrame(
        [("d1", 1), ("d1", 2), (None, 100), (None, 200)],
        "day string, x int",
    )
    suite = ExpectationSuite("null_part").add(
        "expect_column_values_to_be_between",
        column="x", min_value=0, max_value=10,
    )
    summary = run_checkpoint(df, suite, "day", str(tmp_path / "ckpt"))
    entries = {e["partition_id"]: e for e in summary["entries"]}
    got = {
        p: (e["status"], e["rows"], e["success"]) for p, e in entries.items()
    }
    assert got == {"d1": ("done", 2, True), "None": ("done", 2, False)}
    assert summary["success"] is False
    with open(entries["None"]["result_path"]) as f:
        result = json.load(f)["results"][0]["result"]
    assert result["unexpected_count"] == 2
    assert result["partial_unexpected_list"] == [100, 200]


def test_detect_changes_lists_partitions_from_fingerprints(
    spark, tmp_path, monkeypatch
):
    """With detect_changes the fingerprint job lists the partitions, the
    NULL one included: no separate distinct scan runs."""
    from great_expectations_spark.checkpoint import runner as runner_mod

    def no_scan(*args, **kwargs):
        raise AssertionError("distinct partition scan")

    monkeypatch.setattr(runner_mod, "_collect_partition_values", no_scan)
    df = spark.createDataFrame(
        [("d1", 1), (None, 100)], "day string, x int"
    )
    suite = ExpectationSuite("fp").add(
        "expect_column_values_to_be_between",
        column="x", min_value=0, max_value=10,
    )
    summary = run_checkpoint(
        df, suite, "day", str(tmp_path / "ckpt"), detect_changes=True
    )
    got = {
        e["partition_id"]: (e["rows"], e["success"], bool(e["fingerprint"]))
        for e in summary["entries"]
    }
    assert got == {"d1": (1, True, True), "None": (1, False, True)}


def _crossing_table(spark):
    """Three days and a NULL partition.  Conversation x crosses midnight
    (turns 0-1 on day a, 2-3 on day b); y on day b has a duplicate turn
    and a ts regression; z sits in the NULL partition with a turn gap;
    w on day c is clean.  ``x`` breaks 0..10 on several rows."""
    rows = [
        ("x", 0, 100, "a", 1, 5),
        ("x", 1, 110, "a", 50, 6),
        ("x", 2, 120, "b", 2, 6),
        ("x", 3, 130, "b", 3, 7),
        ("y", 0, 50, "b", 70, 8),
        ("y", 1, 60, "b", 4, 8),
        ("y", 1, 60, "b", 60, 9),
        ("y", 2, 55, "b", 5, 9),
        ("z", 0, 10, None, 90, 1),
        ("z", 2, 20, None, 80, 1),
        ("w", 0, 1, "c", 1, 2),
        ("w", 1, 2, "c", 2, 3),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, ts long, day string, x int, k int",
    ).coalesce(1)


def _crossing_suite():
    return (
        ExpectationSuite("crossing")
        .add(
            "expect_column_values_to_be_between",
            column="x", min_value=0, max_value=10,
        )
        .add(
            "expect_column_values_to_be_increasing",
            column="ts", partition_by="conv_id", order_by="turn_idx",
        )
        .add(
            "expect_sequence_to_be_contiguous",
            group_column="conv_id", index_column="turn_idx",
        )
        .add(
            "expect_compound_columns_to_be_unique",
            column_list=["conv_id", "turn_idx"],
        )
        # set windows no shared window spec adopts
        .add("expect_column_values_to_be_unique", column="k")
        .add(
            "expect_sequence_to_be_contiguous",
            group_column="conv_id", index_column="turn_idx",
            strategy="join",
        )
        .add("expect_column_mean_to_be_between", column="x", max_value=10)
    )


def test_checkpoint_results_match_per_partition_validate(spark, tmp_path):
    """run_checkpoint's stored SUMMARY results equal a validate of each
    partition's slice: counts, success, observed values and the violation
    samples themselves."""
    from pyspark.sql import functions as F

    from great_expectations_spark.plans.planner import SuiteValidator

    df = _crossing_table(spark)
    suite = _crossing_suite()
    summary = run_checkpoint(df, suite, "day", str(tmp_path / "ckpt"))
    entries = {e["partition_id"]: e for e in summary["entries"]}
    assert sorted(entries) == ["None", "a", "b", "c"]
    keys = (
        "unexpected_count", "observed_value", "partial_unexpected_list",
    )
    v = SuiteValidator()
    failing = set()
    for day in (None, "a", "b", "c"):
        with open(entries[str(day)]["result_path"]) as f:
            stored = json.load(f)
        want = json.loads(
            v.validate(
                df.filter(F.col("day").eqNullSafe(day)), suite, "SUMMARY"
            ).to_json()
        )
        assert stored["success"] == want["success"], day
        assert entries[str(day)]["success"] == want["success"], day
        pairs = zip(stored["results"], want["results"])
        for i, (got, exp) in enumerate(pairs):
            assert not got["exception_info"]["raised_exception"], (day, i)
            assert got["success"] == exp["success"], (day, i)
            for k in keys:
                assert got["result"].get(k) == exp["result"].get(k), (
                    day, i, k,
                )
            if not got["success"]:
                failing.add((day, i))
        assert stored["meta"]["partition_id"] == str(day)
        assert stored["meta"]["run_id"] == summary["run_id"]
    # every family fails somewhere, so the samples compared are not empty
    assert {i for _, i in failing} == set(range(7))
    # day b: x's turn 2 has no predecessor inside the partition
    with open(entries["b"]["result_path"]) as f:
        b = json.load(f)["results"]
    assert b[2]["result"]["partial_unexpected_list"] == [
        {"conv_id": "x", "turn_idx": 2}
    ]


def test_checkpoint_job_count_constant(spark, transcripts, tmp_path):
    """Under a job group, every Spark job of a run_checkpoint is counted
    (the validator's pool jobs too), and the count does not grow with the
    number of partitions to validate."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    few = transcripts.filter(F.col("day").isin(_first_days(transcripts)))
    try:
        sc.setJobGroup("gx_ckpt_few", "few partitions")
        s_few = run_checkpoint(few, _suite(), "day", str(tmp_path / "few"))
        jobs_few = len(sc.statusTracker().getJobIdsForGroup("gx_ckpt_few"))
        sc.setJobGroup("gx_ckpt_many", "many partitions")
        s_many = run_checkpoint(
            transcripts, _suite(), "day", str(tmp_path / "many")
        )
        jobs_many = len(sc.statusTracker().getJobIdsForGroup("gx_ckpt_many"))
    finally:
        sc.setJobGroup(None, None)
    assert s_few["partitions_validated_now"] == 2
    assert s_many["partitions_validated_now"] == 30
    # the partition list, the bundled agg and the window jobs at least
    assert jobs_few >= 3, jobs_few
    # a per-partition loop ran about 4 jobs per partition (120 here);
    # AQE runs each shuffle stage as its own job and skips empty ones
    assert jobs_many <= jobs_few + 6, (jobs_few, jobs_many)
    assert jobs_many < 25, jobs_many


def test_checkpoint_failed_chunk_records_failed_and_reruns(
    spark, transcripts, tmp_path, monkeypatch
):
    """A chunk whose grouped pass raises records every one of its
    partitions failed, with no count, and a re-run validates them."""
    from great_expectations_spark.plans.planner import SuiteValidator

    def boom(self, *args, **kwargs):
        raise RuntimeError("executor lost")

    ckpt = str(tmp_path / "ckpt")
    with monkeypatch.context() as m:
        m.setattr(SuiteValidator, "_run_phases_concurrent", boom)
        summary = run_checkpoint(transcripts, _suite(), "day", ckpt)
    assert summary["success"] is False
    assert len(summary["failures"]) == 30
    for e in summary["entries"]:
        assert (e["status"], e["success"], e["rows"]) == ("failed", None, 0)
        assert e["error"] == "executor lost"
        assert e["result_path"] is None
    assert summary["partitions_done"] == 0

    rerun = run_checkpoint(transcripts, _suite(), "day", ckpt)
    assert rerun["partitions_validated_now"] == 30
    assert not rerun["failures"]
    assert rerun["partitions_done"] == 30
