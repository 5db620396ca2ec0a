"""Physical-plan guards for the headline dedup / packing / ANN operators.

Every claim the scale notes make about these plans ("JVM-only scan",
"TakeOrdered, no full sort", "per-bucket window, never a single
reducer", "broadcast re-rank join") is asserted here against the actual
physical plan string, so a refactor that silently reintroduces a Python
eval node, a global sort, or a single-partition window fails CI instead
of failing at 100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.functions.dedup import exact_dedup
from great_expectations_spark.functions.packing import pack_concat_chunks
from great_expectations_spark.functions.similarity import (
    brute_force_topk,
    ivfpq_index,
    ivfpq_load,
    ivfpq_topk,
    ivfpq_write,
)


def _plan(df) -> str:
    # the pre-execution physical plan WITH exchanges inserted (under AQE
    # it prints the initial plan — deterministic, no runtime noise)
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_jvm_only(plan: str) -> None:
    # BatchEvalPython = row-at-a-time UDF, ArrowEvalPython = pandas UDF,
    # MapInPandas / FlatMapGroupsInPandas = mapInPandas family.  None of
    # them belong in these hot paths.
    for node in (
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
    ):
        assert node not in plan, f"{node} found in plan:\n{plan}"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"doc number {i % 7} body text") for i in range(40)]
    rows += [(100, None), (101, None)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vecs(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    data = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(48)
    ]
    return spark.createDataFrame(data, "vec_id long, embedding array<float>")


# --- exact_dedup -----------------------------------------------------------


def test_exact_dedup_plan_is_jvm_only_hash_agg(docs):
    out = exact_dedup(docs, "text")
    plan = _plan(out)
    _assert_jvm_only(plan)
    # the survivor choice is dropDuplicates => HashAggregate keyed by the
    # 8-byte content hash, not a window sort over raw text
    assert "hashpartitioning(__gx_key" in plan, plan
    assert "xxhash64" in plan, plan
    # no global sort and no single-reducer stage anywhere
    assert "SinglePartition" not in plan, plan


def test_exact_dedup_ordered_plan_windows_by_key(docs):
    out = exact_dedup(docs, "text", order_by="doc_id")
    plan = _plan(out)
    _assert_jvm_only(plan)
    # deterministic-winner mode: the row_number window partitions by the
    # content hash (per-group sort), never a whole-table ordering
    assert "windowspecdefinition(__gx_key" in plan, plan
    assert "SinglePartition" not in plan, plan


# --- pack_concat_chunks ----------------------------------------------------


def test_pack_chunks_window_is_per_bucket(docs):
    out = pack_concat_chunks(
        docs, id_column="doc_id", text_column="text", block_size=16
    )
    plan = _plan(out)
    _assert_jvm_only(plan)
    # the running prefix sum is a window PARTITIONED BY the bucket: the
    # only per-row exchange hashes on __bucket, and nothing collapses to
    # one reducer (the classic unpartitioned-window scale killer)
    assert "windowspecdefinition(__bucket" in plan, plan
    assert "SinglePartition" not in plan, plan
    # the per-bucket base offsets (64 rows) come back via broadcast join
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan


# --- brute-force ANN -------------------------------------------------------


def test_brute_force_topk_plan_takeordered_no_full_sort(vecs):
    out = brute_force_topk(vecs, [1.0] * 8, k=5)
    plan = _plan(out)
    _assert_jvm_only(plan)
    # orderBy + limit must compile to TakeOrderedAndProject (per-partition
    # heap + k-row merge), never a global Sort materialization
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


# --- decontamination -------------------------------------------------------


def test_contamination_stats_plan_one_corpus_shuffle(spark, docs):
    from great_expectations_spark.functions.curation import (
        contamination_stats,
    )

    bench = spark.createDataFrame(
        [(1, "doc number 1 body text")], "bid long, text string"
    )
    out = contamination_stats(docs, bench, n=3)
    plan = _plan(out)
    _assert_jvm_only(plan)
    # the corpus side joins the benchmark WITHOUT shuffling (broadcast
    # left join); its only wide exchange is the groupBy(doc_id).  The one
    # other hashpartitioning in the plan is the benchmark-side gram
    # distinct, which lives INSIDE the broadcast subtree (bounded side).
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan
    assert plan.count("Exchange hashpartitioning(gram") == 1, plan
    assert "SortMergeJoin" not in plan, plan


# --- PII redaction ----------------------------------------------------------


def test_redact_pii_plan_is_pure_projection(docs):
    from great_expectations_spark.functions.curation import redact_pii

    out = docs.select(redact_pii(F.col("text")).alias("clean"))
    plan = _plan(out)
    _assert_jvm_only(plan)
    # a single narrow projection: no exchange of any kind
    assert "Exchange" not in plan, plan


# --- IVF-PQ ----------------------------------------------------------------


def test_ivfpq_search_plan_is_jvm_only(spark, vecs, tmp_path):
    encoded, centroids, codebooks = ivfpq_index(
        vecs, n_clusters=4, m=4, train_limit=100
    )
    path = f"file://{tmp_path}/idx"
    ivfpq_write(encoded, centroids, codebooks, path)
    enc2, cents2, books2 = ivfpq_load(spark, path)

    out = ivfpq_topk(
        enc2, cents2, books2, [1.0] * 8, k=3, n_probe=2, refine_factor=2
    )
    plan = _plan(out)
    # the search-time plan (scan -> ADC score -> TakeOrdered -> broadcast
    # re-rank) is 100% JVM: the pandas encode UDF exists only at
    # INDEX-BUILD time and is not in the persisted table's read plan
    _assert_jvm_only(plan)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # ADC scoring is expression-level (element_at over the LUT literal)
    assert "element_at" in plan, plan

    got = [r["vec_id"] for r in out.collect()]
    assert len(got) == 3


def test_c4_gopher_pipeline_single_scan(spark):
    """curate_corpus(c4=True, gopher=True) compiles to ONE scan: a pure
    projection+filter chain with no Exchange and no Python eval node —
    the plan that streams 10^12 rows at regex speed."""
    from great_expectations_spark.functions.curation import curate_corpus

    df = spark.createDataFrame(
        [(1, "Some perfectly reasonable text that ends with a period.")],
        "doc_id int, text string",
    )
    out, _ = curate_corpus(df, c4=True, gopher=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- image perceptual dedup ------------------------------------------------


def test_image_near_dup_plan_banded_not_all_pairs(spark):
    """image_near_dup_pairs must candidate-join within banding buckets:
    ONE Arrow decode pass (MapInPandas) feeding a JVM-only equi-join —
    never a cartesian/nested-loop all-pairs product."""
    from great_expectations_spark.functions.multimodal import (
        image_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(i, bytes([i % 251] * 32)) for i in range(30)],
        "img_id long, data binary",
    )
    out = image_near_dup_pairs(df, "img_id", expected_corpus_size=30)
    plan = _plan(out)
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert node not in plan, f"{node} found in plan:\n{plan}"
    # the decode is the only Arrow stage and it sits under the banding
    # core's cached signature relation — the plan string repeats the
    # cache's BUILD plan at every scan site, so "one decode" here means
    # every MapInPandas occurrence is an InMemoryRelation child (executes
    # once on cache fill), none in the live join path
    assert plan.count("MapInPandas") >= 1
    assert plan.count("MapInPandas") == plan.count("InMemoryRelation"), plan
    assert "BatchEvalPython" not in plan
    # the candidate join is an equi-join on (table, key)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


# --- fused window violation samples ----------------------------------------


@pytest.fixture(scope="module")
def transcripts(spark):
    from great_expectations_spark.datagen.transcripts import (
        generate_transcripts,
    )

    return generate_transcripts(
        spark, n_conversations=300, hot_conversations=1, hot_turns=600,
        partitions=4,
    )


def test_window_samples_plan_is_jvm_top_k(transcripts, monkeypatch):
    """The fused window job caps each member's violation sample with a
    JVM top-k: ``WindowGroupLimit`` Partial before the exchange (at most
    ``limit`` rows per member per task cross the shuffle) and Final
    after it.  No plan on the validate path has an Arrow/Python stage,
    and with ``mapInPandas`` unusable ``validate`` still succeeds with
    every window sample served — no Python worker starts."""
    from great_expectations_spark.datagen.transcripts import default_suite
    from great_expectations_spark.plans.planner import SuiteValidator

    plans = []
    refused = []
    cls = type(transcripts)
    collect = cls.collect

    def spy(self):
        plans.append(_plan(self))
        return collect(self)

    def refuse(self, *args, **kwargs):
        refused.append(args)
        raise AssertionError("mapInPandas on the validate path")

    monkeypatch.setattr(cls, "collect", spy)
    monkeypatch.setattr(cls, "mapInPandas", refuse)
    res = SuiteValidator().validate(transcripts, default_suite(), "SUMMARY")

    assert not refused
    assert not any(
        r.exception_info and r.exception_info.get("raised_exception")
        for r in res.results
    )
    for plan in plans:
        _assert_jvm_only(plan)
    topk = [p for p in plans if "WindowGroupLimit" in p]
    assert len(topk) == 1, plans
    assert "Partial" in topk[0] and "Final" in topk[0], topk[0]
    # the partial limit sits below the exchange that groups by member
    partial = topk[0].index("Partial")
    assert topk[0].rfind("Exchange hashpartitioning", 0, partial) != -1
    uniq = next(
        r for r in res.results
        if r.expectation_config["expectation_type"]
        == "expect_compound_columns_to_be_unique"
    )
    assert uniq.result["unexpected_count"] > 0
    assert len(uniq.result["partial_unexpected_list"]) == min(
        20, uniq.result["unexpected_count"]
    )
