"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs a great_expectations_spark operator against
the driver's parquet tables and returns a small DataFrame whose columns are
name-aligned with the matching ``oracle_sql()`` DuckDB statement.  Query
callables exercise the REAL engine paths (SuiteValidator bundled agg,
two-phase uniqueness, window monotonicity, drift split-histograms, dedup /
similarity operators) — not hand-inlined SQL.

REGISTRY BUDGET — STACKING CONVENTION (do not break this): the driver
caps the registry at 50 entries and the registry sits AT the cap, so a
new operator must NOT add an entry.  Stack its check rows into the
existing entry whose tables/shape it shares, as extra rows in that
entry's long format, and extend the oracle SQL with a matching
``UNION ALL`` arm.  Established long formats to ride:
``map_suite_*`` (per-metric check rows), ``text_stats_docs``
(``(metric, value)`` rows incl. quality gates and repetition signals),
``multimodal_docs`` (``(doc_id, kind, idx, val)`` — e.g. round 5 added
``kind='phash_pair'`` for perceptual image dedup), ``decontam_docs``
(gram + semantic arms), ``days_missing_events`` (+ ``sk_*`` sketch
rows), ``zz_dsir`` (buckets→ratio→Gumbel→top-k chain rows).  Keys are
sorted by name in the driver report, so prefix-name a new entry only if
a genuinely new family ever frees a slot.  Columns must be name-aligned
and value-identical between engines: alias every computed column the
same on both sides; round floats at a stated precision; keep ordering
irrelevant (the driver sorts by all columns before hashing).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.functions import dedup, similarity, text as gxtext
from great_expectations_spark.functions.temporal import (
    asof_join,
    range_join,
    sessionize,
)
from great_expectations_spark.operators import distribution as dist_ops
from great_expectations_spark.operators.query_ops import value_counts
from great_expectations_spark.plans.planner import SuiteValidator


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _map_counts(
    spark: SparkSession, sf_dir: str, table: str, etype: str, **kwargs
) -> DataFrame:
    """Run one map expectation through the engine; return its counters."""
    df = _load(spark, sf_dir, table)
    suite = ExpectationSuite("q").add(etype, **kwargs)
    res = SuiteValidator().validate(df, suite, result_format="BASIC")
    r = res.results[0]
    if r.exception_info["raised_exception"]:
        raise RuntimeError(r.exception_info["exception_message"])
    return spark.createDataFrame(
        [(r.result["element_count"], r.result["unexpected_count"])],
        "element_count bigint, unexpected_count bigint",
    )


def _map_counts_suite(
    spark: SparkSession, sf_dir: str, table: str, checks: list
) -> DataFrame:
    """Run MANY map expectations as ONE suite (single bundled-agg pass);
    return one counter row per expectation, keyed by check name.

    This is the consolidation the round-3 verdict asked for: the driver
    caps CORRECTNESS at 50 entries, so near-identical single-expectation
    entries are folded into multi-row suites — every metric keeps an
    oracle row AND the heterogeneous one-agg bundling gets exercised.
    """
    df = _load(spark, sf_dir, table)
    suite = ExpectationSuite(f"map_suite.{table}")
    for _, etype, kwargs in checks:
        suite.add(etype, **kwargs)
    res = SuiteValidator().validate(df, suite, result_format="BASIC")
    rows = []
    for (name, _, _), r in zip(checks, res.results):
        if r.exception_info["raised_exception"]:
            raise RuntimeError(r.exception_info["exception_message"])
        rows.append(
            (name, r.result["element_count"], r.result["unexpected_count"])
        )
    return spark.createDataFrame(
        rows,
        "expectation string, element_count bigint, unexpected_count bigint",
    ).orderBy("expectation")


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full validation suite over sf0.001 lineitem — one bundled
    agg pass + two-phase uniqueness — returned as one row per expectation."""
    sf_dir = "/root/testdata/sf0.001"
    df = _load(spark, sf_dir, "lineitem")
    suite = (
        ExpectationSuite("lineitem.flagship")
        .add("expect_column_values_to_not_be_null", column="l_orderkey")
        .add(
            "expect_column_values_to_be_in_set",
            column="l_returnflag",
            value_set=["A", "N", "R"],
        )
        .add(
            "expect_column_values_to_be_between",
            column="l_quantity",
            min_value=1,
            max_value=50,
        )
        .add(
            "expect_column_mean_to_be_between",
            column="l_discount",
            min_value=0.0,
            max_value=0.2,
        )
        .add(
            "expect_column_quantile_values_to_be_between",
            column="l_extendedprice",
            quantile_ranges={
                "quantiles": [0.25, 0.5, 0.75],
                "value_ranges": [[0, None], [0, None], [0, None]],
            },
        )
        .add(
            "expect_compound_columns_to_be_unique",
            column_list=["l_orderkey", "l_linenumber"],
            mostly=0.5,
        )
        .add(
            "expect_column_values_to_exist_in_other_table",
            column="l_orderkey",
            other_table=_load(spark, sf_dir, "orders"),
            other_column="o_orderkey",
        )
    )
    res = SuiteValidator().validate(df, suite, result_format="BASIC")
    rows = [
        (
            r.expectation_config["expectation_type"],
            bool(r.success),
            int(r.result.get("unexpected_count") or 0),
        )
        for r in res.results
    ]
    return spark.createDataFrame(
        rows, "expectation_type string, success boolean, unexpected_count bigint"
    )


# ---------------------------------------------------------------------------

HIST_BINS = [900.0, 21000.0, 42000.0, 63000.0, 84000.0, 105000.0]
DRIFT_SPLIT = "ts < timestamp '2024-01-15 00:00:00'"
VALUE_BINS = [0.0, 100.0, 200.0, 300.0, 400.0, 500.0]


def _agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.mean(q), 4).alias("mean_qty"),
        F.round(F.stddev_samp(q), 4).alias("std_qty"),
        F.min(q).alias("min_qty"),
        F.max(q).alias("max_qty"),
        F.round(F.sum(q), 2).alias("sum_qty"),
        F.min(F.length("l_returnflag")).alias("min_flag_len"),
        F.max(F.length("l_returnflag")).alias("max_flag_len"),
    )


def _quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "lineitem")
    p = F.percentile(F.col("l_extendedprice"), F.lit([0.25, 0.5, 0.75]))
    return df.agg(
        F.round(p[0], 4).alias("q25"),
        F.round(p[1], 4).alias("q50"),
        F.round(p[2], 4).alias("q75"),
    )


def _distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "lineitem")
    return df.agg(
        F.count_distinct(F.col("l_partkey")).alias("distinct_parts"),
        F.round(
            F.count_distinct(F.col("l_partkey")) / F.count(F.col("l_partkey")),
            6,
        ).alias("unique_proportion"),
    )


def _unique_dup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "orders")
    suite = ExpectationSuite("q").add(
        "expect_column_values_to_be_unique", column="o_orderkey"
    )
    res = SuiteValidator().validate(df, suite, result_format="BASIC")
    return spark.createDataFrame(
        [(res.results[0].result["unexpected_count"],)],
        "dup_rows bigint",
    )


def _window_samples_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pin the fused window-sample rows (COMPLETE format) against DuckDB.

    The round-4 fused window pass computes violation counters AND pooled
    sample rows in ONE job (planner round-4 fold); COMPLETE format pools
    too, so ``unexpected_list`` is the FULL multiset of violating values.
    A unique expectation on ``events.user_id`` flags every row whose
    user_id appears more than once; the multiset is order-insensitively
    fingerprinted (sorted md5) so any dropped/duplicated/extra sample row
    flips the hash.  This is the oracle row the round-3 verdict asked for
    on the rewritten sample path.
    """
    import hashlib

    df = _load(spark, sf_dir, "events")
    suite = ExpectationSuite("q").add(
        "expect_column_values_to_be_unique", column="user_id"
    )
    validator = SuiteValidator(max_complete_collect=200_000)
    res = validator.validate(df, suite, result_format="COMPLETE")
    values = sorted(int(v) for v in res.results[0].result["unexpected_list"])
    fp = hashlib.md5(",".join(str(v) for v in values).encode()).hexdigest()
    return spark.createDataFrame(
        [(len(values), fp)], "n_samples bigint, fp string"
    )


def _streaming_stateful_gaps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom stateful streaming operator, oracle-checked end-to-end: a
    real ``readStream`` over lineitem feeds ``streaming_sequence_gaps``
    (``applyInPandasWithState`` per-conversation contiguity), drained
    with ``availableNow``.  The single-file source yields ONE micro-batch,
    so update-mode emits exactly one final summary row per gap group —
    which the DuckDB watermark replica (largest contiguous prefix from
    first_index, then the pending-set arithmetic) reproduces exactly.
    Duplicated (orderkey, linenumber) rows — a known property of the
    synthetic lineitem — are set-semantics on both engines."""
    import uuid

    from great_expectations_spark.streaming.validate_stream import (
        streaming_sequence_gaps,
    )

    path = f"{sf_dir}/lineitem.parquet"
    schema = spark.read.parquet(path).schema
    src_dir = "/tmp/gx_stream_lineitem_" + sf_dir.strip("/").replace(
        "/", "_"
    )
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "lineitem.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    stream = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .select(
            F.col("l_orderkey").cast("string").alias("conv_id"),
            F.col("l_linenumber").cast("int").alias("turn_idx"),
        )
    )
    gaps = streaming_sequence_gaps(
        stream, "conv_id", "turn_idx", first_index=1
    )
    sink = f"gx_gaps_{uuid.uuid4().hex[:12]}"
    query = (
        gaps.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(sink).select(
        F.col("conv_id").cast("long").alias("orderkey"),
        F.col("max_seen").cast("long").alias("max_seen"),
        F.col("missing_count").cast("long").alias("missing_count"),
        F.col("first_missing").cast("long").alias("first_missing"),
    )


def _frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (multimodal.frame_sample_plan):
    JVM-side sequence/explode of frame timestamps from a duration
    column — replicated by DuckDB generate_series."""
    from great_expectations_spark.functions import multimodal

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") % 7) * 1000 + 500)
        .cast("int")
        .alias("duration_ms"),
    )
    plan = multimodal.frame_sample_plan(
        docs, "duration_ms", every_ms=1000
    )
    return plan.select(
        "doc_id",
        F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"),
    )


def _grouped_kl_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped O(1)-job distribution hook, oracle-checked: every
    day-partition's KL divergence of events.value against a FIXED
    continuous partition evaluates in ONE grouped histogram agg
    (operators/distribution.py round-4 grouped hooks), replicated by a
    DuckDB per-day histogram + sum(p*ln(p/q)).  Bin endpoints are wide
    enough that no mass falls outside (tails are exactly zero on both
    engines)."""
    from great_expectations_spark.checkpoint.runner import (
        validate_by_partition,
    )

    df = _load(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    suite = ExpectationSuite("kl").add(
        "expect_column_kl_divergence_to_be_less_than",
        column="value",
        partition_object={
            "bins": [-1e6, 100.0, 200.0, 300.0, 1e6],
            "weights": [0.3, 0.3, 0.2, 0.2],
            "tail_weights": [0.0, 0.0],
        },
        threshold=10.0,
    )
    out = validate_by_partition(df, suite, "day")
    rows = [
        (day, round(float(res.results[0].result["observed_value"]), 6))
        for day, res in out.items()
    ]
    return spark.createDataFrame(rows, "day string, kl double")


def _gen_pgm_udf():
    """Synthetic P5 bytes with the closed-form pixel function
    pixel(y, x) = (doc_id*7919 + y*32 + x) % 256 over 24x32 — shared by
    the feature and perceptual-hash oracles so both replicate the SAME
    images analytically."""
    import numpy as np

    @F.pandas_udf("binary")
    def gen_pgm(ids: pd.Series) -> pd.Series:
        y, x = np.mgrid[0:24, 0:32]

        def mk(i):
            px = ((int(i) * 7919 + y * 32 + x) % 256).astype(np.uint8)
            return b"P5\n32 24\n255\n" + px.tobytes()

        return ids.map(mk)

    return gen_pgm


def _image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup (multimodal.image_phash +
    dedup.hamming_band_pairs): REAL netpbm decode -> 8x8 block-mean /
    median pHash -> banded Hamming pair join, on the synthetic PGM
    corpus.  Full DuckDB replica: block means computed analytically
    from the pixel formula (3x4-pixel blocks are exact in IEEE double),
    interpolated median over the 64 means, bit compare, all-pairs
    Hamming <= 3 — the pigeonhole banding must return exactly the
    exact-replica pair set.  Images repeat every 256 doc_ids (7919 is
    odd), so the planted structure is ~2 exact copies per class plus
    whatever near-collisions the gradient family produces."""
    from great_expectations_spark.functions import multimodal

    docs = (
        _load(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 1000)
    )
    imgs = docs.withColumn("data", _gen_pgm_udf()(F.col("doc_id")))
    return multimodal.image_near_dup_pairs(
        imgs,
        "doc_id",
        binary_column="data",
        max_hamming=3,
        deterministic_fake=False,
        expected_corpus_size=1000,
    )


def _image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-algorithm oracle for the multimodal image path: synthetic
    P5 (grayscale PGM) bytes with a CLOSED-FORM pixel function are built
    per doc, decoded by the REAL netpbm parser, and reduced by the real
    4x4 block-mean feature extractor (`multimodal.image_features`,
    deterministic_fake=False) — while DuckDB computes the expected block
    means analytically from the same pixel formula.  24x32 splits into
    exact 6x8 blocks; integer sums are exact in IEEE double on both
    engines, so round(mean/255, 7) is bit-comparable.
    """
    from great_expectations_spark.functions import multimodal

    docs = _load(spark, sf_dir, "documents").select("doc_id")
    imgs = docs.withColumn("data", _gen_pgm_udf()(F.col("doc_id")))
    feats = multimodal.image_features(
        imgs, "data", deterministic_fake=False
    )
    return feats.select(
        "doc_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.posexplode("features").alias("fi", "raw"),
    ).select(
        "doc_id",
        "n_bytes",
        F.col("fi").cast("long").alias("fi"),
        F.round(F.col("raw"), 7).alias("val"),
    )


def _multimodal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated multimodal entry (round-4 slot consolidation):
    the REAL netpbm decode + 4x4 block-mean image features AND the
    video frame-sample plan, stacked to one
    ``(doc_id, kind, idx, val)`` frame — identical code paths to the
    former image_pipeline_docs / frame_sample_plan_docs entries, one
    report slot.  Round 5 stacks the perceptual-dedup pair rows
    (kind='phash_pair': doc_id=id_a, idx=id_b, val=hamming) from
    :func:`_image_phash_pairs`."""
    img = _image_pipeline(spark, sf_dir)
    frames = _frame_sample_plan(spark, sf_dir)
    phash_pairs = _image_phash_pairs(spark, sf_dir).select(
        F.col("id_a").alias("doc_id"),
        F.lit("phash_pair").alias("kind"),
        F.col("id_b").cast("long").alias("idx"),
        F.col("hamming").cast("double").alias("val"),
    )
    return (
        img.select(
            "doc_id",
            F.lit("img_feat").alias("kind"),
            F.col("fi").alias("idx"),
            F.col("val"),
        )
        .unionByName(
            img.select(
                "doc_id",
                F.lit("img_bytes").alias("kind"),
                F.lit(-1).cast("long").alias("idx"),
                F.col("n_bytes").cast("double").alias("val"),
            ).distinct()
        )
        .unionByName(
            frames.select(
                "doc_id",
                F.lit("frame").alias("kind"),
                F.col("frame_ts_ms").alias("idx"),
                F.lit(None).cast("double").alias("val"),
            )
        )
        .unionByName(phash_pairs)
    )


def _conv_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level dedup (functions/dedup.py
    assemble_conversations + conversation_dedup) on the events table
    read as transcripts (user_id=conv_id, event_id=turn_idx,
    props=text): every conv_id % 5 == 0 conversation is re-keyed
    (+1_000_000) and unioned in as a planted exact duplicate; the
    survivor set must be exactly the original conversations (min id
    per duplicate cluster).  Assembly uses the deterministic
    (turn_idx, md5-hex-of-text) tie-break, so the DuckDB replica's
    string_agg ORDER BY is byte-identical."""
    from great_expectations_spark.functions.dedup import (
        conversation_dedup,
    )

    ev = _load(spark, sf_dir, "events").filter(
        F.col("event_id").isNotNull()
    )
    t = ev.select(
        F.col("user_id").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        F.col("props").alias("text"),
    )
    dup = t.filter(F.col("conv_id") % 5 == 0).withColumn(
        "conv_id", F.col("conv_id") + 1_000_000
    )
    kept = conversation_dedup(t.unionByName(dup), method="exact")
    return kept.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns")
    )


def _pack_chunks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (functions/packing.py pack_concat_chunks):
    per-document block spans in the concatenated token stream, bucketed
    by the documents.source column so the canonical (source, doc_id)
    stream order is fully SQL-replicable — the distributed two-phase
    prefix sum must agree with DuckDB's single window cumsum."""
    from great_expectations_spark.functions.packing import (
        pack_concat_chunks,
    )

    docs = _load(spark, sf_dir, "documents")
    return pack_concat_chunks(
        docs, block_size=256, bucket_column="source"
    )


def _compound_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "lineitem")
    suite = ExpectationSuite("q").add(
        "expect_compound_columns_to_be_unique",
        column_list=["l_orderkey", "l_linenumber"],
    )
    res = SuiteValidator().validate(df, suite, result_format="BASIC")
    return spark.createDataFrame(
        [(res.results[0].result["unexpected_count"],)], "dup_rows bigint"
    )


def _increasing_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "events")
    suite = ExpectationSuite("q").add(
        "expect_column_values_to_be_increasing",
        column="value",
        partition_by="user_id",
        order_by=["ts", "event_id"],
    )
    res = SuiteValidator().validate(df, suite, result_format="BASIC")
    return spark.createDataFrame(
        [
            (
                res.results[0].result["element_count"],
                res.results[0].result["unexpected_count"],
            )
        ],
        "element_count bigint, unexpected_count bigint",
    )


def _contiguous_linenumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH contiguity strategies in one stacked entry (round-4 slot
    consolidation): strategy='window' (per-group lag, one shuffle) and
    the skew-immune strategy='join' (operators/window_ops.py
    _sequence_contiguous_join: self/pred markers + ONE two-phase
    pair-keyed aggregation, no per-group sort — the
    hot-conversation-proof plan the north rule asks for).  Each
    strategy keeps its own independent DuckDB replica row."""
    df = _load(spark, sf_dir, "lineitem")
    rows = []
    for strat in ("window", "join"):
        suite = ExpectationSuite("q").add(
            "expect_sequence_to_be_contiguous",
            group_column="l_orderkey",
            index_column="l_linenumber",
            first_index=1,
            strategy=strat,
        )
        res = SuiteValidator().validate(df, suite, result_format="BASIC")
        rows.append((strat, res.results[0].result["unexpected_count"]))
    return spark.createDataFrame(rows, "strategy string, gap_rows bigint")


def _anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both physical strategies of the referential check, each oracle-
    # checked: 'join' (row-level LEFT ANTI, broadcast-when-small) and
    # 'aggregate' (distinct-(key,count) reduction before the anti-join —
    # the 10^12-row shuffle shape; query_ops.py r4 session 10)
    df = _load(spark, sf_dir, "lineitem")
    rows = []
    for strategy in ("join", "aggregate"):
        suite = ExpectationSuite("q").add(
            "expect_column_values_to_exist_in_other_table",
            column="l_orderkey",
            other_table=_load(spark, sf_dir, "orders"),
            other_column="o_orderkey",
            strategy=strategy,
        )
        res = SuiteValidator().validate(df, suite, result_format="BASIC")
        rows.append((strategy, res.results[0].result["unexpected_count"]))
    return spark.createDataFrame(
        rows, "strategy string, orphan_rows bigint"
    ).orderBy("strategy")


def _rowcount_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    return li.agg(F.count(F.lit(1)).alias("self_rows")).crossJoin(
        orders.agg(F.count(F.lit(1)).alias("other_rows"))
    )


def _value_counts_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "lineitem")
    return value_counts(df, "l_returnflag").withColumnRenamed(
        "l_returnflag", "value"
    )


def _most_common(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "orders")
    suite = ExpectationSuite("q").add(
        "expect_column_most_common_value_to_be_in_set",
        column="o_orderpriority",
        value_set=["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
    )
    res = SuiteValidator().validate(df, suite, result_format="BASIC")
    modes = res.results[0].result["observed_value"]
    return spark.createDataFrame([(m,) for m in modes], "value string")


def _histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "lineitem")
    hist = dist_ops.histogram_counts(df, "l_extendedprice", HIST_BINS)
    rows = (
        [(-1, hist["below"])]
        + [(i, c) for i, c in enumerate(hist["counts"])]
        + [(len(hist["counts"]), hist["above"])]
    )
    rows = [r for r in rows if r[1]]  # oracle GROUP BY omits empty buckets
    return spark.createDataFrame(rows, "bucket int, n bigint")


def _drift_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "events")
    from great_expectations_spark.core.domain import parse_row_condition

    baseline = parse_row_condition(DRIFT_SPLIT, "spark")
    base, cur, n_base, n_cur = dist_ops._split_histograms(
        df, "value", baseline, VALUE_BINS, None
    )
    rows = [
        (i, b, c)
        for i, (b, c) in enumerate(zip(base, cur))
        if b or c  # oracle GROUP BY only materializes non-empty buckets
    ]
    return spark.createDataFrame(rows, "bucket int, n_base bigint, n_cur bigint")


def _drift_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "events")
    side = F.expr(DRIFT_SPLIT)
    return (
        df.groupBy("event_type")
        .agg(
            F.sum(F.when(side, 1).otherwise(0)).alias("n_base"),
            F.sum(F.when(~side, 1).otherwise(0)).alias("n_cur"),
        )
        .orderBy("event_type")
    )


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup stats PLUS the exact-substring (ExactSubstr, Lee et
    al. 2021) corpus totals at n=8: documents containing at least one
    duplicated 8-gram span and the total duplicated-word count after
    interval merge (functions/dedup.py repeated_spans).  The production
    path counts on chained xxhash64 gram keys; the DuckDB oracle joins
    on gram STRINGS — agreement also witnesses collision-freeness."""
    df = _load(spark, sf_dir, "documents")
    base = dedup.exact_duplicate_stats(df, "text")
    sub = dedup.repeated_spans(df, n=8).agg(
        F.count(F.lit(1)).cast("long").alias("substr_dup_docs"),
        F.coalesce(F.sum("n_dup_words"), F.lit(0))
        .cast("long")
        .alias("substr_dup_words"),
    )
    return base.crossJoin(sub)





def _lang_id_ct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar–Trenkle char-n-gram language ID (20 languages, rank-order
    out-of-place distance, Arrow-batched UDF — functions/langid.py).

    Planted-truth oracle: the driver's documents table has synthetic
    English-vocabulary text for every `lang` label, so real multilingual
    accuracy is evidenced on the module's held-out fixture
    (HELDOUT_SENTENCES — never used for profile building, includes the
    confusable pairs es/pt, da/no, sv/da, cs/pl).  The oracle SQL is the
    planted truth: 2 docs per language, all classified correctly; any
    classifier regression breaks the value hash."""
    from great_expectations_spark.functions import langid

    rows = [
        (lang, s)
        for lang, sents in sorted(langid.HELDOUT_SENTENCES.items())
        for s in sents
    ]
    df = spark.createDataFrame(rows, "true_lang string, text string")
    return (
        df.select(
            "true_lang",
            langid.language_id_ct(F.col("text")).alias("pred"),
        )
        .groupBy("true_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("pred") == F.col("true_lang"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .orderBy("true_lang")
    )



_TEXT_STATS_LANGS = ["de", "en", "es", "fr", "und"]

# Planted prose fixture for the C4 line-cleaner (Raffel et al. 2020) and
# the Gopher quality gate (Rae et al. 2021): built identically in Spark
# (createDataFrame) and DuckDB (VALUES; newlines become chr(10) concats).
# The sf documents table is punctuation-free word salad, so both rule
# families would trivially produce zeros over it — the fixture exercises
# every rule branch instead.  No apostrophes (SQL literal safety).
_C4G_LINE = (
    "The quick brown fox jumps over the lazy dog and keeps running to "
    "be sure that it will have covered enough distance with ease."
)
_C4G_PLANTED_ROWS = [
    (
        1,
        "\n".join(
            [
                "This is a perfectly normal sentence with many words.",
                "Here is another full sentence that ends properly.",
                "A third sentence keeps the page above the minimum.",
                "Does the page still read naturally after this?",
                'The last line ends with an end quotation mark."',
            ]
        ),
    ),
    (
        2,
        "\n".join(
            [
                "menu home about contact",
                "Ok.",
                "Please enable JavaScript to view this page properly.",
                _C4G_LINE,
                _C4G_LINE,
                _C4G_LINE,
                _C4G_LINE,
                _C4G_LINE,
            ]
        ),
    ),
    (3, "Lorem ipsum dolor sit amet.\n" + _C4G_LINE),
    (4, "function f() { return 1; }\n" + _C4G_LINE),
    (5, "Too few sentences here.\nOnly two of them exist."),
    (6, None),
    (
        7,
        "\n".join(["• bullet item listed here"] * 9)
        + "\nthis sentence trails off...",
    ),
    (8, " ".join([_C4G_LINE] * 5)),
    (9, " ".join(["lorem#ipsum#tag"] * 60)),
]


def _text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated text-analysis suite over documents (functions/text.py):
    token counts, stopword/punct signals, quality score, and the JVM
    stopword-argmax language mix — ONE bundled ``df.agg`` (single scan,
    zero shuffles, conditional sums for the per-language counts), stacked
    to (metric, value) rows so every metric keeps its own oracle row.
    Folds the former token_stats / stopword_stats / quality /
    lang_id_fast entries into one report slot under the driver's
    50-entry budget."""
    df = _load(spark, sf_dir, "documents")
    text = F.col("text")
    toks = gxtext.token_count(text)
    lang_pred = gxtext.language_id_fast(text)
    aggs = [
        F.sum(toks).cast("double").alias("total_tokens"),
        F.max(toks).cast("double").alias("max_tokens"),
        F.min(toks).cast("double").alias("min_tokens"),
        F.sum(gxtext.stopword_count(text, "en")).cast("double").alias(
            "en_stopwords"
        ),
        F.round(F.avg(gxtext.punct_ratio(text)), 6).alias("avg_punct_ratio"),
        F.round(F.avg(gxtext.quality_score(text)), 4).alias("avg_quality"),
    ] + [
        F.sum(F.when(lang_pred == lang, 1).otherwise(0))
        .cast("double")
        .alias(f"lang_{lang}")
        for lang in _TEXT_STATS_LANGS
    ]
    wide = df.agg(*aggs)
    names = [
        "total_tokens",
        "max_tokens",
        "min_tokens",
        "en_stopwords",
        "avg_punct_ratio",
        "avg_quality",
    ] + [f"lang_{lang}" for lang in _TEXT_STATS_LANGS]
    stack = ", ".join(f"'{n}', {n}" for n in names)
    base = wide.selectExpr(f"stack({len(names)}, {stack}) AS (metric, value)")

    # C4 + Gopher over the planted fixture (full rule chains; the DuckDB
    # oracle re-derives every rule from the same VALUES rows)
    from great_expectations_spark.functions import curation as gxcuration

    planted = spark.createDataFrame(_C4G_PLANTED_ROWS, "id int, text string")
    c4 = gxcuration.c4_stats(planted).agg(
        F.sum(F.col("c4_keep").cast("int")).cast("double").alias(
            "c4_kept_docs"
        ),
        F.sum("c4_n_kept_lines").cast("double").alias("c4_kept_lines"),
        F.sum("c4_n_sentences").cast("double").alias("c4_sentences"),
        F.coalesce(F.sum(F.length("c4_clean_text")), F.lit(0))
        .cast("double")
        .alias("c4_clean_chars"),
    )
    c4_names = ["c4_kept_docs", "c4_kept_lines", "c4_sentences",
                "c4_clean_chars"]
    c4_stack = ", ".join(f"'{n}', {n}" for n in c4_names)
    gop = gxtext.gopher_rules(planted).agg(
        F.sum(F.col("gopher_keep").cast("int")).cast("double").alias(
            "gopher_kept_docs"
        ),
        F.sum("gopher_n_words").cast("double").alias("gopher_words"),
        F.sum("gopher_n_stopwords").cast("double").alias(
            "gopher_stopwords"
        ),
        F.round(F.sum("gopher_mean_word_len"), 6).alias(
            "gopher_meanlen_sum"
        ),
        F.round(F.sum("gopher_symbol_word_ratio"), 6).alias(
            "gopher_symratio_sum"
        ),
        F.round(F.sum("gopher_bullet_line_frac"), 6).alias(
            "gopher_bullet_sum"
        ),
        F.round(F.sum("gopher_ellipsis_line_frac"), 6).alias(
            "gopher_ellipsis_sum"
        ),
        F.round(F.sum("gopher_alpha_word_frac"), 6).alias(
            "gopher_alpha_sum"
        ),
    )
    gop_names = [
        "gopher_kept_docs", "gopher_words", "gopher_stopwords",
        "gopher_meanlen_sum", "gopher_symratio_sum", "gopher_bullet_sum",
        "gopher_ellipsis_sum", "gopher_alpha_sum",
    ]
    gop_stack = ", ".join(f"'{n}', {n}" for n in gop_names)
    return (
        base.unionAll(
            c4.selectExpr(
                f"stack({len(c4_names)}, {c4_stack}) AS (metric, value)"
            )
        )
        .unionAll(
            gop.selectExpr(
                f"stack({len(gop_names)}, {gop_stack}) AS (metric, value)"
            )
        )
        .orderBy("metric")
    )


def _decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark n-gram decontamination (functions/curation.py —
    GPT-3 appendix-C 13-gram overlap rule): the benchmark is a
    deterministic slice of the corpus itself (doc_id % 25 == 0), so
    those documents — and any near-copies sharing a 13-gram — must flag
    contaminated.  Production path under oracle: hashed gram keys
    (xxhash64), benchmark side broadcast, per-doc match counts from the
    matched rows only.  The DuckDB replica joins on the gram STRINGS;
    agreement additionally witnesses hash-collision-freeness at this
    scale."""
    from great_expectations_spark.functions import curation

    docs = _load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    stats = curation.contamination_stats(docs, bench, n=13)
    gram = stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("contaminated").cast("bigint")).alias("n_contaminated"),
        F.sum("n_matched").alias("total_matched"),
        F.max("n_matched").alias("max_matched"),
    )
    # semantic (embedding-level) decontamination rides the same slot:
    # benchmark = vec_id % 20 embeddings, exact matmul path (float64),
    # tau=0.8 sits 0.2 away from every non-self similarity in the data
    emb = _load(spark, sf_dir, "embeddings")
    sem = curation.semantic_contamination_stats(
        emb,
        emb.filter(F.col("vec_id") % 20 == 0),
        id_column="vec_id",
        threshold=0.8,
    )
    sem_agg = sem.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("contaminated").cast("bigint")).alias(
            "n_sem_contaminated"
        ),
        F.round(F.avg("bench_max_sim"), 6).alias("avg_max_sim"),
    )
    return gram.crossJoin(sem_agg)


# Planted PII fixture: built identically in Spark (createDataFrame) and
# the DuckDB oracle (VALUES).  Covers every pattern kind, the Luhn gate
# (one valid + one checksum-broken card per shape), boundary-adjacent
# non-matches, and a null row.  No apostrophes (SQL literal safety).
_PII_PLANTED_ROWS = [
    (1, "contact john.doe+spam@example.co.uk or jane_x@sub.example.org today"),
    (2, "valid card 4111 1111 1111 1111 and luhn-bad 4111-1111-1111-1112"),
    (3, "host 10.0.0.1 gateway 192.168.255.254 ssn 123-45-6789"),
    (4, "call (415) 555-1234 or 1-212-555-0000 now"),
    (5, "mc 5500 0055 5555 5559 visa 4012888888881881 amex 378282246310005"),
    (6, "no pii at all, just plain numbers 123 456 and a date 2024-01-01"),
    (7, None),
]


def _pii_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (functions/curation.py): per-kind match
    totals over the planted fixture — credit cards Luhn-gated by a pure
    SQL aggregate fold, zero UDFs — plus an md5 fingerprint of every
    redacted text under stable id order, so a single mis-redacted
    character anywhere flips the row.  The oracle recomputes counts,
    the Luhn fold, and the full redaction chain in DuckDB SQL."""
    from great_expectations_spark.functions import curation

    df = spark.createDataFrame(_PII_PLANTED_ROWS, "id int, text string")
    counts = curation.pii_counts(F.col("text"))
    agg_counts = [
        F.sum(c).cast("bigint").alias(f"n_{kind}")
        for kind, c in counts.items()
    ]
    red = F.coalesce(curation.redact_pii(F.col("text")), F.lit(""))
    fp = F.md5(
        F.concat_ws(
            "|",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("id").alias("i"), red.alias("r"))
                    )
                ),
                lambda s: s["r"],
            ),
        )
    ).alias("redact_fp")
    return df.agg(*agg_counts, fp)


_MIX_WEIGHTS = [
    ("src0", 0.4),
    ("src1", 0.2),
    ("src2", 0.2),
    ("src3", 0.1),
    ("src4", 0.1),
]

_DSIR_BUCKETS = 256
_DSIR_K = 50
_DSIR_SEED = "dsir"


def _mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling (functions/curation.py): documents
    subsampled per ``source`` to fixed target weights with maximum
    retention — keep decisions are md5-threshold (engine-portable, same
    construction as the md5-parity sampler), so the kept SET is
    byte-identical across engines; kept counts + doc_id sums per source
    pin membership, and the DuckDB replica recomputes the rate math
    (T = min(n_g / w_g)) in SQL."""
    from great_expectations_spark.functions import curation

    docs = _load(spark, sf_dir, "documents")
    kept = curation.mix_sample(
        docs,
        "source",
        dict(_MIX_WEIGHTS),
        key_columns=["doc_id"],
        seed="mix",
    )
    mix_rows = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept"),
        F.sum("doc_id").alias("key_sum"),
    )
    # token-weighted mixture (weight_by='tokens'): same md5 keep rule,
    # rate math over token masses — rows prefixed 'tok_' in the frame
    tok_kept = curation.mix_sample(
        docs, "source", dict(_MIX_WEIGHTS),
        key_columns=["doc_id"], seed="tokmix", weight_by="tokens",
    )
    tok_rows = (
        tok_kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept"),
            F.sum("doc_id").alias("key_sum"),
        )
        .select(
            F.concat(F.lit("tok_"), F.col("source")).alias("source"),
            "kept",
            "key_sum",
        )
    )
    mix_rows = mix_rows.unionAll(tok_rows)
    # DSIR importance resampling rides the same row shape: membership of
    # the Gumbel-top-k selection is pinned by (count, doc_id sum).  md5
    # parity mode end to end — train (target = lang='en' docs vs the
    # whole pool), per-doc log-weight, seeded Gumbel key — so the DuckDB
    # replica reproduces the selected SET byte-identically.
    model = curation.train_dsir(
        docs.filter(F.col("lang") == "en"), docs,
        n_buckets=_DSIR_BUCKETS, hash_function="md5",
    )
    sel = curation.dsir_sample(docs, model, k=_DSIR_K, seed=_DSIR_SEED)
    dsir_row = sel.agg(
        F.count(F.lit(1)).alias("kept"),
        F.sum("doc_id").alias("key_sum"),
    ).select(F.lit("zz_dsir").alias("source"), "kept", "key_sum")
    return mix_rows.unionAll(dsir_row).orderBy("source")


def _ann_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _load(spark, sf_dir, "embeddings")
    qrow = df.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(v) for v in qrow["embedding"]]
    emb = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return similarity.threshold_neighbors(emb, query, 0.2).orderBy("vec_id")


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, exact-jaccard verified.  Oracle:
    DuckDB exact all-pairs shingle Jaccard — identical output because LSH
    recall at j>=0.9 (the planted near-dup band; nothing else clears 0.4)
    is 1 - (1 - 0.9^4)^16 ≈ 1-3e-8 with 64 hashes / 16 bands."""
    df = _load(spark, sf_dir, "documents")
    return (
        dedup.minhash_candidate_pairs(
            df, "doc_id", "text", shingle_k=3, num_hashes=64, bands=16,
            verify_threshold=0.4,
        )
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-feature SimHash near-dup pairs (block-combination banding).
    Oracle: exact shingle-Jaccard pairs at 0.7 — equal sets because
    3-shingle SimHash separates cleanly here (near-dups land at hamming
    <= 8, unrelated docs >= 15, so the <=10 cut recovers exactly the
    planted near-dup pairs)."""
    df = _load(spark, sf_dir, "documents")
    return (
        dedup.simhash_candidate_pairs(
            df, "doc_id", "text", max_hamming=10, shingle_k=3
        )
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


LSH_ANN_BITS = 8
LSH_ANN_HAMMING = 2
LSH_ANN_SEED = 42


def _lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (multi-probe hamming<=2) vs the vec_id=0
    query.  The oracle replicates the FULL algorithm in DuckDB — seeded
    hyperplanes as literals, sign-bit signature, probe filter, exact
    cosine top-k — so this is a value-level check of candidate generation
    AND refinement, not a recall proxy."""
    df = _load(spark, sf_dir, "embeddings")
    qrow = df.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(v) for v in qrow["embedding"]]
    emb = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
    return similarity.lsh_topk(
        emb, query, k=10, n_bits=LSH_ANN_BITS, max_hamming=LSH_ANN_HAMMING,
        seed=LSH_ANN_SEED,
    )


def _query_value_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-SQL query expectation (pair template): correlation scalar."""
    df = _load(spark, sf_dir, "lineitem")
    suite = ExpectationSuite("q").add(
        "expect_query_value_to_be_between",
        query="SELECT round(corr({column_A}, {column_B}), 6) FROM {batch}",
        column_A="l_quantity", column_B="l_extendedprice",
        min_value=-1.0, max_value=1.0,
    )
    res = SuiteValidator().validate(df, suite, result_format="BASIC")
    r = res.results[0]
    if r.exception_info["raised_exception"]:
        raise RuntimeError(r.exception_info["exception_message"])
    return spark.createDataFrame(
        [(float(r.result["observed_value"]), bool(r.success))],
        "corr_qty_price double, success boolean",
    )


def _query_no_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'No rows returned' violation query over the orders table."""
    df = _load(spark, sf_dir, "orders")
    suite = ExpectationSuite("q").add(
        "expect_query_results_to_return_no_rows",
        query="SELECT o_orderkey FROM {batch} WHERE o_totalprice > 400000",
    )
    res = SuiteValidator().validate(df, suite, result_format="BASIC")
    r = res.results[0]
    if r.exception_info["raised_exception"]:
        raise RuntimeError(r.exception_info["exception_message"])
    return spark.createDataFrame(
        [(int(r.result["unexpected_count"]),)], "violation_rows bigint"
    )


def _query_freq_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical QueryExpectation: value-frequency threshold."""
    df = _load(spark, sf_dir, "orders")
    suite = ExpectationSuite("q").add(
        "expect_queried_column_value_frequency_to_meet_threshold",
        column="o_orderpriority", value="1-URGENT", threshold=0.05,
    )
    res = SuiteValidator().validate(df, suite, result_format="BASIC")
    r = res.results[0]
    if r.exception_info["raised_exception"]:
        raise RuntimeError(r.exception_info["exception_message"])
    return spark.createDataFrame(
        [(round(float(r.result["observed_value"]), 6), bool(r.success))],
        "freq_urgent double, success boolean",
    )


def _ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard inverted-index pairs (df-capped)."""
    df = _load(spark, sf_dir, "documents")
    return (
        dedup.ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.7)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs -> duplicate CLUSTERS: exact-Jaccard pairs feed the
    large-star/small-star connected-components operator; output is one row
    per cluster (component = min doc_id, size).  Oracle recomputes the
    labels with a DuckDB recursive CTE over the identical pair set."""
    df = _load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", k=3, threshold=0.7
    )
    return (
        dedup.duplicate_clusters(pairs)
        .select(
            F.col("component").cast("long").alias("component"),
            F.col("size").cast("long").alias("size"),
        )
        .orderBy("component")
    )


def _embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: LSH signature buckets + exact-cosine
    refine.  Oracle replicates the FULL pipeline in DuckDB (literal
    hyperplanes -> sign-bit signature -> same-bucket join -> cosine)."""
    df = _load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return (
        similarity.embedding_near_dup_pairs(
            df, threshold=0.2, n_bits=LSH_ANN_BITS, seed=LSH_ANN_SEED
        )
        .orderBy("id_a", "id_b")
    )


def _ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (k-means coarse quantizer + inverted-list scan) at full
    probe width: exercises the REAL index build + assignment + probe scan
    + cosine refine, with an exact-top-k oracle (n_probe = n_clusters is
    provably equal to brute force, independent of the clustering)."""
    df = _load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qrow = df.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(v) for v in qrow["embedding"]]
    assigned, centroids = similarity.ivf_index(df, n_clusters=8, seed=3)
    return similarity.ivf_topk(
        assigned, centroids, query, k=10, n_probe=8
    )


def _days_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar contiguity + the incremental partition-sketch store
    (checkpoint/sketches.py, r4 session 10), stacked as (metric, value)
    rows so every sketch kind keeps an oracle row: merged-HLL distinct
    (exact in sparse mode at this cardinality), merged-moments count,
    merged-top-k heaviest frequency, and the resume contract (second
    update computes zero partitions)."""
    import tempfile

    from great_expectations_spark.checkpoint.sketches import (
        PartitionSketchStore,
    )

    df = _load(spark, sf_dir, "events")
    suite = ExpectationSuite("q").add(
        "expect_column_to_have_no_days_missing", column="ts", threshold=0
    )
    res = SuiteValidator().validate(df, suite, result_format="BASIC")
    r = res.results[0]
    if r.exception_info["raised_exception"]:
        raise RuntimeError(r.exception_info["exception_message"])
    rows = [
        ("days_missing", int(r.result["observed_value"])),
        ("days_missing_ok", int(bool(r.success))),
    ]
    dfp = df.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    with tempfile.TemporaryDirectory() as d:
        store = PartitionSketchStore(d, lg_k=12, topk_max_items=10_000)
        store.update(dfp, "day", ["user_id"], kinds=("hll",))
        store.update(dfp, "day", ["value"], kinds=("moments", "topk"))
        resumed = store.update(dfp, "day", ["user_id"], kinds=("hll",))
        est = store.merged_distinct(spark, ["user_id"])["user_id"]
        mom = store.merged_moments(["value"])["value"]
        topk = store.merged_topk(spark, ["value"], k=100)["value"]
        rows += [
            ("sk_distinct_user_id", int(est)),
            ("sk_count_value", int(mom["count"])),
            ("sk_top1_value_count", max(c for _, c in topk)),
            ("sk_resume_recomputed", len(resumed)),
        ]
    return spark.createDataFrame(
        rows, "metric string, value bigint"
    ).orderBy("metric")


def _grouped_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-partition validation (validate_by_partition): every
    day's whole-suite counters from ONE groupBy pass."""
    from great_expectations_spark.checkpoint.runner import validate_by_partition

    df = _load(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    suite = ExpectationSuite("daily").add(
        "expect_column_values_to_be_between",
        column="value",
        min_value=0,
        max_value=400,
    )
    per_day = validate_by_partition(df, suite, "day")
    rows = [
        (
            day,
            int(res.results[0].result["element_count"]),
            int(res.results[0].result["unexpected_count"]),
        )
        for day, res in per_day.items()
    ]
    return spark.createDataFrame(
        rows, "day string, element_count bigint, unexpected_count bigint"
    )


def _grouped_jobs_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition JOB expectations in O(1) Spark jobs
    (CompiledJob.grouped hooks): referential anti-join + two-sample PSI
    drift evaluated for every l_returnflag partition in one grouped
    anti-join + one grouped conditional-agg pass — not one job per
    partition (reference runs a full validation per batch; this is the
    10^5-partition scale path)."""
    from great_expectations_spark.checkpoint.runner import validate_by_partition

    lineitem = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    suite = (
        ExpectationSuite("grouped_jobs")
        .add(
            "expect_column_values_to_exist_in_other_table",
            column="l_orderkey",
            other_table=orders,
            other_column="o_orderkey",
        )
        .add(
            "expect_column_two_sample_psi_to_be_less_than",
            column="l_quantity",
            baseline_condition="l_linestatus = 'F'",
            threshold=10.0,
            bins=[1, 11, 21, 31, 41, 51],
        )
    )
    per_part = validate_by_partition(lineitem, suite, "l_returnflag")
    rows = []
    for part, res in sorted(per_part.items()):
        ref, psi = res.results
        rows.append(
            (
                part,
                int(ref.result["element_count"]),
                int(ref.result["unexpected_count"]),
                int(psi.result["details"]["n_baseline"]),
                int(psi.result["details"]["n_current"]),
                round(float(psi.result["observed_value"]), 6),
            )
        )
    return spark.createDataFrame(
        rows,
        "part string, ref_element_count bigint, ref_unexpected bigint, "
        "n_baseline bigint, n_current bigint, psi double",
    ).orderBy("part")


def _grouped_shared_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared grouped window pass (`validate_by_partition` runs
    `SuiteValidator._fused_window_group` with the partition column as
    group prefix):
    a monotonicity expectation and a compound-uniqueness expectation on
    the same (day, user_id) / event_id window spec compute BOTH per-day
    counts (and samples) in one job — one window shuffle, then a
    per-(day, member) top-k that counts the flagged rows — with
    uniqueness riding as an adjacent-duplicate flag instead of its own
    groupBy.  Oracled by a DuckDB window replica (lag IGNORE NULLS
    mirrors the engine's null-transparent previous-value semantics)."""
    from great_expectations_spark.checkpoint.runner import (
        validate_by_partition,
    )

    events = _load(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    suite = (
        ExpectationSuite("grouped_shared_window")
        .add(
            "expect_column_values_to_be_increasing",
            column="value",
            partition_by=["day", "user_id"],
            order_by="event_id",
            mostly=0.01,
        )
        .add(
            "expect_compound_columns_to_be_unique",
            column_list=["day", "user_id", "event_id"],
        )
    )
    per_part = validate_by_partition(events, suite, "day")
    rows = []
    for part, res in sorted(per_part.items()):
        inc, dup = res.results
        rows.append(
            (
                str(part),
                int(inc.result["element_count"]),
                int(inc.result["unexpected_count"]),
                int(dup.result["unexpected_count"]),
            )
        )
    return spark.createDataFrame(
        rows,
        "day string, element_count bigint, inc_unexpected bigint, "
        "dup_unexpected bigint",
    ).orderBy("day")


def _zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _map_counts(
        spark,
        sf_dir,
        "lineitem",
        "expect_column_value_z_scores_to_be_less_than",
        column="l_extendedprice",
        threshold=1.5,
        double_sided=True,
    )


def _splitter_md5_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 reference-parity hash sampler (sources/splitters.py
    _hash_bucket — reference ``sparkdf_data_sampler.py:142-203`` keeps
    rows whose md5 hexdigest ends in ``hash_value``): JVM-side ``F.md5``
    must select the exact same orderkeys as DuckDB's ``md5()`` on the
    same stringified column — byte-identical bucket membership, summed
    and counted so any divergence flips the hash."""
    from great_expectations_spark.sources.splitters import sample_using_hash

    df = _load(spark, sf_dir, "orders")
    kept = sample_using_hash(
        df, "o_orderkey", hash_digits=1, hash_value="f",
        hash_function_name="md5",
    )
    return kept.agg(
        F.count(F.lit(1)).alias("kept_rows"),
        F.sum("o_orderkey").alias("key_sum"),
    )


def _rbp_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RuleBasedProfiler end-to-end (operators/rule_profiler.py —
    reference ``rule_based_profiler/rule_based_profiler.py``): yearly
    batches of orders; the table rule derives an exact row-count range
    from per-batch counts, the categorical rule screens cardinality and
    derives value sets as the union across batches.  All discrete values,
    so the oracle replicates exactly (GROUP BY year + distinct agg)."""
    from great_expectations_spark.operators.rule_profiler import (
        CategoricalColumnDomainBuilder,
        DefaultExpectationConfigurationBuilder,
        NumericMetricRangeParameterBuilder,
        Rule,
        RuleBasedProfiler,
        TableDomainBuilder,
        ValueSetParameterBuilder,
    )

    orders = _load(spark, sf_dir, "orders")
    years = sorted(
        r[0]
        for r in orders.select(
            F.year("o_orderdate").alias("y")
        ).distinct().collect()
    )
    batches = [
        orders.filter(F.year("o_orderdate") == F.lit(y)) for y in years
    ]
    profiler = RuleBasedProfiler(
        "entry_profiler",
        rules=[
            Rule(
                name="table",
                domain_builder=TableDomainBuilder(),
                parameter_builders=[
                    NumericMetricRangeParameterBuilder(
                        "rc",
                        "table.row_count",
                        estimator="exact",
                        round_decimals=0,
                    )
                ],
                expectation_configuration_builders=[
                    DefaultExpectationConfigurationBuilder(
                        "expect_table_row_count_to_be_between",
                        min_value="$parameter.rc.value[0]",
                        max_value="$parameter.rc.value[1]",
                    )
                ],
            ),
            Rule(
                name="categorical",
                domain_builder=CategoricalColumnDomainBuilder(
                    max_unique_values=10,
                    include_column_names=[
                        "o_orderpriority",
                        "o_orderstatus",
                    ],
                ),
                parameter_builders=[ValueSetParameterBuilder("vs")],
                expectation_configuration_builders=[
                    DefaultExpectationConfigurationBuilder(
                        "expect_column_values_to_be_in_set",
                        value_set="$parameter.vs.value",
                    )
                ],
            ),
        ],
    )
    suite = profiler.run(batches).suite
    rows = []
    for e in suite.expectations:
        if e.expectation_type == "expect_table_row_count_to_be_between":
            rows.append(
                (
                    "row_count_between",
                    "",
                    int(e.kwargs["min_value"]),
                    int(e.kwargs["max_value"]),
                    "",
                )
            )
        else:
            rows.append(
                (
                    "in_set",
                    e.kwargs["column"],
                    None,
                    None,
                    ",".join(e.kwargs["value_set"]),
                )
            )
    rows.sort(key=lambda r: (r[0], r[1]))
    return spark.createDataFrame(
        rows,
        "etype string, column_name string, min_v bigint, max_v bigint, "
        "value_set string",
    )


def _streaming_windowed_violations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Structured Streaming end-to-end (streaming/validate_stream.py —
    reference has no streaming engine; this is the Spark-native
    extension): a real ``readStream`` over the events table feeds
    ``windowed_violation_counts`` (suite-flagging + event-time 1-day
    tumbling windows + watermark), drained with ``availableNow`` into a
    complete-mode memory sink.  Complete output mode makes the result
    deterministic (the watermark never discards rows, it only bounds
    state for the append path), so the full batch GROUP BY oracle
    replicates it exactly — upgrading streaming correctness from
    unit-only to oracle-checked."""
    import uuid

    from great_expectations_spark.streaming.validate_stream import (
        windowed_violation_counts,
    )

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # the file stream source wants a directory to monitor; the testdata
    # table is a single file, so expose it through a symlink dir
    src_dir = "/tmp/gx_stream_events_" + sf_dir.strip("/").replace("/", "_")
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    # watermarks require TIMESTAMP (LTZ); the parquet column is NTZ.
    # Session tz is UTC, so the cast is wall-clock identity.
    stream = spark.readStream.schema(schema).parquet(src_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    suite = (
        ExpectationSuite("stream.events")
        .add(
            "expect_column_values_to_be_between",
            column="value",
            min_value=0,
            max_value=150,
        )
        .add(
            "expect_column_values_to_be_in_set",
            column="event_type",
            value_set=["signup", "click", "view", "purchase"],
        )
    )
    agg = windowed_violation_counts(
        stream,
        suite,
        ts_column="ts",
        window_duration="1 day",
        watermark="3650 days",
    )
    sink = f"gx_stream_{uuid.uuid4().hex[:12]}"
    query = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return (
        spark.table(sink)
        .select(
            F.date_format("window_start", "yyyy-MM-dd").alias("day"),
            F.col("rows").alias("element_count"),
            F.col("unexpected_rows").alias("unexpected_count"),
            F.round(F.col("unexpected_rate"), 6).alias("unexpected_rate"),
        )
        .orderBy("day")
    )


def _turn_text_order_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row invariant from the north rule's input hint: per-turn TEXT
    EQUALITY under STABLE turn ordering.  events is the transcript analog
    (user_id=conv_id, event_id=turn_idx, props=text): each conversation's
    texts are concatenated under the deterministic (turn_idx, md5(text))
    sort — the md5 HEX of the null-coalesced text breaks any turn-idx
    ties, and hex digits order identically under ANY engine collation
    (raw text ties would order by the oracle engine's string collation,
    which need not be binary — round-3 ADVICE) — then md5-fingerprinted;
    the fingerprint set reduces to one comparable row.  Any
    single-character text divergence or ordering instability flips a
    fingerprint and the row mismatches.
    One groupBy shuffle; collect_list is bounded by conversation length
    (map-side groups are per conversation, never the whole table)."""
    df = _load(spark, sf_dir, "events").filter(F.col("event_id").isNotNull())
    per = df.groupBy("user_id").agg(
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("event_id").alias("i"),
                                F.md5(
                                    F.coalesce(F.col("props"), F.lit(""))
                                ).alias("h"),
                                F.coalesce(F.col("props"), F.lit("")).alias(
                                    "t"
                                ),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
            )
        ).alias("fp"),
        F.count(F.lit(1)).alias("n_turns"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.countDistinct("fp").alias("n_distinct_fp"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
        F.sum("n_turns").alias("n_turns"),
    )


def _value_freq_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_counts + most_common bundled into one report slot (both ride
    the same groupBy-count machinery); cnt = -1 marks the mode rows,
    which carry no count in the reference's observed_value."""
    vc = _value_counts_flag(spark, sf_dir).select(
        F.lit("value_counts_returnflag").alias("expectation"),
        F.col("value").cast("string").alias("value"),
        F.col("count").cast("long").alias("cnt"),
    )
    mc = _most_common(spark, sf_dir).select(
        F.lit("most_common_priority").alias("expectation"),
        F.col("value").cast("string").alias("value"),
        F.lit(-1).cast("long").alias("cnt"),
    )
    # approximate (approx_top_k sketch) mode: exact at this cardinality
    # (5 priorities << max_items_tracked), so it shares the SQL replica
    suite = ExpectationSuite("q").add(
        "expect_column_most_common_value_to_be_in_set",
        column="o_orderpriority",
        value_set=["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                   "5-LOW"],
        approximate=True,
    )
    res = SuiteValidator().validate(
        _load(spark, sf_dir, "orders"), suite, result_format="BASIC"
    )
    mca = spark.createDataFrame(
        [(m,) for m in res.results[0].result["observed_value"]],
        "value string",
    ).select(
        F.lit("most_common_priority_sketch").alias("expectation"),
        F.col("value"),
        F.lit(-1).cast("long").alias("cnt"),
    )
    return vc.unionAll(mc).unionAll(mca).orderBy("expectation", "value")


def _query_suite_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both user-SQL query expectations over orders in one report slot:
    no-rows violation count + value-frequency threshold."""
    nr = _query_no_rows(spark, sf_dir).select(
        F.lit("query_no_rows").alias("expectation"),
        F.col("violation_rows").cast("double").alias("metric"),
        (F.col("violation_rows") == 0).alias("success"),
    )
    fq = _query_freq_urgent(spark, sf_dir).select(
        F.lit("query_freq_urgent").alias("expectation"),
        F.col("freq_urgent").cast("double").alias("metric"),
        F.col("success"),
    )
    return nr.unionAll(fq).orderBy("expectation")


def _asof_purchase_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→most-recent-purchase attribution through
    ``functions/temporal.asof_join`` (pandas merge_asof / DuckDB ASOF
    JOIN semantics; ONE window shuffle on user_id — no inequality-join
    row blowup).  Right side deduped to one purchase per (user, ts) so
    tie-breaking can't differ between engines; integer aggregates only
    (event-id sums), so the compare is bit-exact."""
    e = _load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    j = asof_join(clicks, purchases, on="ts", by="user_id")
    within = F.col("purchase_id").isNotNull() & (
        (
            F.col("ts").cast("timestamp").cast("double")
            - F.col("ts_r").cast("timestamp").cast("double")
        )
        <= F.lit(3600.0)
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count("purchase_id").alias("n_matched"),
        F.coalesce(F.sum("purchase_id"), F.lit(0).cast("long")).alias(
            "sum_purchase_id"
        ),
        F.sum(F.when(within, 1).otherwise(0)).cast("long").alias(
            "n_within_1h"
        ),
    )


def _range_join_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join over OVERLAPPING price bands via
    ``functions/temporal.range_join`` on the binned strategy — intervals
    explode onto fixed-width bins, the join is a hash equi-join on
    bin_id + residual filter (no nested loop; plan-asserted in
    tests/test_temporal.py).  Oracle is the plain inequality join."""
    part = _load(spark, sf_dir, "part").filter(
        F.col("p_retailprice").isNotNull()
    ).select("p_partkey", "p_retailprice")
    iv = spark.range(0, 40).select(
        (F.lit(900.0) + F.col("id") * F.lit(2.5)).alias("lo"),
        (F.lit(906.0) + F.col("id") * F.lit(2.5)).alias("hi"),
        F.col("id").alias("interval_id"),
    )
    j = range_join(
        part, iv, "p_retailprice", "lo", "hi",
        strategy="binned", bin_width=2.5,
    )
    return (
        j.groupBy("interval_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("p_partkey").alias("sum_partkey"),
        )
        .orderBy("interval_id")
    )


def _sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (1h) via ``functions/temporal.sessionize``
    (per-key lag + running break-flag sum, one window shuffle — the
    batch counterpart of Structured Streaming's session_window), reduced
    to engine-comparable session-population stats.  Session SIZES are
    deterministic under timestamp ties: equal ts → gap 0 regardless of
    tie order."""
    e = _load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select("user_id", "ts")
    s = sessionize(e, "user_id", "ts", gap=3600.0)
    sizes = s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return sizes.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n").alias("max_len"),
        F.sum("n").alias("n_rows"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # --- map conditions, bundled per-table suites (ONE agg pass each;
        #     every metric keeps its own oracle row via the check key) ---
        "map_suite_lineitem": lambda s, d: _map_counts_suite(
            s, d, "lineitem",
            [
                ("in_set_returnflag",
                 "expect_column_values_to_be_in_set",
                 dict(column="l_returnflag", value_set=["A", "N", "R"])),
                ("between_quantity",
                 "expect_column_values_to_be_between",
                 dict(column="l_quantity", min_value=5, max_value=45)),
                ("row_condition_between",
                 "expect_column_values_to_be_between",
                 dict(column="l_quantity", min_value=10, max_value=50,
                      row_condition="l_returnflag = 'A'",
                      condition_parser="spark")),
                ("pair_greater",
                 "expect_column_pair_values_a_to_be_greater_than_b",
                 dict(column_A="l_extendedprice", column_B="l_quantity")),
                ("pair_equal_flags",
                 "expect_column_pair_values_to_be_equal",
                 dict(column_A="l_returnflag", column_B="l_linestatus")),
                ("multicolumn_sum_between",
                 "expect_multicolumn_sum_values_to_be_between",
                 dict(column_list=["l_quantity", "l_linenumber"],
                      min_value=5, max_value=40)),
                ("multicolumn_sum",
                 "expect_multicolumn_sum_to_equal",
                 dict(column_list=["l_quantity", "l_linenumber"],
                      sum_total=10)),
                ("unique_within_record",
                 "expect_select_column_values_to_be_unique_within_record",
                 dict(column_list=["l_partkey", "l_suppkey"])),
            ],
        ),
        # orders + part folded into ONE entry (r4: frees a report slot for
        # dedup_clusters_docs under the driver's 50-entry budget; every
        # check keeps its own oracle row via the expectation key)
        "map_suite_orders_part": lambda s, d: _map_counts_suite(
            s, d, "orders",
            [
                ("not_in_set_status",
                 "expect_column_values_to_not_be_in_set",
                 dict(column="o_orderstatus", value_set=["X"])),
                ("length_between_priority",
                 "expect_column_value_lengths_to_be_between",
                 dict(column="o_orderpriority", min_value=6, max_value=15)),
                ("like_priority",
                 "expect_column_values_to_match_like_pattern",
                 dict(column="o_orderpriority", like_pattern="%URGENT%")),
            ],
        ).unionAll(_map_counts_suite(
            s, d, "part",
            [
                ("regex_pname",
                 "expect_column_values_to_match_regex",
                 dict(column="p_name", regex="^[a-z]+ [a-z]+$")),
                ("not_match_regex_pname",
                 "expect_column_values_to_not_match_regex",
                 dict(column="p_name", regex="[0-9]")),
                ("regex_list_brand",
                 "expect_column_values_to_match_regex_list",
                 dict(column="p_brand", regex_list=["^Brand#1", "^Brand#2"],
                      match_on="any")),
            ],
        )).orderBy("expectation"),
        # events json-parseable folded in (r4 session 7: frees a report
        # slot for the temporal family; keeps its own oracle row via the
        # expectation key)
        "map_suite_docs": lambda s, d: _map_counts_suite(
            s, d, "documents",
            [
                ("not_null_docs",
                 "expect_column_values_to_not_be_null",
                 dict(column="text")),
                ("multicolumn_not_all_null",
                 "expect_multicolumn_values_not_to_be_all_null",
                 dict(column_list=["text", "lang"])),
            ],
        ).unionAll(_map_counts_suite(
            s, d, "events",
            [
                ("json_parseable_props",
                 "expect_column_values_to_be_json_parseable",
                 dict(column="props")),
            ],
        )).orderBy("expectation"),
        "zscore_extendedprice": _zscore,
        # --- window / uniqueness (two-phase groupBy path) ---
        "unique_orderkey": _unique_dup_rows,
        "window_samples_events": _window_samples_events,
        # image pipeline + frame-sample plan stacked into one slot
        "multimodal_docs": _multimodal_docs,
        "grouped_kl_by_day": _grouped_kl_by_day,
        "streaming_stateful_gaps": _streaming_stateful_gaps,
        "compound_unique_lineitem": _compound_unique,
        "increasing_events": _increasing_events,
        # window + join strategies stacked into one slot
        "contiguous_linenumber": _contiguous_linenumber,
        # --- aggregates (single bundled agg) ---
        "agg_stats_quantity": _agg_stats,
        "quantiles_extendedprice": _quantiles,
        "distinct_partkey": _distinct_counts,
        # value_counts + most_common bundled into one slot (r4 session 7)
        "value_freq_suite": _value_freq_suite,
        "histogram_extendedprice": _histogram,
        # --- user-SQL query expectations (escape hatch) ---
        "query_value_corr": _query_value_corr,
        "query_suite_orders": _query_suite_orders,
        # --- temporal / ordered joins (functions/temporal.py) ---
        "asof_purchase_attrib": _asof_purchase_attrib,
        "range_join_part": _range_join_part,
        "sessionize_events": _sessionize_events,
        # --- rule-based profiler (configurable rule engine) ---
        "rbp_profile_orders": _rbp_profile_orders,
        # --- md5 reference-parity hash sampler membership ---
        "splitter_md5_parity": _splitter_md5_parity,
        # --- structured streaming (real readStream -> memory sink) ---
        "streaming_windowed_violations": _streaming_windowed_violations,
        "turn_text_order_fp": _turn_text_order_fp,
        # --- per-partition single-pass grouped validation ---
        "grouped_by_day_between": _grouped_by_day,
        "grouped_jobs_by_flag": _grouped_jobs_by_flag,
        "grouped_shared_window_events": _grouped_shared_window,
        "days_missing_events": _days_missing,
        # --- referential / cross-table ---
        "anti_join_lineitem_orders": _anti_join,
        "rowcount_compare": _rowcount_compare,
        # --- drift (one-pass split histograms) ---
        "drift_hist_events_value": _drift_hist,
        "drift_mix_event_type": _drift_mix,
        # --- dedup / text / similarity ---
        "dedup_exact_docs": _dedup_exact,
        "conv_dedup_events": _conv_dedup_events,
        "pack_chunks_docs": _pack_chunks_docs,
        # token/stopword/quality/lang_id_fast folded into ONE stacked
        # (metric, value) entry — frees 3 report slots for the curation
        # family below
        "text_stats_docs": _text_stats,
        "lang_id_ct_planted": _lang_id_ct,
        # --- corpus curation (decontamination / PII / mixture) ---
        "decontam_docs": _decontam,
        "pii_planted": _pii_planted,
        "mix_sample_docs": _mix_sample,
        "ann_threshold_cosine": _ann_threshold,
        "minhash_pairs_docs": _minhash_pairs,
        "ngram_pairs_docs": _ngram_pairs,
        "dedup_clusters_docs": _dedup_clusters,
        "embed_near_dup_pairs": _embed_near_dup,
        "simhash_pairs_docs": _simhash_pairs,
        "lsh_ann_topk": _lsh_ann,
        "ivf_ann_topk": _ivf_ann,
    }
    return q


def oracle_sql() -> dict[str, str]:
    norm = (
        "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    )
    hist_edges = HIST_BINS
    hb = ", ".join(str(b) for b in hist_edges)
    vb = VALUE_BINS

    def bucket_case(col: str, bins: list) -> str:
        clauses = []
        n = len(bins) - 1
        for i in range(n):
            hi_op = "<=" if i == n - 1 else "<"
            clauses.append(
                f"WHEN {col} >= {bins[i]} AND {col} {hi_op} {bins[i+1]} THEN {i}"
            )
        return (
            f"CASE WHEN {col} < {bins[0]} THEN -1 "
            + " ".join(clauses)
            + f" ELSE {n} END"
        )

    return {
        "map_suite_lineitem": (
            "SELECT * FROM ("
            "SELECT 'in_set_returnflag' AS expectation, count(*)::BIGINT AS "
            "element_count, count(*) FILTER (WHERE l_returnflag IS NOT NULL "
            "AND l_returnflag NOT IN ('A','N','R'))::BIGINT AS "
            "unexpected_count FROM lineitem UNION ALL "
            "SELECT 'between_quantity', count(*)::BIGINT, count(*) FILTER ("
            "WHERE l_quantity IS NOT NULL AND NOT (l_quantity >= 5 AND "
            "l_quantity <= 45))::BIGINT FROM lineitem UNION ALL "
            "SELECT 'row_condition_between', count(*) FILTER (WHERE "
            "l_returnflag = 'A')::BIGINT, count(*) FILTER (WHERE "
            "l_returnflag = 'A' AND l_quantity IS NOT NULL AND NOT "
            "(l_quantity >= 10 AND l_quantity <= 50))::BIGINT FROM lineitem "
            "UNION ALL "
            "SELECT 'pair_greater', count(*)::BIGINT, count(*) FILTER ("
            "WHERE NOT (l_extendedprice IS NULL AND l_quantity IS NULL) AND "
            "NOT coalesce(l_extendedprice > l_quantity, FALSE))::BIGINT "
            "FROM lineitem UNION ALL "
            "SELECT 'pair_equal_flags', count(*)::BIGINT, count(*) FILTER ("
            "WHERE NOT (l_returnflag IS NULL AND l_linestatus IS NULL) AND "
            "NOT coalesce(l_returnflag = l_linestatus, FALSE))::BIGINT "
            "FROM lineitem UNION ALL "
            "SELECT 'multicolumn_sum_between', count(*)::BIGINT, count(*) "
            "FILTER (WHERE NOT (coalesce(l_quantity,0) + "
            "coalesce(l_linenumber,0) >= 5 AND coalesce(l_quantity,0) + "
            "coalesce(l_linenumber,0) <= 40))::BIGINT FROM lineitem "
            "UNION ALL "
            "SELECT 'multicolumn_sum', count(*)::BIGINT, count(*) FILTER ("
            "WHERE coalesce(l_quantity,0) + coalesce(l_linenumber,0) <> 10"
            ")::BIGINT FROM lineitem UNION ALL "
            "SELECT 'unique_within_record', count(*)::BIGINT, count(*) "
            "FILTER (WHERE coalesce(l_partkey = l_suppkey, FALSE))::BIGINT "
            "FROM lineitem"
            ") ORDER BY expectation"
        ),
        "map_suite_orders_part": (
            "SELECT * FROM ("
            "SELECT 'not_in_set_status' AS expectation, count(*)::BIGINT AS "
            "element_count, count(*) FILTER (WHERE o_orderstatus IS NOT NULL "
            "AND o_orderstatus IN ('X'))::BIGINT AS unexpected_count "
            "FROM orders UNION ALL "
            "SELECT 'length_between_priority', count(*)::BIGINT, count(*) "
            "FILTER (WHERE o_orderpriority IS NOT NULL AND NOT ("
            "length(o_orderpriority) >= 6 AND length(o_orderpriority) <= 15"
            "))::BIGINT FROM orders UNION ALL "
            "SELECT 'like_priority', count(*)::BIGINT, count(*) FILTER ("
            "WHERE o_orderpriority IS NOT NULL AND o_orderpriority NOT LIKE "
            "'%URGENT%')::BIGINT FROM orders UNION ALL "
            "SELECT 'regex_pname', count(*)::BIGINT, "
            "count(*) FILTER (WHERE p_name IS NOT NULL AND "
            "NOT regexp_matches(p_name, '^[a-z]+ [a-z]+$'))::BIGINT "
            "FROM part UNION ALL "
            "SELECT 'not_match_regex_pname', count(*)::BIGINT, count(*) "
            "FILTER (WHERE p_name IS NOT NULL AND regexp_matches(p_name, "
            "'[0-9]'))::BIGINT FROM part UNION ALL "
            "SELECT 'regex_list_brand', count(*)::BIGINT, count(*) FILTER ("
            "WHERE p_brand IS NOT NULL AND NOT (regexp_matches(p_brand, "
            "'^Brand#1') OR regexp_matches(p_brand, '^Brand#2')))::BIGINT "
            "FROM part"
            ") ORDER BY expectation"
        ),
        "map_suite_docs": (
            "SELECT * FROM ("
            "SELECT 'not_null_docs' AS expectation, count(*)::BIGINT AS "
            "element_count, count(*) FILTER (WHERE text IS NULL)::BIGINT AS "
            "unexpected_count FROM documents UNION ALL "
            "SELECT 'multicolumn_not_all_null', count(*)::BIGINT, count(*) "
            "FILTER (WHERE text IS NULL AND lang IS NULL)::BIGINT "
            "FROM documents UNION ALL "
            "SELECT 'json_parseable_props', count(*)::BIGINT, count(*) "
            "FILTER (WHERE props IS NOT NULL AND NOT json_valid(props))"
            "::BIGINT FROM events"
            ") ORDER BY expectation"
        ),
        "zscore_extendedprice": (
            "WITH s AS (SELECT avg(l_extendedprice) AS m, "
            "stddev_samp(l_extendedprice) AS sd FROM lineitem) "
            "SELECT (SELECT count(*) FROM lineitem)::BIGINT AS element_count, "
            "(SELECT count(*) FROM lineitem, s WHERE l_extendedprice IS NOT "
            "NULL AND NOT (abs((l_extendedprice - m) / sd) < 1.5))::BIGINT "
            "AS unexpected_count"
        ),
        "unique_orderkey": (
            "SELECT coalesce(sum(c), 0)::BIGINT AS dup_rows FROM ("
            "SELECT count(*) AS c FROM orders WHERE o_orderkey IS NOT NULL "
            "GROUP BY o_orderkey HAVING count(*) > 1)"
        ),
        "window_samples_events": (
            # the full COMPLETE-format violation multiset for a unique
            # expectation = every non-null row whose user_id occurs >1
            # times; md5 over the numerically-sorted value list is
            # order-insensitive on both engines (integers stringify
            # identically, no collation hazard)
            "SELECT count(*)::BIGINT AS n_samples, "
            "md5(string_agg(cast(user_id AS varchar), ',' "
            "    ORDER BY user_id)) AS fp "
            "FROM events WHERE user_id IN ("
            "  SELECT user_id FROM events WHERE user_id IS NOT NULL "
            "  GROUP BY user_id HAVING count(*) > 1)"
        ),
        "multimodal_docs": (
            # analytic replica of the REAL decode+feature path: the P5
            # bytes are 13 header bytes + 24*32 pixels where
            # pixel(y,x) = (doc_id*7919 + y*32 + x) % 256; 4x4 block
            # means over exact 6x8 blocks, /255, rounded — integer sums
            # are exact in double on both engines.  Stacked with one
            # img_bytes row per doc (the real parser's byte count) and
            # the frame-sample plan (F.sequence is stop-INCLUSIVE ->
            # generate_series)
            "WITH px AS ("
            "  SELECT d.doc_id, y.y, x.x,"
            "         (d.doc_id * 7919 + y.y * 32 + x.x) % 256 AS v"
            "  FROM (SELECT doc_id FROM documents) d"
            "  CROSS JOIN (SELECT unnest(range(24)) AS y) y"
            "  CROSS JOIN (SELECT unnest(range(32)) AS x) x"
            "), cells AS ("
            "  SELECT doc_id, y // 3 AS by, x // 4 AS bx,"
            "         avg(CAST(v AS DOUBLE)) AS m"
            "  FROM px WHERE doc_id < 1000 GROUP BY 1, 2, 3"
            "), meds AS ("
            "  SELECT doc_id, median(m) AS med FROM cells GROUP BY 1"
            "), bits AS ("
            "  SELECT c.doc_id, c.by * 8 + c.bx AS k,"
            "    CASE WHEN c.m > meds.med THEN 1 ELSE 0 END AS bit"
            "  FROM cells c JOIN meds USING (doc_id)"
            "), ph_pairs AS ("
            "  SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
            "    sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS h"
            "  FROM bits a JOIN bits b"
            "    ON a.k = b.k AND a.doc_id < b.doc_id"
            "  GROUP BY 1, 2"
            ") SELECT doc_id, 'img_feat' AS kind,"
            "         ((y // 6) * 4 + (x // 8))::BIGINT AS idx,"
            "         round(avg(v) / 255.0, 7) AS val"
            "  FROM px GROUP BY doc_id, y // 6, x // 8 "
            "UNION ALL SELECT doc_id, 'img_bytes', -1::BIGINT, "
            "  781.0::DOUBLE FROM documents "
            "UNION ALL SELECT doc_id, 'frame',"
            "  unnest(generate_series(0,"
            "    greatest((doc_id % 7) * 1000 + 500 - 1, 0),"
            "    1000))::BIGINT, NULL::DOUBLE FROM documents "
            # perceptual-hash dedup replica (CTEs above): 8x8 block
            # means over exact 3x4-pixel blocks of the same pixel
            # formula, interpolated median (numpy/duckdb agree: mean of
            # the two middle of 64), bit = mean > median, exact
            # all-pairs Hamming <= 3 — the banded Spark join must
            # reproduce this exact pair set
            "UNION ALL SELECT id_a AS doc_id, 'phash_pair' AS kind,"
            "    id_b::BIGINT AS idx, h::DOUBLE AS val"
            "  FROM ph_pairs WHERE h <= 3"
        ),
        "grouped_kl_by_day": (
            # per-day binned KL vs the fixed expected weights; the wide
            # endpoints guarantee zero tail mass, and p=0 bins contribute
            # 0 by the KL convention — matching functions/stats.py
            "WITH h AS ("
            "  SELECT strftime(ts, '%Y-%m-%d') AS day,"
            "         count(*) AS total,"
            "         count(*) FILTER (WHERE value >= -1e6 AND value < 100) AS b0,"
            "         count(*) FILTER (WHERE value >= 100 AND value < 200) AS b1,"
            "         count(*) FILTER (WHERE value >= 200 AND value < 300) AS b2,"
            "         count(*) FILTER (WHERE value >= 300 AND value <= 1e6) AS b3"
            "  FROM events WHERE value IS NOT NULL GROUP BY 1"
            ") SELECT day,"
            "  round("
            "    (CASE WHEN b0 > 0 THEN (b0::DOUBLE/total) * ln((b0::DOUBLE/total) / 0.3) ELSE 0 END)"
            "  + (CASE WHEN b1 > 0 THEN (b1::DOUBLE/total) * ln((b1::DOUBLE/total) / 0.3) ELSE 0 END)"
            "  + (CASE WHEN b2 > 0 THEN (b2::DOUBLE/total) * ln((b2::DOUBLE/total) / 0.2) ELSE 0 END)"
            "  + (CASE WHEN b3 > 0 THEN (b3::DOUBLE/total) * ln((b3::DOUBLE/total) / 0.2) ELSE 0 END)"
            "  , 6) AS kl FROM h"
        ),
        "streaming_stateful_gaps": (
            # watermark = largest contiguous prefix from 1 (i == rn over
            # DISTINCT per-group indexes holds exactly up to the first
            # gap); pending = indexes above it; one summary row per
            # group with a non-empty pending set — the stateful
            # operator's single-batch update-mode output
            "WITH d AS ("
            "  SELECT DISTINCT l_orderkey AS g, l_linenumber AS i"
            "  FROM lineitem WHERE l_linenumber >= 1"
            "), r AS ("
            "  SELECT g, i,"
            "         row_number() OVER (PARTITION BY g ORDER BY i) AS rn"
            "  FROM d"
            "), wm AS ("
            "  SELECT g, coalesce(max(i) FILTER (WHERE i = rn), 0) AS w"
            "  FROM r GROUP BY g"
            ") SELECT r.g::BIGINT AS orderkey,"
            "         max(r.i)::BIGINT AS max_seen,"
            "         (max(r.i) - any_value(wm.w)"
            "          - count(*))::BIGINT AS missing_count,"
            "         (any_value(wm.w) + 1)::BIGINT AS first_missing"
            "  FROM r JOIN wm ON r.g = wm.g WHERE r.i > wm.w"
            "  GROUP BY r.g"
        ),
        "compound_unique_lineitem": (
            "SELECT coalesce(sum(c), 0)::BIGINT AS dup_rows FROM ("
            "SELECT count(*) AS c FROM lineitem WHERE l_orderkey IS NOT NULL "
            "AND l_linenumber IS NOT NULL GROUP BY l_orderkey, l_linenumber "
            "HAVING count(*) > 1)"
        ),
        "increasing_events": (
            "WITH w AS (SELECT value, lag(value) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS prev FROM events WHERE value IS NOT "
            "NULL) SELECT count(*)::BIGINT AS element_count, count(*) FILTER "
            "(WHERE prev IS NOT NULL AND value < prev)::BIGINT AS "
            "unexpected_count FROM w"
        ),
        "contiguous_linenumber": (
            # independent replicas per strategy: window = per-group lag
            # formulation, join = DISTINCT-present anti-exists
            # formulation — both tag their strategy row
            "WITH w AS (SELECT l_linenumber AS ln, lag(l_linenumber) OVER ("
            "PARTITION BY l_orderkey ORDER BY l_linenumber) AS prev FROM "
            "lineitem WHERE l_linenumber IS NOT NULL), "
            "present AS (SELECT DISTINCT l_orderkey AS g, "
            "l_linenumber AS i FROM lineitem WHERE l_linenumber IS NOT "
            "NULL) "
            "SELECT 'window' AS strategy, count(*) FILTER "
            "(WHERE ln > 1 AND (prev IS NULL OR prev < ln - 1))::BIGINT AS "
            "gap_rows FROM w "
            "UNION ALL SELECT 'join', count(*)::BIGINT FROM present a "
            "WHERE a.i > 1 AND NOT EXISTS (SELECT 1 FROM present b "
            "WHERE b.g = a.g AND b.i = a.i - 1)"
        ),
        "agg_stats_quantity": (
            "SELECT count(*)::BIGINT AS n_rows, "
            "round(avg(l_quantity), 4) AS mean_qty, "
            "round(stddev_samp(l_quantity), 4) AS std_qty, "
            "min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "min(length(l_returnflag))::INT AS min_flag_len, "
            "max(length(l_returnflag))::INT AS max_flag_len FROM lineitem"
        ),
        "quantiles_extendedprice": (
            "SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS q25, "
            "round(quantile_cont(l_extendedprice, 0.5), 4) AS q50, "
            "round(quantile_cont(l_extendedprice, 0.75), 4) AS q75 "
            "FROM lineitem"
        ),
        "distinct_partkey": (
            "SELECT count(DISTINCT l_partkey)::BIGINT AS distinct_parts, "
            "round(count(DISTINCT l_partkey)::DOUBLE / count(l_partkey), 6) "
            "AS unique_proportion FROM lineitem"
        ),
        "value_freq_suite": (
            "SELECT * FROM ("
            "SELECT 'value_counts_returnflag' AS expectation, "
            "l_returnflag AS value, count(*)::BIGINT AS cnt FROM lineitem "
            "WHERE l_returnflag IS NOT NULL GROUP BY 2 UNION ALL "
            "SELECT 'most_common_priority', o_orderpriority, (-1)::BIGINT "
            "FROM orders GROUP BY 2 HAVING count(*) = (SELECT max(c) FROM "
            "(SELECT count(*) AS c FROM orders GROUP BY o_orderpriority)) "
            "UNION ALL "
            # approx_top_k path is exact at 5 distinct values, so the
            # sketch row shares the exact argmax replica
            "SELECT 'most_common_priority_sketch', o_orderpriority, "
            "(-1)::BIGINT "
            "FROM orders GROUP BY 2 HAVING count(*) = (SELECT max(c) FROM "
            "(SELECT count(*) AS c FROM orders GROUP BY o_orderpriority))"
            ") ORDER BY expectation, value"
        ),
        "histogram_extendedprice": (
            f"SELECT {bucket_case('l_extendedprice', hist_edges)} AS bucket, "
            "count(*)::BIGINT AS n FROM lineitem WHERE l_extendedprice IS "
            "NOT NULL GROUP BY 1 ORDER BY 1"
        ),
        "query_value_corr": (
            "SELECT round(corr(l_quantity, l_extendedprice), 6) AS "
            "corr_qty_price, TRUE AS success FROM lineitem"
        ),
        "query_suite_orders": (
            "SELECT * FROM ("
            "SELECT 'query_freq_urgent' AS expectation, "
            "round(count(*) FILTER (WHERE o_orderpriority = '1-URGENT')"
            "::DOUBLE / count(*), 6) AS metric, "
            "count(*) FILTER (WHERE o_orderpriority = '1-URGENT')::DOUBLE "
            "/ count(*) >= 0.05 AS success FROM orders UNION ALL "
            "SELECT 'query_no_rows', count(*) FILTER (WHERE o_totalprice "
            "> 400000)::DOUBLE, count(*) FILTER (WHERE o_totalprice > "
            "400000) = 0 FROM orders"
            ") ORDER BY expectation"
        ),
        "asof_purchase_attrib": (
            # DuckDB's native ASOF LEFT JOIN replicates the operator's
            # full semantics (latest purchase at-or-before each click,
            # per user); right side deduped per (user, ts) on both
            # engines so ties can't diverge; integer aggregates only
            "WITH e AS (SELECT user_id, ts, event_id, event_type FROM "
            "events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND "
            "event_id IS NOT NULL), "
            "c AS (SELECT user_id, ts, event_id FROM e WHERE event_type "
            "= 'click'), "
            "p AS (SELECT user_id, ts AS pts, max(event_id) AS "
            "purchase_id FROM e WHERE event_type = 'purchase' "
            "GROUP BY 1, 2) "
            "SELECT count(*)::BIGINT AS n_clicks, "
            "count(purchase_id)::BIGINT AS n_matched, "
            "coalesce(sum(purchase_id), 0)::BIGINT AS sum_purchase_id, "
            "count(*) FILTER (WHERE purchase_id IS NOT NULL AND "
            "epoch(c.ts) - epoch(pts) <= 3600)::BIGINT AS n_within_1h "
            "FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND "
            "c.ts >= p.pts"
        ),
        "range_join_part": (
            # plain inequality join = the operator's contract; the Spark
            # side runs the binned equi-join strategy, so agreement also
            # witnesses the bin decomposition (no lost/duplicated pairs)
            "SELECT interval_id, count(*)::BIGINT AS n_points, "
            "sum(p_partkey)::BIGINT AS sum_partkey FROM part, "
            "(SELECT range AS interval_id, 900 + range * 2.5 AS lo, "
            "906 + range * 2.5 AS hi FROM range(0, 40)) "
            "WHERE p_retailprice IS NOT NULL AND p_retailprice >= lo AND "
            "p_retailprice <= hi GROUP BY 1 ORDER BY 1"
        ),
        "sessionize_events": (
            # lag + running break-flag sum per user; session SIZES are
            # tie-stable (equal ts -> gap 0 under any tie order)
            "WITH e AS (SELECT user_id, ts FROM events WHERE user_id IS "
            "NOT NULL AND ts IS NOT NULL), "
            "g AS (SELECT user_id, ts, CASE WHEN epoch(ts) - "
            "epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > "
            "3600 THEN 1 ELSE 0 END AS brk FROM e), "
            "s AS (SELECT user_id, sum(brk) OVER (PARTITION BY user_id "
            "ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id FROM g), "
            "sz AS (SELECT user_id, session_id, count(*) AS n FROM s "
            "GROUP BY 1, 2) "
            "SELECT count(DISTINCT user_id)::BIGINT AS n_users, "
            "count(*)::BIGINT AS n_sessions, max(n)::BIGINT AS max_len, "
            "sum(n)::BIGINT AS n_rows FROM sz"
        ),
        "days_missing_events": (
            # stacked: calendar contiguity + the sketch store's merged
            # answers (HLL sparse-mode exact at this cardinality; moments
            # and top-k frequency integer-exact; resume computes nothing)
            "SELECT 'days_missing' AS metric, "
            "(date_diff('day', min(ts::DATE), max(ts::DATE)) - "
            "(count(DISTINCT ts::DATE) - 1))::BIGINT AS value FROM events "
            "UNION ALL SELECT 'days_missing_ok', "
            "(date_diff('day', min(ts::DATE), max(ts::DATE)) = "
            "count(DISTINCT ts::DATE) - 1)::INT::BIGINT FROM events "
            "UNION ALL SELECT 'sk_distinct_user_id', "
            "count(DISTINCT user_id)::BIGINT FROM events "
            "UNION ALL SELECT 'sk_count_value', count(value)::BIGINT "
            "FROM events "
            "UNION ALL SELECT 'sk_top1_value_count', (SELECT max(c) FROM "
            "(SELECT count(*)::BIGINT AS c FROM events WHERE value IS NOT "
            "NULL GROUP BY value)) "
            "UNION ALL SELECT 'sk_resume_recomputed', 0::BIGINT "
            "ORDER BY metric"
        ),
        "rbp_profile_orders": (
            "WITH yearly AS (SELECT year(o_orderdate) AS y, "
            "count(*)::BIGINT AS c FROM orders GROUP BY 1) "
            "SELECT * FROM ("
            "SELECT 'in_set' AS etype, 'o_orderpriority' AS column_name, "
            "CAST(NULL AS BIGINT) AS min_v, CAST(NULL AS BIGINT) AS max_v, "
            "(SELECT string_agg(v, ',' ORDER BY v) FROM (SELECT DISTINCT "
            "o_orderpriority AS v FROM orders)) AS value_set "
            "UNION ALL "
            "SELECT 'in_set', 'o_orderstatus', NULL, NULL, "
            "(SELECT string_agg(v, ',' ORDER BY v) FROM (SELECT DISTINCT "
            "o_orderstatus AS v FROM orders)) "
            "UNION ALL "
            "SELECT 'row_count_between', '', (SELECT min(c) FROM yearly), "
            "(SELECT max(c) FROM yearly), ''"
            ") ORDER BY etype, column_name"
        ),
        "splitter_md5_parity": (
            "SELECT count(*)::BIGINT AS kept_rows, "
            "sum(o_orderkey)::BIGINT AS key_sum FROM orders "
            "WHERE right(md5(CAST(o_orderkey AS VARCHAR)), 1) = 'f'"
        ),
        "streaming_windowed_violations": (
            "SELECT strftime(ts, '%Y-%m-%d') AS day, "
            "count(*)::BIGINT AS element_count, "
            "count(*) FILTER (WHERE "
            "(value IS NOT NULL AND (value < 0 OR value > 150)) OR "
            "(event_type IS NOT NULL AND event_type NOT IN "
            "('signup','click','view','purchase')))::BIGINT "
            "AS unexpected_count, "
            "round(count(*) FILTER (WHERE "
            "(value IS NOT NULL AND (value < 0 OR value > 150)) OR "
            "(event_type IS NOT NULL AND event_type NOT IN "
            "('signup','click','view','purchase'))) "
            "/ CAST(count(*) AS DOUBLE), 6) AS unexpected_rate "
            "FROM events GROUP BY 1 ORDER BY 1"
        ),
        "grouped_by_day_between": (
            "SELECT strftime(ts, '%Y-%m-%d') AS day, count(*)::BIGINT AS "
            "element_count, count(*) FILTER (WHERE value IS NOT NULL AND "
            "NOT (value >= 0 AND value <= 400))::BIGINT AS unexpected_count "
            "FROM events GROUP BY 1 ORDER BY 1"
        ),
        "turn_text_order_fp": (
            # per-turn text equality under stable ordering: ordered md5
            # fingerprint per conversation analog, reduced to one row;
            # md5(text) breaks (group, idx) ties via hex digits, which
            # order identically under any engine collation
            "WITH per AS ("
            "  SELECT user_id,"
            "         md5(string_agg(coalesce(props, ''), '|'"
            "             ORDER BY event_id, md5(coalesce(props, '')))) AS fp,"
            "         count(*) AS n_turns"
            "  FROM events WHERE event_id IS NOT NULL GROUP BY user_id"
            ") SELECT count(*)::BIGINT AS n_convs,"
            "         count(DISTINCT fp)::BIGINT AS n_distinct_fp,"
            "         min(fp) AS min_fp, max(fp) AS max_fp,"
            "         sum(n_turns)::BIGINT AS n_turns FROM per"
        ),
        "grouped_shared_window_events": (
            # the engine's previous-value is null-transparent (last non-null
            # in window order) -> lag(... IGNORE NULLS); a duplicate key
            # group of k rows flags all k rows -> count rows whose
            # (day,user_id,event_id) group has cardinality > 1
            "WITH e AS ("
            "  SELECT strftime(ts, '%Y-%m-%d') AS day, user_id, event_id,"
            "         value FROM events"
            "), w AS ("
            "  SELECT day, value,"
            "         lag(value IGNORE NULLS) OVER ("
            "           PARTITION BY day, user_id ORDER BY event_id"
            "         ) AS prev,"
            "         count(*) OVER ("
            "           PARTITION BY day, user_id, event_id"
            "         ) AS key_cnt"
            "  FROM e"
            ") SELECT day, count(*)::BIGINT AS element_count,"
            "  count(*) FILTER (WHERE value IS NOT NULL AND prev IS NOT "
            "NULL AND value < prev)::BIGINT AS inc_unexpected,"
            "  count(*) FILTER (WHERE key_cnt > 1)::BIGINT AS "
            "dup_unexpected FROM w GROUP BY 1 ORDER BY 1"
        ),
        "grouped_jobs_by_flag": (
            "WITH ref AS ("
            "  SELECT l_returnflag AS part, count(*)::BIGINT AS ref_element_count,"
            "         count(*) FILTER (WHERE l_orderkey IS NOT NULL AND NOT EXISTS ("
            "           SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey"
            "         ))::BIGINT AS ref_unexpected"
            "  FROM lineitem l GROUP BY 1"
            "), hist AS ("
            "  SELECT l_returnflag AS part,"
            "         CASE WHEN l_quantity < 11 THEN 0 WHEN l_quantity < 21 THEN 1"
            "              WHEN l_quantity < 31 THEN 2 WHEN l_quantity < 41 THEN 3"
            "              ELSE 4 END AS bucket,"
            "         count(*) FILTER (WHERE l_linestatus = 'F') AS p,"
            "         count(*) FILTER (WHERE l_linestatus <> 'F') AS q"
            "  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2"
            "), tot AS ("
            "  SELECT part, bucket, p, q,"
            "         sum(p) OVER (PARTITION BY part) AS ps,"
            "         sum(q) OVER (PARTITION BY part) AS qs"
            "  FROM hist"
            "), psi AS ("
            "  SELECT part, sum(p)::BIGINT AS n_baseline, sum(q)::BIGINT AS n_current,"
            "         round(sum((q*1.0/qs - p*1.0/ps) * ln((q*1.0/qs)/(p*1.0/ps))), 6) AS psi"
            "  FROM tot GROUP BY part"
            ") SELECT r.part, r.ref_element_count, r.ref_unexpected,"
            "         s.n_baseline, s.n_current, s.psi"
            "  FROM ref r JOIN psi s USING (part) ORDER BY r.part"
        ),
        "anti_join_lineitem_orders": (
            # one row per engine strategy; the orphan count is strategy-
            # independent by construction, so both rows carry the same SQL
            "WITH orphans AS ("
            "  SELECT count(*)::BIGINT AS orphan_rows FROM lineitem l WHERE "
            "  l.l_orderkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM orders "
            "  o WHERE o.o_orderkey = l.l_orderkey)"
            ") SELECT s.strategy, orphans.orphan_rows FROM orphans, "
            "(SELECT 'aggregate' AS strategy UNION ALL SELECT 'join') s "
            "ORDER BY s.strategy"
        ),
        "rowcount_compare": (
            "SELECT (SELECT count(*) FROM lineitem)::BIGINT AS self_rows, "
            "(SELECT count(*) FROM orders)::BIGINT AS other_rows"
        ),
        "drift_hist_events_value": (
            f"SELECT {bucket_case('value', vb)} AS bucket, "
            f"count(*) FILTER (WHERE {DRIFT_SPLIT})::BIGINT AS n_base, "
            f"count(*) FILTER (WHERE NOT ({DRIFT_SPLIT}))::BIGINT AS n_cur "
            "FROM events WHERE value IS NOT NULL AND "
            f"{bucket_case('value', vb)} BETWEEN 0 AND {len(vb) - 2} "
            "GROUP BY 1 ORDER BY 1"
        ),
        "drift_mix_event_type": (
            f"SELECT event_type, count(*) FILTER (WHERE {DRIFT_SPLIT})::BIGINT"
            f" AS n_base, count(*) FILTER (WHERE NOT ({DRIFT_SPLIT}))::BIGINT "
            "AS n_cur FROM events GROUP BY 1 ORDER BY 1"
        ),
        "dedup_exact_docs": (
            # exact-dedup stats + ExactSubstr totals (n=8): the span
            # replica uses STRING grams and a window-based interval
            # merge vs the engine's hashed grams + aggregate fold
            f"WITH g AS (SELECT hash({norm}) AS k, count(*) AS c FROM "
            "documents WHERE text IS NOT NULL GROUP BY 1), "
            "base AS (SELECT sum(c)::BIGINT AS n_rows, "
            "  count(*)::BIGINT AS n_distinct, "
            "  coalesce(sum(c) FILTER (WHERE c > 1), 0)::BIGINT AS "
            "  n_duplicate_rows FROM g), "
            f"toks AS (SELECT doc_id, string_split({norm}, ' ') AS ws "
            "  FROM documents WHERE text IS NOT NULL "
            f"  AND length({norm}) > 0), "
            "pos AS (SELECT doc_id, u.i AS p, "
            "    array_to_string(ws[u.i:u.i+7], ' ') AS gram "
            "  FROM toks, LATERAL unnest(range(1, len(ws) - 6)) AS u(i) "
            "  WHERE len(ws) >= 8), "
            "dup AS (SELECT gram FROM pos GROUP BY gram "
            "  HAVING count(*) >= 2), "
            "dup_pos AS (SELECT doc_id, p FROM pos JOIN dup USING (gram)), "
            "marks AS (SELECT doc_id, p, CASE WHEN p > coalesce(max(p + 8) "
            "    OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN "
            "    UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 "
            "    END AS newgrp FROM dup_pos), "
            "grp AS (SELECT doc_id, p, sum(newgrp) OVER (PARTITION BY "
            "    doc_id ORDER BY p) AS grp_id FROM marks), "
            "merged AS (SELECT doc_id, grp_id, min(p) AS s, max(p) + 8 AS e "
            "  FROM grp GROUP BY doc_id, grp_id), "
            "sub AS (SELECT count(DISTINCT doc_id)::BIGINT AS "
            "    substr_dup_docs, coalesce(sum(e - s), 0)::BIGINT AS "
            "    substr_dup_words FROM merged) "
            "SELECT base.*, sub.* FROM base, sub"
        ),
        "conv_dedup_events": (
            # assemble under the (turn_idx, md5-hex) tie-break, group by
            # the RAW assembled text (the Spark side groups by xxhash64
            # of the same bytes — agreement also witnesses
            # collision-freeness; no normalization, so turn boundaries
            # are preserved), survivor = min conv id
            "WITH t AS (SELECT user_id AS conv_id, event_id AS turn_idx,"
            "  props AS text FROM events WHERE event_id IS NOT NULL), "
            "uni AS (SELECT * FROM t UNION ALL "
            "  SELECT conv_id + 1000000, turn_idx, text FROM t "
            "  WHERE conv_id % 5 = 0), "
            "asm AS (SELECT conv_id,"
            "  string_agg(coalesce(text, ''), chr(10) "
            "    ORDER BY turn_idx, md5(coalesce(text, ''))) AS doc,"
            "  count(*)::BIGINT AS n_turns FROM uni GROUP BY conv_id), "
            "surv AS (SELECT min(conv_id) AS conv_id FROM asm "
            "  GROUP BY doc) "
            "SELECT a.conv_id, a.n_turns FROM asm a "
            "JOIN surv USING (conv_id)"
        ),
        "pack_chunks_docs": (
            # single-window cumsum replica of the distributed two-phase
            # prefix sum; canonical stream order (source, doc_id)
            "WITH t AS (SELECT doc_id, source,"
            "  (CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0"
            "   ELSE len(string_split_regex(trim(text), '\\s+')) "
            "   END)::BIGINT AS n FROM documents), "
            "o AS (SELECT doc_id, n, coalesce(sum(n) OVER ("
            "  ORDER BY source, doc_id ROWS BETWEEN UNBOUNDED PRECEDING "
            "  AND 1 PRECEDING), 0)::BIGINT AS off FROM t) "
            "SELECT doc_id, n AS n_tokens, off AS tok_offset,"
            "  CASE WHEN n > 0 THEN off // 256 END AS first_block,"
            "  CASE WHEN n > 0 THEN (off + n - 1) // 256 END AS last_block,"
            "  (CASE WHEN n > 0 THEN (off + n - 1) // 256 - off // 256 + 1 "
            "   ELSE 0 END)::BIGINT AS n_blocks FROM o"
        ),
        "ann_threshold_cosine": (
            "WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0) "
            "SELECT e.vec_id, round(list_cosine_similarity("
            "e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cos_sim "
            "FROM embeddings e, q WHERE list_cosine_similarity("
            "e.embedding::DOUBLE[], q.embedding::DOUBLE[]) >= 0.2 "
            "ORDER BY e.vec_id"
        ),
    } | _curation_oracles() | _dedup_ann_oracles()


def _exact_jaccard_pairs_sql(threshold: float, select: str) -> str:
    """DuckDB replica of word_shingles + all-pairs Jaccard (the ground
    truth the LSH/SimHash pipelines must recover on this corpus)."""
    return rf"""
WITH base AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM documents WHERE text IS NOT NULL
), words AS (
  SELECT doc_id, string_split(norm, ' ') AS w FROM base
), sh AS (
  SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
    ELSE list_distinct([array_to_string(w[i:i+2], ' ')
                        for i in range(1, len(w)-1)]) END AS shingles
  FROM words
), sz AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
shared AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS inter
  FROM inv l JOIN inv r ON l.s = r.s AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT {select}
FROM shared JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= {threshold}
ORDER BY id_a, id_b
"""


def _dedup_clusters_sql(threshold: float) -> str:
    """Ground truth for duplicate_clusters: the SAME exact-Jaccard pair
    set as ngram_pairs_docs, labeled by a recursive CTE (min reachable id
    per node — transitive closure is fine at oracle scale), grouped to
    (component, size)."""
    return rf"""
WITH RECURSIVE base AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM documents WHERE text IS NOT NULL
), words AS (
  SELECT doc_id, string_split(norm, ' ') AS w FROM base
), sh AS (
  SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
    ELSE list_distinct([array_to_string(w[i:i+2], ' ')
                        for i in range(1, len(w)-1)]) END AS shingles
  FROM words
), sz AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0),
shared AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS inter
  FROM inv l JOIN inv r ON l.s = r.s AND l.doc_id < r.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b
  FROM shared JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
  WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= {threshold}
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(u, lbl) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
), labels AS (SELECT u AS id, min(lbl) AS component FROM reach GROUP BY u)
SELECT component::BIGINT AS component, count(*)::BIGINT AS size
FROM labels GROUP BY 1 ORDER BY component
"""



def _lsh_ann_sql() -> str:
    """Full DuckDB replica of lsh_topk: the same seeded hyperplanes as
    float literals, sign-bit signature per vector, multi-probe filter
    (hamming(sig, query_sig) <= H), exact cosine top-k refinement."""
    import numpy as np

    planes = similarity.random_hyperplanes(64, LSH_ANN_BITS, LSH_ANN_SEED)
    bits = " + ".join(
        "(CASE WHEN list_dot_product(e, ["
        + ", ".join(repr(float(v)) for v in p)
        + f"]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings), "
        f"s AS (SELECT vec_id, e, ({bits}) AS sig FROM v), "
        "q AS (SELECT e AS qe, sig AS qsig FROM s WHERE vec_id = 0) "
        "SELECT s.vec_id, round(list_cosine_similarity(s.e, q.qe), 6) AS "
        "cos_sim FROM s, q "
        f"WHERE bit_count(xor(s.sig, q.qsig)) <= {LSH_ANN_HAMMING} "
        "ORDER BY cos_sim DESC, s.vec_id LIMIT 10"
    )


def _embed_near_dup_sql() -> str:
    """DuckDB replica of embedding_near_dup_pairs: identical seeded
    hyperplanes as literals, sign-bit bucket signature, same-bucket
    self-join, cosine refine on the ROUNDED value (matching the Spark
    filter order)."""
    planes = similarity.random_hyperplanes(64, LSH_ANN_BITS, LSH_ANN_SEED)
    bits = " + ".join(
        "(CASE WHEN list_dot_product(e, ["
        + ", ".join(repr(float(v)) for v in p)
        + f"]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings), "
        f"s AS (SELECT vec_id, e, ({bits}) AS sig FROM v) "
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        "round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim "
        "FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id "
        "WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.2 "
        "ORDER BY id_a, id_b"
    )


def _dedup_ann_oracles() -> dict[str, str]:
    return {
        "minhash_pairs_docs": _exact_jaccard_pairs_sql(
            0.4,
            "id_a, id_b, round(inter::DOUBLE / (sa.n + sb.n - inter), 6) "
            "AS jaccard",
        ),
        "simhash_pairs_docs": _exact_jaccard_pairs_sql(0.7, "id_a, id_b"),
        "ngram_pairs_docs": _exact_jaccard_pairs_sql(
            0.7,
            "id_a, id_b, round(inter::DOUBLE / (sa.n + sb.n - inter), 6) "
            "AS jaccard",
        ),
        "dedup_clusters_docs": _dedup_clusters_sql(0.7),
        "embed_near_dup_pairs": _embed_near_dup_sql(),
        # planted truth: every held-out doc must classify correctly
        # (2 docs x 20 languages; fixture is held out from profile seeds)
        "lang_id_ct_planted": (
            "SELECT true_lang, 2::BIGINT AS n_docs, 2::BIGINT AS n_correct "
            "FROM (VALUES "
            + ", ".join(
                f"('{lang}')"
                for lang in [
                    "ca", "cs", "da", "de", "el", "en", "es", "fi", "fr",
                    "hu", "id", "it", "nl", "no", "pl", "pt", "ro", "ru",
                    "sv", "tr",
                ]
            )
            + ") AS t(true_lang) ORDER BY true_lang"
        ),
        "lsh_ann_topk": _lsh_ann_sql(),
        "ivf_ann_topk": (
            "WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings "
            "WHERE vec_id = 0) "
            "SELECT e.vec_id, round(list_cosine_similarity("
            "e.embedding::DOUBLE[], q.qe), 6) AS cos_sim "
            "FROM embeddings e, q "
            "ORDER BY cos_sim DESC, e.vec_id LIMIT 10"
        ),
    }


def _text_stats_sql() -> str:
    """DuckDB replica of the consolidated text-stats entry: same token /
    stopword / punct / quality expressions as the retired per-metric
    oracles, the stopword-argmax language CASE from _lang_id_sql, all
    stacked to the same (metric, value DOUBLE) long format."""
    from great_expectations_spark.functions.text import LANG_STOPWORDS

    tok = (
        "CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(string_split_regex(trim(text), '\\s+')) END"
    )
    sw = (
        "len(regexp_extract_all(text, "
        "'(?i)\\b(the|and|of|to|is|in|that|it)\\b'))"
    )
    punct = (
        "CASE WHEN length(text) = 0 THEN 0.0 ELSE "
        "len(regexp_extract_all(text, "
        "'[.,;:!?''\"()\\[\\]{}-]'))::DOUBLE / length(text) END"
    )
    quality = (
        "CASE WHEN text IS NULL OR length(text) = 0 THEN 0.0 ELSE round("
        "least(length(text) / 500.0, 1.0) * 0.4 + "
        f"(1.0 - least(({punct}) * 5.0, 1.0)) * 0.3 + "
        f"least(CASE WHEN ({tok}) = 0 THEN 0.0 ELSE ({sw})::DOUBLE / ({tok}) "
        "END * 4.0, 1.0) * 0.3, 6) END"
    )
    lang_counts = ", ".join(
        "len(regexp_extract_all(text, '(?i)\\b("
        + "|".join(words)
        + ")\\b')) AS c_" + lang
        for lang, words in LANG_STOPWORDS.items()
    )
    tie_order = sorted(LANG_STOPWORDS, reverse=True)
    pick = " ".join(
        f"WHEN c_{lang} = best THEN '{lang}'" for lang in tie_order[:-1]
    )
    lang_case = (
        "CASE WHEN text IS NULL OR best = 0 THEN 'und' "
        + pick
        + f" ELSE '{tie_order[-1]}' END"
    )
    scalars = [
        ("total_tokens", f"sum({tok})::DOUBLE"),
        ("max_tokens", f"max({tok})::DOUBLE"),
        ("min_tokens", f"min({tok})::DOUBLE"),
        ("en_stopwords", f"sum({sw})::DOUBLE"),
        ("avg_punct_ratio", f"round(avg({punct}), 6)::DOUBLE"),
        ("avg_quality", f"round(avg({quality}), 4)::DOUBLE"),
    ]
    parts = [
        f"SELECT '{name}' AS metric, {expr} AS value FROM documents"
        for name, expr in scalars
    ] + [
        f"SELECT 'lang_{lang}', "
        f"(count(*) FILTER (WHERE lp = '{lang}'))::DOUBLE FROM l"
        for lang in ["de", "en", "es", "fr", "und"]
    ]
    c4g_ctes, c4g_parts = _c4_gopher_planted_sql()
    return (
        f"WITH c AS (SELECT text, {lang_counts} FROM documents), "
        "b AS (SELECT *, greatest("
        + ", ".join(f"c_{lang}" for lang in LANG_STOPWORDS)
        + ") AS best FROM c), "
        f"l AS (SELECT {lang_case} AS lp FROM b), "
        + c4g_ctes
        + " SELECT * FROM ("
        + " UNION ALL ".join(parts + c4g_parts)
        + ") ORDER BY metric"
    )


def _c4_gopher_planted_sql() -> tuple:
    """DuckDB replica of the planted C4 + Gopher metrics: the full C4
    line-rule chain (terminal punctuation, >=3 words, javascript lines,
    lorem-ipsum / `{` pages, >=5 surviving sentences) and every Gopher
    structural rule (word count, mean word length, symbol ratio,
    bullet/ellipsis line fractions, alphabetic-word fraction, stopword
    presence) re-derived from the identical VALUES rows via list
    lambdas.  Returns (cte_sql, [metric SELECTs])."""
    from great_expectations_spark.functions.text import GOPHER_STOPWORDS

    def lit(t):
        if t is None:
            return "NULL"
        return "'" + t.replace("\n", "' || chr(10) || '") + "'"

    values = ", ".join(
        f"({i}, {lit(t)})" for i, t in _C4G_PLANTED_ROWS
    )
    nstop = " + ".join(
        "(CASE WHEN regexp_matches(lower(coalesce(text, '')), "
        f"'\\b{w}\\b') THEN 1 ELSE 0 END)"
        for w in GOPHER_STOPWORDS
    )
    ctes = (
        f"pl(id, text) AS (VALUES {values}), "
        # --- C4 chain ---
        "c4l AS (SELECT id, text, CASE WHEN text IS NULL THEN "
        "[]::VARCHAR[] ELSE list_filter(list_transform("
        "string_split(text, chr(10)), x -> trim(x)), "
        "x -> length(x) > 0 AND regexp_matches(x, '[.?!\"]$') "
        "AND len(string_split_regex(x, '\\s+')) >= 3 "
        "AND NOT contains(lower(x), 'javascript')) END AS kept FROM pl), "
        "c4k AS (SELECT id, text, kept, "
        "array_to_string(kept, chr(10)) AS ktext, "
        "len(regexp_extract_all(array_to_string(kept, chr(10)), '[.?!]')) "
        "AS nsent, (contains(lower(coalesce(text, '')), 'lorem ipsum') OR "
        "contains(coalesce(text, ''), '{')) AS pbad FROM c4l), "
        "c4 AS (SELECT id, len(kept) AS nkept, nsent, "
        "(text IS NOT NULL AND NOT pbad AND nsent >= 5) AS keep, "
        "CASE WHEN text IS NOT NULL AND NOT pbad AND nsent >= 5 "
        "THEN ktext END AS clean FROM c4k), "
        # --- Gopher chain ---
        "g1 AS (SELECT id, list_filter(string_split_regex("
        "trim(coalesce(text, '')), '\\s+'), w -> length(w) > 0) AS ws, "
        "list_filter(list_transform(string_split(coalesce(text, ''), "
        "chr(10)), x -> trim(x)), x -> length(x) > 0) AS ls, "
        "len(regexp_extract_all(coalesce(text, ''), "
        "'#|\\.\\.\\.|…')) AS nsym, "
        f"({nstop}) AS nstop FROM pl), "
        "g2 AS (SELECT id, len(ws) AS nw, len(ls) AS nl, nsym, nstop, "
        "CASE WHEN len(ws) > 0 THEN list_sum(list_transform(ws, "
        "w -> length(w)))::DOUBLE / len(ws) END AS meanlen, "
        "CASE WHEN len(ws) > 0 THEN nsym::DOUBLE / len(ws) END AS symr, "
        "CASE WHEN len(ls) > 0 THEN len(list_filter(ls, "
        "x -> regexp_matches(x, '^[•‣◦*-]')))::DOUBLE "
        "/ len(ls) END AS bullf, "
        "CASE WHEN len(ls) > 0 THEN len(list_filter(ls, "
        "x -> regexp_matches(x, '(\\.\\.\\.|…)$')))::DOUBLE "
        "/ len(ls) END AS ellf, "
        "CASE WHEN len(ws) > 0 THEN len(list_filter(ws, "
        "w -> regexp_matches(w, '\\p{L}')))::DOUBLE / len(ws) END "
        "AS alphaf FROM g1), "
        "g3 AS (SELECT *, (nw BETWEEN 50 AND 100000 "
        "AND coalesce(meanlen BETWEEN 3.0 AND 10.0, FALSE) "
        "AND coalesce(symr <= 0.1, FALSE) "
        "AND coalesce(bullf, 0) <= 0.9 AND coalesce(ellf, 0) <= 0.3 "
        "AND coalesce(alphaf >= 0.8, FALSE) AND nstop >= 2) AS keep "
        "FROM g2)"
    )
    parts = [
        "SELECT 'c4_kept_docs', sum(CASE WHEN keep THEN 1 ELSE 0 END)"
        "::DOUBLE FROM c4",
        "SELECT 'c4_kept_lines', sum(nkept)::DOUBLE FROM c4",
        "SELECT 'c4_sentences', sum(nsent)::DOUBLE FROM c4",
        "SELECT 'c4_clean_chars', coalesce(sum(length(clean)), 0)"
        "::DOUBLE FROM c4",
        "SELECT 'gopher_kept_docs', sum(CASE WHEN keep THEN 1 ELSE 0 END)"
        "::DOUBLE FROM g3",
        "SELECT 'gopher_words', sum(nw)::DOUBLE FROM g3",
        "SELECT 'gopher_stopwords', sum(nstop)::DOUBLE FROM g3",
        "SELECT 'gopher_meanlen_sum', round(sum(meanlen), 6)::DOUBLE "
        "FROM g3",
        "SELECT 'gopher_symratio_sum', round(sum(symr), 6)::DOUBLE FROM g3",
        "SELECT 'gopher_bullet_sum', round(sum(bullf), 6)::DOUBLE FROM g3",
        "SELECT 'gopher_ellipsis_sum', round(sum(ellf), 6)::DOUBLE FROM g3",
        "SELECT 'gopher_alpha_sum', round(sum(alphaf), 6)::DOUBLE FROM g3",
    ]
    return ctes, parts


def _decontam_sql(n: int = 13, bench_mod: int = 25) -> str:
    """DuckDB replica of the decontamination entry over gram STRINGS
    (the Spark side joins on xxhash64 keys; agreement also witnesses
    collision-freeness).  Same normalization (lower + whitespace
    collapse), same <n-words ⇒ no-grams rule, distinct grams per doc."""
    norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    return (
        "WITH w AS (SELECT doc_id, CASE WHEN text IS NULL THEN [] "
        f"ELSE string_split({norm}, ' ') END AS ws FROM documents), "
        f"g AS (SELECT doc_id, CASE WHEN len(ws) < {n} THEN []::VARCHAR[] "
        "ELSE list_distinct(list_transform("
        f"generate_series(1, len(ws) - {n - 1}), "
        f"i -> array_to_string(ws[i:i+{n - 1}], ' '))) END AS grams FROM w), "
        "bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g "
        f"WHERE doc_id % {bench_mod} = 0), "
        "dg AS (SELECT doc_id, unnest(grams) AS gram FROM g), "
        "m AS (SELECT doc_id, count(*) AS n_matched FROM dg "
        "JOIN bg USING (gram) GROUP BY doc_id), "
        "base AS (SELECT count(*)::BIGINT AS n_docs, "
        "(count(*) FILTER (WHERE coalesce(n_matched, 0) >= 1))::BIGINT "
        "AS n_contaminated, "
        "coalesce(sum(n_matched), 0)::BIGINT AS total_matched, "
        "coalesce(max(n_matched), 0)::BIGINT AS max_matched "
        "FROM g LEFT JOIN m USING (doc_id)), "
        # semantic replica: exact brute-force max cosine vs the
        # vec_id%20 benchmark (the Spark side runs the matmul UDF in
        # float64; both engines cast the float32 parquet to double)
        "ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        "eb AS (SELECT v FROM ev WHERE vec_id % 20 = 0), "
        "sm AS (SELECT ev.vec_id, "
        "max(list_cosine_similarity(ev.v, eb.v)) AS ms "
        "FROM ev, eb GROUP BY ev.vec_id), "
        "sem AS (SELECT count(*)::BIGINT AS n_vecs, "
        "(count(*) FILTER (WHERE ms >= 0.8))::BIGINT AS "
        "n_sem_contaminated, round(avg(ms), 6)::DOUBLE AS avg_max_sim "
        "FROM sm) "
        "SELECT base.*, sem.* FROM base, sem"
    )


def _pii_sql() -> str:
    """DuckDB replica of the planted-PII entry: identical VALUES rows,
    the same RE2/Java-common regexes, the Luhn fold as a list_transform
    lambda, and the full redaction chain (global regexp_replace in
    PII_PATTERNS order) fingerprinted under ORDER BY id.

    Possessive quantifiers (``{1,64}+`` — the round-5 fix for Java
    regex's O(run^2) backtracking on long email-charset runs) are
    stripped for DuckDB: RE2 is linear-time by construction, never
    backtracks, and rejects the possessive syntax — greedy and
    possessive are match-identical for these patterns (the class never
    contains the required next literal)."""
    import re as _re

    from great_expectations_spark.functions.curation import (
        PII_PATTERNS as _JAVA_PATTERNS,
    )

    PII_PATTERNS = {
        k: _re.sub(r"(\{\d+,\d+\})\+", r"\1", p)
        for k, p in _JAVA_PATTERNS.items()
    }

    values = ", ".join(
        f"({i}, NULL)" if t is None else f"({i}, '{t}')"
        for i, t in _PII_PLANTED_ROWS
    )
    luhn = (
        "length(d) > 0 AND list_sum(list_transform("
        "generate_series(1, length(d)), i -> "
        "CASE WHEN (length(d) - i) % 2 = 1 "
        "THEN [0,2,4,6,8,1,3,5,7,9][ascii(substring(d, i, 1)) - 47] "
        "ELSE ascii(substring(d, i, 1)) - 48 END)) % 10 = 0"
    )
    count_exprs = []
    for kind, pat in PII_PATTERNS.items():
        if kind == "credit_card":
            expr = (
                f"sum(len(list_filter(list_transform(regexp_extract_all("
                f"text, '{pat}'), m -> regexp_replace(m, '[^0-9]', '', 'g')),"
                f" d -> {luhn})))"
            )
        else:
            expr = f"sum(len(regexp_extract_all(text, '{pat}')))"
        count_exprs.append(f"{expr}::BIGINT AS n_{kind}")
    red = "text"
    for kind, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '[PII:{kind}]', 'g')"
    return (
        f"WITH t(id, text) AS (VALUES {values}) "
        "SELECT " + ", ".join(count_exprs) + ", "
        f"md5(string_agg(coalesce({red}, ''), '|' ORDER BY id)) "
        "AS redact_fp FROM t"
    )


def _mix_sample_sql() -> str:
    """DuckDB replica of the mixture-resampling entry: the same
    max-retention rate math (T = min(n_g / w_g), rate = w_g·T / n_g) and
    the same md5-threshold keep rule, so membership is byte-identical.
    Stacked 'tok_*' rows: the token-weighted mixture mode (rate math
    over whitespace-token masses, same keep rule).  Stacked 'zz_dsir'
    row: a FULL-algorithm DSIR replica (normalize → md5-bucketed
    unigram+bigram features → add-alpha log-ratio between the lang='en'
    target and the pool → per-doc weight → seeded Gumbel key → top-k)
    pinning the selected set by (count, doc_id sum)."""
    weights = ", ".join(f"('{s}', {w})" for s, w in _MIX_WEIGHTS)
    u = (
        "('0x' || substring(md5(doc_id::VARCHAR || 'mix'), 1, 8))::UBIGINT"
        " / 4294967296.0"
    )
    b, a, k = _DSIR_BUCKETS, 1.0, _DSIR_K
    bucket = (
        "(('0x' || substring(md5({key}), 1, 8))::UBIGINT"
        f" % {b})::BIGINT + 1"
    )
    gumbel_u = (
        "((('0x' || substring(md5(doc_id::VARCHAR || "
        f"'{_DSIR_SEED}'), 1, 8))::UBIGINT + 0.5) / 4294967296.0)"
    )
    return (
        f"WITH w(source, wt) AS (VALUES {weights}), "
        "c AS (SELECT source, count(*)::DOUBLE AS n FROM documents "
        "JOIN w USING (source) GROUP BY source), "
        "t AS (SELECT min(n / wt) AS tot FROM c JOIN w USING (source)), "
        "r AS (SELECT source, least(1.0, wt * tot / n) AS rate "
        "FROM c JOIN w USING (source), t), "
        "mix AS (SELECT d.source, count(*)::BIGINT AS kept, "
        "sum(doc_id)::BIGINT AS key_sum "
        f"FROM documents d JOIN r USING (source) WHERE {u} < rate "
        "GROUP BY d.source), "
        "dtok AS (SELECT *, CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok "
        "FROM documents), "
        "ctok AS (SELECT source, sum(ntok)::DOUBLE AS n FROM dtok "
        "JOIN w USING (source) GROUP BY source), "
        "ttok AS (SELECT min(n / wt) AS tot FROM ctok "
        "JOIN w USING (source)), "
        "rtok AS (SELECT source, least(1.0, wt * tot / n) AS rate "
        "FROM ctok JOIN w USING (source), ttok), "
        "tokmix AS (SELECT 'tok_' || d.source AS source, "
        "count(*)::BIGINT AS kept, sum(doc_id)::BIGINT AS key_sum "
        "FROM dtok d JOIN rtok ON d.source = rtok.source "
        "WHERE ('0x' || substring(md5(doc_id::VARCHAR || 'tokmix'), 1, 8))"
        "::UBIGINT / 4294967296.0 < rate GROUP BY d.source), "
        "norm AS (SELECT doc_id, lang, "
        "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt "
        "FROM documents WHERE text IS NOT NULL "
        "AND length(trim(text)) > 0), "
        "ws AS (SELECT doc_id, lang, string_split(nt, ' ') AS v "
        "FROM norm), "
        "feats AS (SELECT doc_id, lang, unnest(list_concat("
        + "list_transform(v, x -> " + bucket.format(key="x") + "), "
        + "CASE WHEN len(v) >= 2 THEN list_transform(range(2, len(v)+1), "
        + "i -> "
        + bucket.format(key="v[i-1] || chr(1) || v[i]")
        + ") ELSE [] END)) AS bk FROM ws), "
        "tc AS (SELECT bk, count(*)::DOUBLE AS c FROM feats "
        "WHERE lang = 'en' GROUP BY bk), "
        "rc AS (SELECT bk, count(*)::DOUBLE AS c FROM feats GROUP BY bk), "
        "tt AS (SELECT sum(c) AS s FROM tc), "
        "rt AS (SELECT sum(c) AS s FROM rc), "
        "ratio AS (SELECT g.bk, "
        f"ln((coalesce(tc.c, 0) + {a}) / ((SELECT s FROM tt) + {a} * {b}))"
        f" - ln((coalesce(rc.c, 0) + {a}) / ((SELECT s FROM rt) + {a} * {b}))"
        " AS lr "
        f"FROM (SELECT unnest(range(1, {b} + 1))::BIGINT AS bk) g "
        "LEFT JOIN tc USING (bk) LEFT JOIN rc USING (bk)), "
        "lw AS (SELECT f.doc_id, sum(ratio.lr) AS logw FROM feats f "
        "JOIN ratio ON f.bk = ratio.bk GROUP BY f.doc_id), "
        f"keyed AS (SELECT doc_id, logw - ln(-ln({gumbel_u})) AS key "
        "FROM lw), "
        f"sel AS (SELECT doc_id FROM keyed ORDER BY key DESC, doc_id "
        f"LIMIT {k}), "
        "dsir AS (SELECT 'zz_dsir' AS source, count(*)::BIGINT AS kept, "
        "sum(doc_id)::BIGINT AS key_sum FROM sel) "
        "SELECT * FROM mix UNION ALL SELECT * FROM tokmix "
        "UNION ALL SELECT * FROM dsir ORDER BY source"
    )


def _curation_oracles() -> dict[str, str]:
    return {
        "text_stats_docs": _text_stats_sql(),
        "decontam_docs": _decontam_sql(),
        "pii_planted": _pii_sql(),
        "mix_sample_docs": _mix_sample_sql(),
    }
