"""Edge coverage: GE mini-DSL row conditions, empty batches, streaming
windowed violation rates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.core.domain import parse_row_condition
from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.plans.planner import SuiteValidator
from great_expectations_spark.streaming.validate_stream import (
    streaming_quarantine,
    windowed_violation_counts,
)


@pytest.fixture(scope="module")
def table(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0), (4, "a", None)],
        "id int, cat string, x double",
    )


def test_ge_dsl_comparison(spark, table):
    cond = parse_row_condition('col("id") > 2', "great_expectations")
    assert table.filter(cond).count() == 2


def test_ge_dsl_string_and_notnull(spark, table):
    cond = parse_row_condition('col("cat") == "a"', "great_expectations")
    assert table.filter(cond).count() == 2
    cond = parse_row_condition('col("cat").notNull()', "great_expectations")
    assert table.filter(cond).count() == 3


def test_ge_dsl_conjunction(spark, table):
    cond = parse_row_condition(
        'col("id") > 1 & col("x") < 25.0', "great_expectations"
    )
    assert table.filter(cond).count() == 1  # id=2


def test_ge_dsl_in_expectation(spark, table):
    suite = ExpectationSuite("dsl").add(
        "expect_column_values_to_not_be_null",
        column="cat",
        row_condition='col("id") > 2',
        condition_parser="great_expectations",
    )
    r = SuiteValidator().validate(table, suite).results[0]
    assert r.result["element_count"] == 2
    assert r.result["unexpected_count"] == 1


def test_ge_dsl_rejects_garbage():
    with pytest.raises(ValueError):
        parse_row_condition("totally not parseable", "great_expectations")
    with pytest.raises(ValueError):
        parse_row_condition("x > 1", "no_such_parser")


def test_empty_batch_vacuous(spark):
    empty = spark.createDataFrame([], "id int, cat string, ts timestamp")
    suite = (
        ExpectationSuite("empty")
        .add("expect_column_values_to_not_be_null", column="cat")
        .add("expect_column_values_to_be_in_set", column="cat", value_set=["a"])
        .add("expect_column_values_to_be_unique", column="id")
        .add(
            "expect_column_values_to_be_increasing",
            column="id",
            partition_by="cat",
            order_by="id",
        )
        .add("expect_column_mean_to_be_between", column="id", min_value=0)
        .add("expect_sequence_to_be_contiguous", group_column="cat",
             index_column="id")
    )
    res = SuiteValidator().validate(empty, suite, result_format="SUMMARY")
    by_type = {
        r.expectation_config["expectation_type"]: r for r in res.results
    }
    # map/window expectations: vacuously true on empty batches
    for t in (
        "expect_column_values_to_not_be_null",
        "expect_column_values_to_be_in_set",
        "expect_column_values_to_be_unique",
        "expect_column_values_to_be_increasing",
        "expect_sequence_to_be_contiguous",
    ):
        assert by_type[t].success, t
    # aggregate over empty: observed None -> failure (reference semantics)
    assert not by_type["expect_column_mean_to_be_between"].success


def test_streaming_quarantine_respects_row_condition(spark):
    # the expectation's row_condition must gate the streaming flag exactly
    # like the batch planner: rows outside the domain are never unexpected
    from great_expectations_spark.streaming.validate_stream import (
        _combined_unexpected_flag,
    )

    rows = [
        (1, "A", 5),    # in domain, violates between(10, 50)
        (2, "A", 20),   # in domain, ok
        (3, "B", 5),    # OUT of domain: must not be flagged
    ]
    df = spark.createDataFrame(rows, "id int, flag string, qty int")
    suite = ExpectationSuite("s").add(
        "expect_column_values_to_be_between",
        column="qty", min_value=10, max_value=50,
        row_condition="flag = 'A'", condition_parser="spark",
    )
    flagged = {
        r["id"]
        for r in df.withColumn(
            "__u", _combined_unexpected_flag(suite)
        ).filter("__u").collect()
    }
    assert flagged == {1}


def test_streaming_quarantine_resolves_evaluation_parameters(spark):
    # a $PARAMETER kwarg must resolve against the suite's evaluation
    # parameters on the stream exactly as it does in a batch validate
    df = spark.createDataFrame(
        [(i, q) for i, q in enumerate([5, 20, 60, 70, 40])],
        "id int, qty int",
    )
    suite = ExpectationSuite("s").add(
        "expect_column_values_to_be_between",
        column="qty", min_value=10, max_value={"$PARAMETER": "hi"},
    )
    suite.evaluation_parameters = {"hi": 50}
    flagged = {
        r["id"]
        for r in streaming_quarantine(df, suite)
        .filter("__gx_unexpected")
        .collect()
    }
    batch = SuiteValidator().validate(df, suite, "BASIC").results[0]
    assert batch.result["unexpected_count"] == len(flagged) == 3
    assert flagged == {0, 2, 3}


def test_streaming_windowed_violation_counts(spark, tmp_path):
    src = str(tmp_path / "src")
    rows = [
        (i, "a" if i % 4 else None, f"2024-01-01 00:{i:02d}:00")
        for i in range(30)
    ]
    spark.createDataFrame(rows, "id long, cat string, ts_str string").select(
        "id", "cat", F.to_timestamp("ts_str").alias("ts")
    ).write.parquet(src)
    stream = spark.readStream.schema("id long, cat string, ts timestamp").parquet(src)
    suite = ExpectationSuite("s").add(
        "expect_column_values_to_not_be_null", column="cat"
    )
    agg = windowed_violation_counts(stream, suite, "ts", "10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("gx_windowed")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql(
        "SELECT * FROM gx_windowed ORDER BY window_start"
    ).collect()
    assert len(out) == 3  # 30 minutes / 10-minute windows
    assert sum(r["unexpected_rows"] for r in out) == 8  # ids 0,4,...28
    assert all(0 <= r["unexpected_rate"] <= 1 for r in out)


def test_streaming_sequence_gaps_stateful(spark, tmp_path):
    """applyInPandasWithState contiguity: gaps reported per group, and a
    late arrival that fills the gap self-heals in the next batch."""
    import json as _json
    import os

    from great_expectations_spark.streaming.validate_stream import (
        streaming_sequence_gaps,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: conv a has 0,1,3 (missing 2); conv b has 0,1 (complete)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for cid, idx in [("a", 0), ("a", 1), ("a", 3), ("b", 0), ("b", 1)]:
            f.write(_json.dumps({"conv_id": cid, "turn_idx": idx}) + "\n")

    stream = (
        spark.readStream.schema("conv_id string, turn_idx int")
        .json(src)
    )
    gaps = streaming_sequence_gaps(stream, "conv_id", "turn_idx")
    seen = []

    q = (
        gaps.writeStream.outputMode("update")
        .foreachBatch(lambda df, _eid: seen.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    flat = [r for batch in seen for r in batch]
    assert {r["conv_id"] for r in flat} == {"a"}
    assert flat[0]["first_missing"] == 2
    assert flat[0]["missing_count"] == 1
    assert flat[0]["max_seen"] == 3

    # batch 2: the missing turn arrives late -> group heals (no gap rows)
    with open(os.path.join(src, "b2.json"), "w") as f:
        f.write(_json.dumps({"conv_id": "a", "turn_idx": 2}) + "\n")
    seen.clear()
    q2 = (
        gaps.writeStream.outputMode("update")
        .foreachBatch(lambda df, _eid: seen.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert [r for batch in seen for r in batch] == []


def test_multicolumn_not_all_null(spark):
    rows = [(1, "a", "x"), (2, None, "y"), (3, None, None)]
    df = spark.createDataFrame(rows, "id int, a string, b string")
    suite = ExpectationSuite("n").add(
        "expect_multicolumn_values_not_to_be_all_null",
        column_list=["a", "b"],
    )
    r = SuiteValidator().validate(df, suite).results[0]
    assert not r.success
    assert r.result["unexpected_count"] == 1  # only the all-null row


def test_multicolumn_sum_between(spark):
    rows = [(1, 2, 3), (2, 10, 40)]
    df = spark.createDataFrame(rows, "id int, x int, y int")
    suite = ExpectationSuite("s").add(
        "expect_multicolumn_sum_values_to_be_between",
        column_list=["x", "y"], min_value=0, max_value=10,
    )
    r = SuiteValidator().validate(df, suite).results[0]
    assert not r.success and r.result["unexpected_count"] == 1


def test_streaming_windowed_distribution_drift(spark, tmp_path):
    """Streaming PSI per event-time window vs a static baseline partition
    object must match functions.stats.psi computed on batch per-window
    histograms (same tail buckets, same eps pipeline)."""
    from great_expectations_spark.functions import stats as gxstats
    from great_expectations_spark.operators.distribution import (
        build_continuous_partition_object,
    )
    from great_expectations_spark.streaming.validate_stream import (
        windowed_distribution_drift,
    )

    # baseline: values 0..99 uniform; stream: first window matches the
    # baseline, second window shifted up (incl. out-of-support values)
    base_df = spark.range(1_000).select(
        (F.col("id") % 100).cast("double").alias("v")
    )
    baseline = build_continuous_partition_object(base_df, "v", bins=10)

    rows = []
    for i in range(200):
        rows.append((float(i % 100), f"2024-01-01 00:0{i % 5}:00"))
    for i in range(200):
        rows.append((float(i % 100) + 60.0, f"2024-01-01 00:1{i % 5}:00"))
    src = str(tmp_path / "drift_src")
    spark.createDataFrame(rows, "v double, ts_str string").select(
        "v", F.to_timestamp("ts_str").alias("ts")
    ).write.parquet(src)

    stream = spark.readStream.schema("v double, ts timestamp").parquet(src)
    agg = windowed_distribution_drift(
        stream, "v", baseline, "ts", "10 minutes", psi_threshold=0.2
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("gx_drift")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM gx_drift ORDER BY window_start").collect()
    assert len(out) == 2
    first, second = out
    assert first.rows == 200 and second.rows == 200

    # batch replica: histogram each window with the same edge convention
    batch = spark.createDataFrame(rows, "v double, ts_str string").select(
        "v", F.to_timestamp("ts_str").alias("ts")
    )
    edges = baseline["bins"]
    e_raw = (
        [baseline["tail_weights"][0]]
        + list(baseline["weights"])
        + [baseline["tail_weights"][1]]
    )
    for row, lo_min in ((first, 0), (second, 10)):
        window = batch.filter(
            (F.minute("ts") >= lo_min) & (F.minute("ts") < lo_min + 10)
        )
        counts = [
            window.filter(F.col("v") < edges[0]).count()
        ]
        for i in range(len(edges) - 1):
            upper = (
                (F.col("v") <= edges[i + 1])
                if i == len(edges) - 2
                else (F.col("v") < edges[i + 1])
            )
            counts.append(
                window.filter((F.col("v") >= edges[i]) & upper).count()
            )
        counts.append(window.filter(F.col("v") > edges[-1]).count())
        want = gxstats.psi(e_raw, counts)
        assert row.psi == pytest.approx(want, rel=1e-9), (row, want)
    assert not first.drifted and second.drifted


def test_streaming_exact_dedup(spark, tmp_path):
    """First arrival of each normalized content survives; later exact or
    whitespace/case-variant duplicates are dropped; watermark-bounded
    state path and unbounded path agree on an in-horizon corpus."""
    from great_expectations_spark.streaming.validate_stream import (
        streaming_exact_dedup,
    )

    rows = [
        (1, "Hello  World", "2024-01-01 00:00:00"),
        (2, "hello world", "2024-01-01 00:01:00"),     # normalized dup of 1
        (3, "something else", "2024-01-01 00:02:00"),
        (4, "Hello World ", "2024-01-01 00:03:00"),    # dup again
        (5, "third document", "2024-01-01 00:04:00"),
    ]
    src = str(tmp_path / "dedup_src")
    spark.createDataFrame(rows, "doc_id long, text string, ts_str string").select(
        "doc_id", "text", F.to_timestamp("ts_str").alias("ts")
    ).coalesce(1).write.parquet(src)

    for name, kwargs in (
        ("gx_dedup_wm", dict(ts_column="ts", watermark="10 minutes")),
        ("gx_dedup_all", {}),
    ):
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).parquet(src)
        out = streaming_exact_dedup(stream, "text", **kwargs)
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        survivors = sorted(
            r.doc_id for r in spark.sql(f"SELECT * FROM {name}").collect()
        )
        # within one batch Spark keeps the first row per key in batch order
        assert survivors == [1, 3, 5], (name, survivors)
        assert spark.table(name).columns == ["doc_id", "text", "ts"]


def test_streaming_windowed_categorical_drift(spark, tmp_path):
    """Per-window categorical PSI vs functions.stats.psi on batch counts,
    including an out-of-support category in the drifted window."""
    from great_expectations_spark.functions import stats as gxstats
    from great_expectations_spark.operators.distribution import (
        build_categorical_partition_object,
    )
    from great_expectations_spark.streaming.validate_stream import (
        windowed_categorical_drift,
    )

    base_df = spark.createDataFrame(
        [("user",)] * 50 + [("assistant",)] * 45 + [("system",)] * 5,
        "role string",
    )
    baseline = build_categorical_partition_object(base_df, "role")

    rows = (
        [("user", "2024-01-01 00:01:00")] * 10
        + [("assistant", "2024-01-01 00:02:00")] * 9
        + [("system", "2024-01-01 00:03:00")] * 1
        + [("tool", "2024-01-01 00:11:00")] * 12     # novel category
        + [("user", "2024-01-01 00:12:00")] * 8
    )
    src = str(tmp_path / "cat_src")
    spark.createDataFrame(rows, "role string, ts_str string").select(
        "role", F.to_timestamp("ts_str").alias("ts")
    ).write.parquet(src)

    stream = spark.readStream.schema("role string, ts timestamp").parquet(src)
    agg = windowed_categorical_drift(
        stream, "role", baseline, "ts", "10 minutes", psi_threshold=0.3
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("gx_cat_drift")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql(
        "SELECT * FROM gx_cat_drift ORDER BY window_start"
    ).collect()
    assert len(out) == 2
    first, second = out

    vals = list(baseline["values"])
    e_raw = list(baseline["weights"]) + [0.0]
    batch = spark.createDataFrame(rows, "role string, ts_str string").select(
        "role", F.to_timestamp("ts_str").alias("ts")
    )
    for row, lo in ((first, 0), (second, 10)):
        window = batch.filter(
            (F.minute("ts") >= lo) & (F.minute("ts") < lo + 10)
        )
        counts = [
            window.filter(F.col("role") == v).count() for v in vals
        ] + [window.filter(~F.col("role").isin(vals)).count()]
        want = gxstats.psi(e_raw, counts)
        assert row.psi == pytest.approx(want, rel=1e-9), (row, want)
    assert not first.drifted and second.drifted
    assert second.rows == 20


def test_streaming_sequence_gaps_null_index_survives(spark, tmp_path):
    """A NULL turn_idx arrives as NaN through Arrow (nullable int ->
    float64) — it must be skipped, not kill the streaming query."""
    import json as _json
    import os

    from great_expectations_spark.streaming.validate_stream import (
        streaming_sequence_gaps,
    )

    src = str(tmp_path / "src_null")
    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for cid, idx in [("a", 0), ("a", None), ("a", 2)]:
            f.write(_json.dumps({"conv_id": cid, "turn_idx": idx}) + "\n")
    stream = (
        spark.readStream.schema("conv_id string, turn_idx int").json(src)
    )
    gaps = streaming_sequence_gaps(stream, "conv_id", "turn_idx")
    seen = []
    q = (
        gaps.writeStream.outputMode("update")
        .foreachBatch(lambda df, _eid: seen.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_null"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    flat = [r for batch in seen for r in batch]
    # NULL skipped: conv a saw {0, 2}, so 1 is missing
    assert len(flat) == 1 and flat[0]["first_missing"] == 1


def test_streaming_quarantine_empty_suite_raises(spark):
    from great_expectations_spark.core.suite import ExpectationSuite

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    with pytest.raises(ValueError, match="no map expectations"):
        streaming_quarantine_build = __import__(
            "great_expectations_spark.streaming.validate_stream",
            fromlist=["streaming_quarantine"],
        ).streaming_quarantine
        streaming_quarantine_build(stream, ExpectationSuite("empty"))


def test_streaming_near_dedup(spark, tmp_path):
    """MinHash-LSH band registration across microbatches: a one-word
    variant of an earlier document is dropped (shares bands), distinct
    documents survive, and state persists across epochs AND across a
    fresh query run on the same state_path."""
    from great_expectations_spark.streaming.validate_stream import (
        streaming_near_dedup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "astronauts carefully measure the gravitational field of a "
        "distant moon using handmade instruments and patient arithmetic"
    )
    variant = base.replace("patient", "tedious")  # near-dup of base
    other = (
        "completely different subject matter entirely about cooking "
        "pasta with garlic butter sage and parmesan in a cast iron pan "
        "over a wood fire on a rainy autumn evening in the mountains"
    )
    src = tmp_path / "near_src"
    src.mkdir()
    state = str(tmp_path / "band_state")

    def write_batch(fname, rows):
        spark.createDataFrame(rows, "doc_id long, ord long, text string") \
            .coalesce(1).write.mode("overwrite").parquet(str(src / fname))

    survivors = {}

    def run_query():
        stream = spark.readStream.schema(
            "doc_id long, ord long, text string"
        ).option("maxFilesPerTrigger", "1").parquet(str(src) + "/*")
        q = streaming_near_dedup(
            stream, "doc_id", "ord", column="text", state_path=state,
            on_survivors=lambda e, df: survivors.update(
                {r["doc_id"]: r["text"] for r in df.collect()}
            ),
            trigger_once=True,
        )
        q.awaitTermination(120)

    # epoch 1: base wins over its in-batch variant; `other` survives too
    write_batch("b1", [(1, 10, base), (2, 20, variant), (3, 30, other)])
    run_query()
    assert set(survivors) == {1, 3}

    # fresh query, same state dir: cross-RUN variant is dropped, a new
    # distinct doc and a shingle-less doc both survive
    survivors.clear()
    write_batch("b2", [(4, 40, base.replace("moon", "planet")),
                       (5, 50, "short"), (6, 60, other[::-1])])
    run_query()
    assert 4 not in survivors
    assert {5, 6} <= set(survivors)

    # state rows carry (run_id, epoch) lineage for replay safety
    state_df = spark.read.parquet(state)
    assert {"band", "bucket", "run_id", "epoch"} <= set(state_df.columns)
    assert state_df.select("run_id").distinct().count() == 2  # two runs


def test_near_dedup_replay_visibility(spark):
    """An epoch replay must not see its own partially-written keys: the
    visibility rule hides THIS run's same-or-later epochs only."""
    from great_expectations_spark.streaming.validate_stream import (
        _visible_band_state,
    )

    state = spark.createDataFrame(
        [
            (1, 100, "runA", 0),   # earlier epoch, same run -> visible
            (2, 200, "runA", 1),   # same epoch, same run (partial write
                                   # from the failed attempt) -> hidden
            (3, 300, "runA", 2),   # later epoch, same run -> hidden
            (4, 400, "runB", 7),   # other run, any epoch -> visible
        ],
        "band int, bucket int, run_id string, epoch long",
    )
    got = sorted(
        r["band"] for r in _visible_band_state(state, "runA", 1).collect()
    )
    assert got == [1, 4]


def test_near_dedup_replay_after_restart_keeps_batch(spark, tmp_path):
    """Crash-replay simulation: the state rows a failed attempt wrote
    for epoch 0 must be INVISIBLE when the restarted query (same
    checkpoint location => same stable run_id) re-processes epoch 0 —
    a per-invocation random run_id would make the replayed batch see
    its own bands as prior registrations and drop every row."""
    from pyspark.sql import functions as F

    from great_expectations_spark.functions.dedup import minhash_band_keys
    from great_expectations_spark.streaming.validate_stream import (
        _stable_run_id,
        streaming_near_dedup,
    )

    # stable across invocations for the same checkpoint, unique without
    ckpt = str(tmp_path / "nd_ckpt")
    assert _stable_run_id(ckpt) == _stable_run_id(ckpt)
    assert _stable_run_id(ckpt) != _stable_run_id(ckpt + "_other")
    assert _stable_run_id(None) != _stable_run_id(None)

    text = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "astronauts carefully measure the gravitational field of a "
        "distant moon using handmade instruments and patient arithmetic"
    )
    src = tmp_path / "nd_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 10, text)], "doc_id long, ord long, text string"
    ).coalesce(1).write.parquet(str(src / "b1"))
    state = str(tmp_path / "nd_state")

    # simulate the FAILED first attempt: its epoch-0 band keys reached
    # the state store, but the checkpoint never committed
    batch = spark.read.parquet(str(src / "b1"))
    minhash_band_keys(
        batch, "doc_id", text_column="text", extra_columns=["ord"]
    ).select("band", "bucket").distinct().withColumn(
        "run_id", F.lit(_stable_run_id(ckpt))
    ).withColumn("epoch", F.lit(0)).write.parquet(state)

    # the restarted query replays epoch 0 over the same data
    survivors = {}
    stream = spark.readStream.schema(
        "doc_id long, ord long, text string"
    ).parquet(str(src) + "/*")
    q = streaming_near_dedup(
        stream, "doc_id", "ord", column="text", state_path=state,
        on_survivors=lambda e, df: survivors.update(
            {r["doc_id"]: r["text"] for r in df.collect()}
        ),
        checkpoint_location=ckpt,
        trigger_once=True,
    )
    q.awaitTermination(120)
    # the replayed batch keeps its rows (original verdict reproduced)
    assert set(survivors) == {1}


def test_near_dedup_band_state_bounded_and_compactable(spark, tmp_path):
    """State-size bound + compaction: after N duplicate-heavy epochs the
    band store holds at most bands x distinct-docs keys (dup documents
    register no NEW keys), compact_band_state folds the epoch files to
    one sorted run without changing a single verdict, and the store
    keeps growing correctly afterwards."""
    from great_expectations_spark.streaming.validate_stream import (
        compact_band_state,
        streaming_near_dedup,
    )

    texts = [
        " ".join(f"w{i * 100 + j}" for j in range(30)) for i in range(6)
    ]
    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    survivors = {}

    def write_batch(fname, rows):
        spark.createDataFrame(
            rows, "doc_id long, ord long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / fname))

    def run_query():
        stream = (
            spark.readStream.schema("doc_id long, ord long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/*")
        )
        q = streaming_near_dedup(
            stream, "doc_id", "ord", column="text", state_path=state,
            bands=16, on_survivors=lambda e, df: survivors.update(
                {r["doc_id"]: e for r in df.collect()}
            ),
            trigger_once=True,
        )
        q.awaitTermination(120)

    # 5 epochs; epochs 2-5 are pure duplicates of epoch 1's documents
    write_batch("b0", [(i, i, texts[i]) for i in range(6)])
    for e in range(1, 5):
        write_batch(f"b{e}", [(100 * e + i, 100 * e + i, texts[i])
                              for i in range(6)])
    run_query()
    assert sorted(survivors) == [0, 1, 2, 3, 4, 5]  # only epoch-1 docs
    state_df = spark.read.parquet(state)
    n_keys = state_df.select("band", "bucket").distinct().count()
    assert state_df.count() == n_keys  # dup epochs appended NOTHING
    assert n_keys <= 16 * 6  # bands x distinct docs — the hard bound

    # compaction folds the per-epoch files without changing verdicts
    stats = compact_band_state(spark, state)
    assert stats["keys"] == n_keys
    assert stats["files_after"] <= 1 < stats["files_before"]
    after = spark.read.parquet(state)
    assert after.count() == n_keys
    assert after.select("run_id").distinct().collect()[0][0] == "__compacted__"

    # a fresh run against the compacted store: old dups still drop, new
    # distinct docs still survive and register
    survivors.clear()
    new_text = " ".join(f"z{j}" for j in range(30))
    write_batch("b9", [(900, 900, texts[0]), (901, 901, new_text)])
    run_query()
    assert 900 not in survivors and 901 in survivors
    assert (
        spark.read.parquet(state)
        .select("band", "bucket").distinct().count() > n_keys
    )


def test_band_state_compaction_crash_recovery(spark, tmp_path):
    """A compaction crash between the two swap renames must never make
    the dedup filter silently forget its history: the backup restores
    on the next compact call, and the reader refuses a half-swapped
    store instead of treating it as first-epoch."""
    import os

    from great_expectations_spark.streaming.validate_stream import (
        compact_band_state,
        streaming_near_dedup,
    )

    state = str(tmp_path / "st")
    spark.createDataFrame(
        [(1, 2, "r", 0)], "band int, bucket long, run_id string, epoch int"
    ).write.parquet(state)
    n0 = spark.read.parquet(state).count()
    # simulate the crash window: live dir moved aside, staging lost
    os.rename(state, state + ".__precompact__")
    assert not os.path.exists(state)

    # reader: loud refusal, not an empty-state restart
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 1, "some words here")], "doc_id long, ord long, text string"
    ).write.parquet(str(src / "b0"))
    q = streaming_near_dedup(
        spark.readStream.schema("doc_id long, ord long, text string")
        .parquet(str(src) + "/*"),
        "doc_id", "ord", column="text", state_path=state,
        on_survivors=lambda e, df: df.count(), trigger_once=True,
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="mid-compaction"):
        q.awaitTermination(120)

    # compactor: auto-recovers the backup, then compacts normally
    stats = compact_band_state(spark, state)
    assert stats["keys"] == n0
    assert os.path.exists(state)
    assert not os.path.exists(state + ".__precompact__")


def test_band_state_compaction_keeps_crashed_epoch_replayable(
    spark, tmp_path
):
    """A query that crashed after writing epoch 0's band keys but before
    its commit, then a compaction, then the restart: the replayed epoch
    must still see its own keys as its own (they keep their lineage
    through the fold) and keep its rows, while history from other runs
    folds to the compacted lineage and stays in force."""
    from pyspark.sql import functions as F

    from great_expectations_spark.functions.dedup import minhash_band_keys
    from great_expectations_spark.streaming.validate_stream import (
        _stable_run_id,
        compact_band_state,
        streaming_near_dedup,
    )

    def words(tag):
        return " ".join(f"{tag}{j}" for j in range(30))

    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id long, ord long, text string"

    def band_rows(df, run_id, epoch):
        return minhash_band_keys(
            df, "doc_id", text_column="text", extra_columns=["ord"]
        ).select("band", "bucket").distinct().select(
            "band", "bucket", F.lit(run_id).alias("run_id"),
            F.lit(epoch).alias("epoch"),
        )

    # an earlier run registered "old" over two epochs
    old = spark.createDataFrame([(7, 1, words("old"))], schema)
    band_rows(old, "earlier-run", 0).write.parquet(state)
    band_rows(old, "earlier-run", 1).write.mode("append").parquet(state)
    # the crashed attempt wrote epoch 0's keys for its batch: a new
    # document and a near-duplicate of "old"
    spark.createDataFrame(
        [(1, 10, words("new")), (2, 11, words("old"))], schema
    ).coalesce(1).write.parquet(str(src / "b0"))
    batch = spark.read.parquet(str(src / "b0"))
    band_rows(batch, _stable_run_id(ckpt), 0).write.mode("append").parquet(
        state
    )

    compact_band_state(spark, state)
    lineage = {
        (r["run_id"], r["epoch"])
        for r in spark.read.parquet(state)
        .select("run_id", "epoch").distinct().collect()
    }
    assert lineage == {
        ("__compacted__", -1),
        ("earlier-run", 1),
        (_stable_run_id(ckpt), 0),
    }

    survivors = {}
    q = streaming_near_dedup(
        spark.readStream.schema(schema).parquet(str(src) + "/*"),
        "doc_id", "ord", column="text", state_path=state,
        on_survivors=lambda e, df: survivors.update(
            {r["doc_id"]: e for r in df.collect()}
        ),
        checkpoint_location=ckpt,
        trigger_once=True,
    )
    q.awaitTermination(120)
    # the replay keeps its new document; the near-duplicate of the
    # earlier run's document still drops
    assert set(survivors) == {1}
