"""Temporal operators (functions/temporal.py): asof_join vs
pandas.merge_asof on randomized inputs, range_join broadcast-vs-binned
plan equivalence, sessionize vs a pure-Python reference."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from great_expectations_spark.functions.temporal import (
    asof_join,
    range_join,
    sessionize,
)


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _await_emitted(q, seen, ids, timeout=180):
    """Wait until every id in ``ids`` was emitted, then stop ``q``.

    ``streaming_asof_enrich`` arms processing-time timers, and Spark
    runs another (no-data) micro-batch after every batch of such an
    operator, so an ``availableNow`` query over it never terminates by
    itself. Stopping it here keeps it from running on in the shared
    session after the test."""
    import time

    deadline = time.monotonic() + timeout
    try:
        while time.monotonic() < deadline:
            if not q.isActive:
                q.awaitTermination()  # re-raises the query's failure
                break
            got = {r["id"] for batch in list(seen) for r in batch}
            if ids <= got:
                break
            time.sleep(0.2)
    finally:
        q.stop()


@pytest.fixture()
def trades_quotes(spark):
    rng = random.Random(7)
    trades = [
        (k, float(rng.randint(0, 100)), i)
        for i, k in enumerate(rng.choices(["a", "b", "c"], k=60))
    ]
    quotes = [
        (k, float(rng.randint(0, 100)), float(rng.randint(1, 999)))
        for k in rng.choices(["a", "b", "c", "d"], k=40)
    ]
    # unique (key, ts) on the right so ties can't make the match
    # ambiguous between engines
    seen = set()
    quotes = [
        q for q in quotes if (q[0], q[1]) not in seen
        and not seen.add((q[0], q[1]))
    ]
    t = _mk(spark, trades, "k string, t double, trade_id long")
    q = _mk(spark, quotes, "k string, t double, px double")
    return t, q, trades, quotes


def _pandas_asof(trades, quotes, direction, tolerance=None,
                 allow_exact_matches=True):
    tdf = pd.DataFrame(trades, columns=["k", "t", "trade_id"]).sort_values(
        "t", kind="stable"
    )
    qdf = pd.DataFrame(quotes, columns=["k", "t", "px"]).sort_values(
        "t", kind="stable"
    )
    out = pd.merge_asof(
        tdf,
        qdf,
        on="t",
        by="k",
        direction=direction,
        tolerance=tolerance,
        allow_exact_matches=allow_exact_matches,
        suffixes=("", "_r"),
    )
    return {
        int(r.trade_id): (None if pd.isna(r.px) else float(r.px))
        for r in out.itertuples()
    }


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("exact", [True, False])
def test_asof_join_matches_pandas(spark, trades_quotes, direction, exact):
    t, q, trades, quotes = trades_quotes
    got = {
        r["trade_id"]: r["px"]
        for r in asof_join(
            t, q, on="t", by="k", direction=direction,
            allow_exact_matches=exact,
        ).collect()
    }
    want = _pandas_asof(trades, quotes, direction,
                        allow_exact_matches=exact)
    assert got == want


def test_asof_join_tolerance(spark, trades_quotes):
    t, q, trades, quotes = trades_quotes
    got = {
        r["trade_id"]: r["px"]
        for r in asof_join(
            t, q, on="t", by="k", tolerance=5.0
        ).collect()
    }
    want = _pandas_asof(trades, quotes, "backward", tolerance=5.0)
    assert got == want


def test_asof_join_null_semantics(spark):
    t = _mk(
        spark,
        [("a", 10.0, 1), ("a", None, 2), (None, 10.0, 3)],
        "k string, t double, trade_id long",
    )
    q = _mk(
        spark,
        [("a", 5.0, 100.0), ("a", None, 666.0), (None, 1.0, 777.0)],
        "k string, t double, px double",
    )
    rows = {
        r["trade_id"]: r["px"]
        for r in asof_join(t, q, on="t", by="k").collect()
    }
    # null right ts / null right key never match; null left ts or key
    # never matches anything
    assert rows == {1: 100.0, 2: None, 3: None}


def test_asof_join_timestamps_and_renamed_payload(spark):
    t = spark.sql(
        "SELECT * FROM VALUES "
        "(1, timestamp'2024-01-01 00:00:10', 'x') AS t(uid, ts, payload)"
    )
    q = spark.sql(
        "SELECT * FROM VALUES "
        "(1, timestamp'2024-01-01 00:00:07', 'q1'),"
        "(1, timestamp'2024-01-01 00:00:11', 'q2') AS q(uid, ts, payload)"
    )
    out = asof_join(t, q, on="ts", by="uid").collect()[0]
    assert out["payload"] == "x"          # left column keeps its name
    assert out["payload_r"] == "q1"       # right collides -> suffixed
    assert out["ts_r"] is not None
    # 3-second tolerance window includes the 00:00:07 quote
    out2 = asof_join(t, q, on="ts", by="uid", tolerance=3.0).collect()[0]
    assert out2["payload_r"] == "q1"
    out3 = asof_join(t, q, on="ts", by="uid", tolerance=2.0).collect()[0]
    assert out3["payload_r"] is None


def test_asof_join_single_shuffle(spark, trades_quotes):
    t, q, _, _ = trades_quotes
    plan = asof_join(t, q, on="t", by="k")._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("exchange") == 1, plan


def _intervals(spark):
    # overlapping windows [k*25, k*25+40]
    return spark.range(0, 8).select(
        (F.col("id") * 25).cast("double").alias("lo"),
        (F.col("id") * 25 + 40).cast("double").alias("hi"),
        F.col("id").alias("interval_id"),
    )


def test_range_join_broadcast_vs_binned(spark):
    pts = spark.range(0, 500).select(
        (F.col("id") % 223).cast("double").alias("v"),
        F.col("id").alias("point_id"),
    )
    iv = _intervals(spark)
    a = sorted(
        (r["point_id"], r["interval_id"])
        for r in range_join(pts, iv, "v", "lo", "hi").collect()
    )
    b = sorted(
        (r["point_id"], r["interval_id"])
        for r in range_join(
            pts, iv, "v", "lo", "hi", strategy="binned", bin_width=30.0
        ).collect()
    )
    assert a == b and len(a) > 500  # overlap -> more pairs than points
    # brute-force reference
    want = sorted(
        (p, i)
        for p in range(500)
        for i in range(8)
        if i * 25 <= (p % 223) <= i * 25 + 40
    )
    assert a == want


def test_range_join_closed_bounds(spark):
    pts = spark.createDataFrame([(0.0, 0), (40.0, 1)], "v double, point_id int")
    iv = spark.createDataFrame([(0.0, 40.0, 0)], "lo double, hi double, interval_id int")
    n = lambda closed: range_join(  # noqa: E731
        pts, iv, "v", "lo", "hi", closed=closed
    ).count()
    assert (n("both"), n("left"), n("right"), n("neither")) == (2, 1, 1, 0)


def test_range_join_binned_no_nested_loop(spark):
    pts = spark.range(0, 100).select(
        F.col("id").cast("double").alias("v"), F.col("id").alias("point_id")
    )
    plan = (
        range_join(pts, _intervals(spark), "v", "lo", "hi",
                   strategy="binned", bin_width=25.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan
    assert "Cartesian" not in plan


def test_sessionize_vs_python(spark):
    rng = random.Random(3)
    rows = []
    for uid in range(5):
        t = 0.0
        for i in range(30):
            t += rng.choice([1.0, 2.0, 50.0])
            rows.append((uid, t, len(rows)))
    df = _mk(spark, rows, "uid int, ts double, rid long")
    got = {
        r["rid"]: r["session_id"]
        for r in sessionize(df, "uid", "ts", gap=10.0).collect()
    }
    # python reference
    want = {}
    by_uid = {}
    for uid, ts, rid in sorted(rows, key=lambda x: (x[0], x[1])):
        prev, sess = by_uid.get(uid, (None, 0))
        if prev is not None and ts - prev > 10.0:
            sess += 1
        by_uid[uid] = (ts, sess)
        want[rid] = sess
    assert got == want
    # sessions are contiguous integer ranges starting at 0 per key
    per_uid = {}
    for (uid, ts, rid) in rows:
        per_uid.setdefault(uid, set()).add(got[rid])
    for uid, sessions in per_uid.items():
        assert sessions == set(range(len(sessions)))


def test_streaming_asof_enrich_matches_batch(spark, tmp_path):
    """Watermark-ordered streaming as-of (applyInPandasWithState) emits
    exactly the batch asof_join result for on-time rows across
    out-of-order multi-batch arrival; late rows are flagged."""
    import json as _json
    import os
    import time

    from pyspark.sql import functions as F

    from great_expectations_spark.streaming.validate_stream import (
        streaming_asof_enrich,
    )

    src = str(tmp_path / "asrc")
    os.makedirs(src)

    def write(fname, rows):
        with open(os.path.join(src, fname), "w") as f:
            for side, k, t, ident, v in rows:
                f.write(_json.dumps(
                    {"side": side, "k": k, "t": t, "id": ident, "v": v}
                ) + "\n")
        # file source orders batches by mtime: make it explicit
        stamp = time.time() + {"f1": 0, "f2": 100, "f3": 200}[fname]
        os.utime(os.path.join(src, fname), (stamp, stamp))

    # f1: two rights + two lefts; f2 advances the watermark; f3 adds a
    # late left (ts already passed) and a still-pending left
    write("f1", [(0, "a", 10, None, 100.0), (0, "a", 30, None, 300.0),
                 (1, "a", 20, 1, None), (1, "a", 40, 2, None)])
    write("f2", [(1, "a", 100, 3, None)])
    write("f3", [(1, "a", 200, 4, None), (1, "a", 15, 5, None)])

    stream = (
        spark.readStream.schema(
            "side int, k string, t long, id long, v double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .withColumn("ts", F.timestamp_seconds(F.col("t")))
    )
    lstream = stream.filter(F.col("side") == 1).select("k", "ts", "id")
    rstream = stream.filter(F.col("side") == 0).select("k", "ts", "v")
    enriched = streaming_asof_enrich(
        lstream, rstream, key="k", ts="ts", delay_threshold="0 seconds"
    )
    seen = []
    q = (
        enriched.writeStream.outputMode("append")
        .foreachBatch(lambda df, _eid: seen.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ackpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_emitted(q, seen, {1, 2, 3, 4, 5})
    rows = {r["id"]: r for r in (x for batch in seen for x in batch)}

    # on-time rows match the BATCH asof_join over the same on-time data
    batch_left = spark.createDataFrame(
        [("a", 20, 1), ("a", 40, 2), ("a", 100, 3)], "k string, t long, id long"
    ).select("k", F.timestamp_seconds("t").alias("ts"), "id")
    batch_right = spark.createDataFrame(
        [("a", 10, 100.0), ("a", 30, 300.0)], "k string, t long, v double"
    ).select("k", F.timestamp_seconds("t").alias("ts"), "v")
    want = {
        r["id"]: r["v"]
        for r in asof_join(batch_left, batch_right, on="ts", by="k").collect()
    }
    assert want == {1: 100.0, 2: 300.0, 3: 300.0}
    for ident, v in want.items():
        assert rows[ident]["v"] == v, ident
        assert rows[ident]["asof_late"] is False
    # the late row emitted best-effort (its match was pruned) and flagged
    assert rows[5]["asof_late"] is True and rows[5]["v"] is None
    # the newest left flushes via the processing-time timer once the
    # watermark reaches its timestamp — no new data for its key needed
    # (the round-4 quiet-key fix; it used to sit in state forever)
    assert rows[4]["v"] == 300.0 and rows[4]["asof_late"] is False
    # right timestamp column survived the JSON round-trip with its type
    assert rows[1]["ts_r"] is not None


@pytest.mark.parametrize("tolerance", [None, 7.0])
def test_asof_join_nearest_matches_pandas(spark, trades_quotes, tolerance):
    t, q, trades, quotes = trades_quotes
    got = {
        r["trade_id"]: r["px"]
        for r in asof_join(
            t, q, on="t", by="k", direction="nearest", tolerance=tolerance
        ).collect()
    }
    want = _pandas_asof(trades, quotes, "nearest", tolerance=tolerance)
    assert got == want


def test_asof_join_nearest_single_shuffle(spark, trades_quotes):
    t, q, _, _ = trades_quotes
    plan = (
        asof_join(t, q, on="t", by="k", direction="nearest")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.lower().count("exchange") == 1, plan


def test_range_join_binned_left(spark):
    pts = spark.createDataFrame(
        [(5.0, 0), (35.0, 1), (999.0, 2), (26.0, 3)],
        "v double, point_id int",
    )
    iv = spark.createDataFrame(
        [(0.0, 10.0, 0), (20.0, 30.0, 1), (25.0, 45.0, 2)],
        "lo double, hi double, interval_id int",
    )
    rows = range_join(
        pts, iv, "v", "lo", "hi", how="left",
        strategy="binned", bin_width=10.0, point_id="point_id",
    ).collect()
    got = sorted((r["point_id"], r["interval_id"]) for r in rows)
    # brute-force left reference (996.0 shares no bin; 999.0 matches
    # nothing; 26.0 overlaps two intervals)
    want = sorted([(0, 0), (1, 2), (2, None), (3, 1), (3, 2)])
    assert got == want
    # parity with the broadcast left join
    bc = sorted(
        (r["point_id"], r["interval_id"])
        for r in range_join(pts, iv, "v", "lo", "hi", how="left").collect()
    )
    assert got == bc
    with pytest.raises(ValueError):
        range_join(pts, iv, "v", "lo", "hi", how="left",
                   strategy="binned", bin_width=10.0)


def test_asof_join_multiple_by_keys(spark):
    t = _mk(
        spark,
        [("a", 1, 10.0, 1), ("a", 2, 10.0, 2), ("b", 1, 10.0, 3)],
        "k1 string, k2 int, t double, trade_id long",
    )
    q = _mk(
        spark,
        [("a", 1, 5.0, 111.0), ("a", 2, 7.0, 222.0), ("b", 2, 1.0, 333.0)],
        "k1 string, k2 int, t double, px double",
    )
    rows = {
        r["trade_id"]: r["px"]
        for r in asof_join(t, q, on="t", by=["k1", "k2"]).collect()
    }
    assert rows == {1: 111.0, 2: 222.0, 3: None}


def test_streaming_asof_quiet_key_flushes_on_timer(spark, tmp_path):
    """A key whose pending left rows see no further traffic must still
    flush when OTHER keys advance the watermark (event-time timeout) —
    and null-key left rows are emitted unenriched, not dropped."""
    import json as _json
    import os
    import time

    from pyspark.sql import functions as F

    from great_expectations_spark.streaming.validate_stream import (
        streaming_asof_enrich,
    )

    src = str(tmp_path / "qsrc")
    os.makedirs(src)

    def write(fname, rows, order):
        with open(os.path.join(src, fname), "w") as f:
            for side, k, t, ident, v in rows:
                f.write(_json.dumps(
                    {"side": side, "k": k, "t": t, "id": ident, "v": v}
                ) + "\n")
        stamp = time.time() + order * 100
        os.utime(os.path.join(src, fname), (stamp, stamp))

    # f1: key 'a' gets one right (t=10) + one left (t=20), plus a
    # null-key left; 'a' then goes quiet forever
    write("f1", [(0, "a", 10, None, 100.0), (1, "a", 20, 1, None),
                 (1, None, 30, 9, None)], 0)
    # f2/f3: only key 'b' traffic, advancing the watermark past t=20
    write("f2", [(0, "b", 500, None, 1.0)], 1)
    write("f3", [(0, "b", 600, None, 2.0)], 2)

    stream = (
        spark.readStream.schema(
            "side int, k string, t long, id long, v double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .withColumn("ts", F.timestamp_seconds(F.col("t")))
    )
    lstream = stream.filter(F.col("side") == 1).select("k", "ts", "id")
    rstream = stream.filter(F.col("side") == 0).select("k", "ts", "v")
    enriched = streaming_asof_enrich(
        lstream, rstream, key="k", ts="ts", delay_threshold="0 seconds"
    )
    seen = []
    q = (
        enriched.writeStream.outputMode("append")
        .foreachBatch(lambda df, _eid: seen.append(df.collect()))
        .option("checkpointLocation", str(tmp_path / "qckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_emitted(q, seen, {1, 9})
    rows = {r["id"]: r for r in (x for batch in seen for x in batch)}
    # the quiet key's row flushed via the timer, correctly enriched
    assert 1 in rows, f"quiet-key left row never emitted: {rows}"
    assert rows[1]["v"] == 100.0
    assert rows[1]["asof_late"] is False
    # the null-key left row was emitted unenriched (batch parity)
    assert 9 in rows
    assert rows[9]["v"] is None
    assert rows[9]["k"] is None


def test_range_join_binned_timestamp_ntz(spark):
    """The binned strategy must bin TIMESTAMP(_NTZ) columns through the
    seconds view (a direct NTZ->DOUBLE cast is rejected by ANSI Spark);
    bin_width is then in seconds."""
    pts = spark.sql(
        "SELECT * FROM VALUES (1, timestamp_ntz'2024-01-01 00:10:00'), "
        "(2, timestamp_ntz'2024-01-01 05:00:00') AS t(pid, ts)"
    )
    iv = spark.sql(
        "SELECT * FROM VALUES "
        "(10, timestamp_ntz'2024-01-01 00:00:00', "
        " timestamp_ntz'2024-01-01 01:00:00') AS t(iid, lo, hi)"
    )
    got = range_join(
        pts, iv, "ts", "lo", "hi", strategy="binned", bin_width=3600,
        how="left", point_id="pid",
    )
    rows = {r["pid"]: r["iid"] for r in got.collect()}
    assert rows == {1: 10, 2: None}
    # agreement with the broadcast strategy on the same NTZ frames
    b = range_join(pts, iv, "ts", "lo", "hi", strategy="broadcast")
    assert [(r["pid"], r["iid"]) for r in b.collect()] == [(1, 10)]
