"""Incremental distinct counting via per-partition mergeable HLL sketches
(checkpoint/sketches.py).

Contract: a resumed run computes sketches ONLY for unseen partitions
(zero data jobs when nothing is new), the merged estimate equals the
whole-table exact distinct at test cardinalities (DataSketches HLL is
exact in sparse mode), and values shared across partitions are never
double-counted (set union, not sum).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.checkpoint.sketches import PartitionSketchStore


@pytest.fixture(scope="module")
def days(spark):
    # conv ids overlap across days (c0..c9 on d0, c5..c14 on d1) so the
    # merged distinct (15) differs from the per-partition sum (20)
    rows = [("d0", f"c{i}", i) for i in range(10)]
    rows += [("d1", f"c{i}", i * 2) for i in range(5, 15)]
    rows += [(None, "c_nullday", 99)]  # NULL partition must be addressable
    return spark.createDataFrame(rows, "day string, conv_id string, n int")


def test_roundtrip_and_exact_union(spark, days, tmp_path):
    store = PartitionSketchStore(str(tmp_path))
    computed = store.update(days, "day", ["conv_id", "n"])
    assert sorted(computed) == ["None", "d0", "d1"]
    est = store.merged_distinct(spark, ["conv_id", "n"])
    exact = days.agg(
        F.countDistinct("conv_id").alias("c"),
        F.countDistinct("n").alias("n"),
    ).first()
    assert est["conv_id"] == exact["c"] == 16
    assert est["n"] == exact["n"]


def test_resume_computes_only_new_partitions(spark, days, tmp_path):
    store = PartitionSketchStore(str(tmp_path))
    first = store.update(days.filter(F.col("day") == "d0"), "day", ["conv_id"])
    assert first == ["d0"]
    # second call over the FULL table only touches the unseen partitions
    second = store.update(days, "day", ["conv_id"])
    assert sorted(second) == ["None", "d1"]
    # and a fully-resumed call does nothing at all
    assert store.update(days, "day", ["conv_id"]) == []
    est = store.merged_distinct(spark, ["conv_id"])
    assert est["conv_id"] == 16


def test_lg_k_mismatch_refused(spark, days, tmp_path):
    PartitionSketchStore(str(tmp_path), lg_k=12).update(
        days, "day", ["conv_id"]
    )
    other = PartitionSketchStore(str(tmp_path), lg_k=14)
    with pytest.raises(ValueError, match="lg_k"):
        other.load("d0")


def test_unsupported_type_casts_to_string(spark, tmp_path):
    df = spark.createDataFrame(
        [("p", 1.5), ("p", 1.5), ("p", 2.5)], "part string, x double"
    )
    store = PartitionSketchStore(str(tmp_path))
    store.update(df, "part", ["x"])
    assert store.merged_distinct(spark, ["x"])["x"] == 2


def test_run_checkpoint_carries_distinct_estimates(spark, days, tmp_path):
    from great_expectations_spark.checkpoint.runner import run_checkpoint
    from great_expectations_spark.core.suite import ExpectationSuite

    suite = ExpectationSuite("s").add(
        "expect_column_values_to_not_be_null", column="conv_id"
    )
    ckpt = str(tmp_path / "ckpt")
    nn = days.filter(F.col("day").isNotNull())
    out = run_checkpoint(
        nn, suite, "day", ckpt, sketch_columns=["conv_id"]
    )
    assert out["success"]
    assert sorted(out["sketch_partitions_computed"]) == ["d0", "d1"]
    assert out["distinct_estimates"]["conv_id"] == 15
    # resumed run: no partition re-validated, no sketch recomputed, the
    # merged estimate still answers from the store
    again = run_checkpoint(
        nn, suite, "day", ckpt, sketch_columns=["conv_id"]
    )
    assert again["partitions_validated_now"] == 0
    assert again["sketch_partitions_computed"] == []
    assert again["distinct_estimates"]["conv_id"] == 15


def test_fingerprint_change_resketches_and_revalidates(spark, tmp_path):
    """Late-arriving data: detect_changes re-validates only the changed
    partition, the sketch store drops and recomputes its record, and
    the merged stats follow the new data."""
    from great_expectations_spark.checkpoint.runner import (
        partition_fingerprints,
        run_checkpoint,
    )
    from great_expectations_spark.core.suite import ExpectationSuite

    v1 = spark.createDataFrame(
        [("d0", "c0"), ("d0", "c1"), ("d1", "c2")],
        "day string, conv_id string",
    )
    # d0 gains a late row; d1 unchanged
    v2 = spark.createDataFrame(
        [("d0", "c0"), ("d0", "c1"), ("d0", "c9"), ("d1", "c2")],
        "day string, conv_id string",
    )
    suite = ExpectationSuite("s").add(
        "expect_column_values_to_not_be_null", column="conv_id"
    )
    ckpt = str(tmp_path / "ck")
    out1 = run_checkpoint(
        v1, suite, "day", ckpt, sketch_columns=["conv_id"],
        detect_changes=True,
    )
    assert out1["partitions_validated_now"] == 2
    assert out1["distinct_estimates"]["conv_id"] == 3
    out2 = run_checkpoint(
        v2, suite, "day", ckpt, sketch_columns=["conv_id"],
        detect_changes=True,
    )
    assert out2["partitions_validated_now"] == 1  # only d0
    assert out2["sketch_partitions_computed"] == ["d0"]
    assert out2["distinct_estimates"]["conv_id"] == 4
    # unchanged data: full resume, nothing recomputed anywhere
    out3 = run_checkpoint(
        v2, suite, "day", ckpt, sketch_columns=["conv_id"],
        detect_changes=True,
    )
    assert out3["partitions_validated_now"] == 0
    assert out3["sketch_partitions_computed"] == []
    # fingerprints are partitioning-independent (XOR commutes)
    assert partition_fingerprints(v2, "day") == partition_fingerprints(
        v2.repartition(7), "day"
    )


def test_fingerprint_change_drops_other_kinds(spark, tmp_path):
    """A changed partition's stale kinds must not survive: after the
    fingerprinted recompute of 'hll', the old 'topk' record is gone and
    a follow-up topk request recomputes it from the NEW data."""
    from great_expectations_spark.checkpoint.runner import (
        partition_fingerprints,
    )

    v1 = spark.createDataFrame(
        [("p", "a"), ("p", "a"), ("p", "b")], "part string, v string"
    )
    v2 = spark.createDataFrame(
        [("p", "b"), ("p", "b"), ("p", "b")], "part string, v string"
    )
    store = PartitionSketchStore(str(tmp_path))
    store.update(
        v1, "part", ["v"], kinds=("hll", "topk"),
        fingerprints=partition_fingerprints(v1, "part"),
    )
    assert store.merged_topk(spark, ["v"], k=1)["v"] == [("a", 2)]
    # data changed: hll-only update must drop the stale topk too
    assert store.update(
        v2, "part", ["v"], kinds=("hll",),
        fingerprints=partition_fingerprints(v2, "part"),
    ) == ["p"]
    assert store.merged_topk(spark, ["v"], k=1)["v"] == []
    store.update(
        v2, "part", ["v"], kinds=("topk",),
        fingerprints=partition_fingerprints(v2, "part"),
    )
    assert store.merged_topk(spark, ["v"], k=1)["v"] == [("b", 3)]
    assert store.merged_distinct(spark, ["v"])["v"] == 1


def test_accumulate_batch_idempotent_replay(spark, tmp_path):
    """Streaming contract: a replayed micro-batch (same batch_id)
    overwrites its own records, so double-delivery never double-counts;
    distinct batches accumulate."""
    store = PartitionSketchStore(str(tmp_path))
    b0 = spark.createDataFrame(
        [("d0", "c0"), ("d0", "c1")], "day string, conv_id string"
    )
    b1 = spark.createDataFrame(
        [("d0", "c1"), ("d1", "c2")], "day string, conv_id string"
    )
    store.accumulate_batch(b0, "day", ["conv_id"], batch_id=0)
    store.accumulate_batch(b1, "day", ["conv_id"], batch_id=1)
    # replay batch 1 (at-least-once delivery)
    store.accumulate_batch(b1, "day", ["conv_id"], batch_id=1)
    assert store.merged_distinct(spark, ["conv_id"])["conv_id"] == 3
    assert len(store.stored_partitions()) == 3  # d0@@b0, d0@@b1, d1@@b1


def test_streaming_foreach_batch_accumulates(spark, tmp_path):
    """Real readStream -> foreachBatch -> store: merged answers equal
    the batch aggregation over everything that flowed through."""
    import json as _json
    import os as _os

    src = str(tmp_path / "src")
    _os.makedirs(src)
    rows = [
        {"day": f"d{i % 3}", "conv_id": f"c{i}", "n": i} for i in range(30)
    ]
    with open(_os.path.join(src, "b0.json"), "w") as f:
        f.write("\n".join(_json.dumps(r) for r in rows))
    store = PartitionSketchStore(str(tmp_path / "store"))
    stream = spark.readStream.schema(
        "day string, conv_id string, n int"
    ).json(src)
    q = (
        stream.writeStream.foreachBatch(
            store.foreach_batch_writer(
                "day", ["conv_id"], kinds=("hll", "topk")
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert store.merged_distinct(spark, ["conv_id"])["conv_id"] == 30
    top = store.merged_topk(spark, ["conv_id"], k=30)["conv_id"]
    assert len(top) == 30 and all(c == 1 for _, c in top)


def test_compact_folds_records_and_survives_gc_crash(spark, tmp_path):
    import os as _os

    store = PartitionSketchStore(str(tmp_path))
    for i in range(4):
        b = spark.createDataFrame(
            [("p", f"c{i}"), ("p", "shared"), ("q", f"x{i}")],
            "part string, v string",
        )
        store.accumulate_batch(
            b, "part", ["v"], batch_id=i, kinds=("hll", "topk")
        )
    before = store.merged_distinct(spark, ["v"])["v"]
    assert before == 9  # c0..c3, shared, x0..x3
    folded = store.compact(spark)
    assert folded == 8  # 2 partitions x 4 batches
    assert store.merged_distinct(spark, ["v"])["v"] == 9
    top = store.merged_topk(spark, ["v"], k=1)["v"]
    assert top == [("shared", 4)]
    assert len(store.stored_partitions()) == 1
    # crash-safety: resurrect a folded file next to the compacted record
    # — readers must keep ignoring it (the compacted record names it)
    import json as _json

    live = list(store.stored_partitions().values())[0]
    with open(live) as f:
        compacted_names = _json.load(f)["folded"]
    ghost_name = next(n for n in compacted_names if n.startswith("p__b0"))
    ghost = _os.path.join(store.directory, ghost_name)
    with open(ghost, "w") as f:
        f.write(
            _json.dumps({"partition_id": "p@@b0", "lg_k": 12, "hll": {}})
        )
    assert store.merged_distinct(spark, ["v"])["v"] == 9
    assert len(store.stored_partitions()) == 1


def test_double_compaction_keeps_tombstoning_ghosts(spark, tmp_path):
    """compact#1 crashes mid-GC leaving a folded file on disk; compact#2
    folds the compacted record + new data.  The second compacted record
    must carry the TRANSITIVE folded set, so the ghost stays ignored
    even after compact#1's record (its original tombstone) is deleted."""
    import json as _json
    import os as _os

    store = PartitionSketchStore(str(tmp_path))
    for i in range(2):
        b = spark.createDataFrame(
            [("p", f"c{i}")], "part string, v string"
        )
        store.accumulate_batch(b, "part", ["v"], batch_id=i)
    # snapshot one record, compact, then resurrect the snapshot = the
    # crash-survivor ghost
    name, path = sorted(
        (n, _os.path.join(store.directory, n))
        for n in _os.listdir(store.directory)
    )[0]
    ghost_payload = open(path).read()
    assert store.compact(spark) == 2
    with open(_os.path.join(store.directory, name), "w") as f:
        f.write(ghost_payload)
    # second round: new batch + compact again (folds compacted + batch)
    b = spark.createDataFrame([("p", "c9")], "part string, v string")
    store.accumulate_batch(b, "part", ["v"], batch_id=9)
    assert store.compact(spark) == 2
    live = list(store.stored_partitions().values())
    assert len(live) == 1
    assert name in _json.load(open(live[0]))["folded"]
    # ghost never double-counts: c0, c1, c9 = 3 distinct
    assert store.merged_distinct(spark, ["v"])["v"] == 3


def test_topk_max_items_mismatch_recomputes_not_raises(spark, tmp_path):
    df = spark.createDataFrame(
        [("p", "a"), ("p", "b")], "part string, v string"
    )
    PartitionSketchStore(str(tmp_path), topk_max_items=5000).update(
        df, "part", ["v"], kinds=("topk",)
    )
    # a store opened with different max_items re-sketches instead of
    # treating the records as covered and blowing up in merged_topk
    store = PartitionSketchStore(str(tmp_path), topk_max_items=10_000)
    assert store.update(df, "part", ["v"], kinds=("topk",)) == ["p"]
    assert store.merged_topk(spark, ["v"], k=2)["v"] == [
        ("a", 1), ("b", 1),
    ] or store.merged_topk(spark, ["v"], k=2)["v"] == [("b", 1), ("a", 1)]


def test_colliding_partition_names_keep_separate_records(spark, tmp_path):
    """'a b' and 'a?b' sanitize to the same filename stem; records must
    not clobber each other (silent stat loss + resume ping-pong)."""
    df = spark.createDataFrame(
        [("a b", "x"), ("a?b", "y"), ("a?b", "z")],
        "part string, v string",
    )
    store = PartitionSketchStore(str(tmp_path))
    assert sorted(store.update(df, "part", ["v"])) == ["a b", "a?b"]
    assert store.update(df, "part", ["v"]) == []  # stable resume
    assert store.merged_distinct(spark, ["v"])["v"] == 3
    assert set(store.stored_partitions()) == {"a b", "a?b"}


def test_merged_histogram_exact_and_quantiles(spark, days, tmp_path):
    """Histogram counts merge by exact integer addition; quantiles
    interpolate within one bin width of the true percentile."""
    edges = [0.0, 5.0, 10.0, 20.0, 30.0]
    store = PartitionSketchStore(
        str(tmp_path), histogram_edges={"n": edges}
    )
    store.update(days, "day", ["n"], kinds=("histogram",))
    h = store.merged_histogram(["n"])["n"]
    # data: n = 0..9 (d0), 10..28 even (d1), 99 (null day)
    import numpy as np

    vals = np.array(
        [r["n"] for r in days.select("n").collect()], dtype=float
    )
    assert h["edges"] == edges
    assert h["below"] == int((vals < 0).sum()) == 0
    assert h["counts"][0] == int(((vals >= 0) & (vals < 5)).sum())
    assert h["counts"][1] == int(((vals >= 5) & (vals < 10)).sum())
    assert h["counts"][2] == int(((vals >= 10) & (vals < 20)).sum())
    # closed last bin
    assert h["counts"][3] == int(((vals >= 20) & (vals <= 30)).sum())
    assert h["above"] == int((vals > 30).sum()) == 1  # the 99
    assert h["below"] + sum(h["counts"]) + h["above"] == len(vals)
    qs = store.merged_quantiles(["n"], [0.0, 0.5, 1.0])["n"]
    med = float(np.quantile(vals, 0.5))
    assert qs[0] == 0.0  # clamped to first edge
    assert abs(qs[1] - med) <= 10.0  # within the containing bin's width
    assert qs[2] == 30.0  # mass above the range clamps to last edge


def test_histogram_edge_change_recomputes(spark, days, tmp_path):
    e1 = {"n": [0.0, 10.0, 30.0]}
    e2 = {"n": [0.0, 15.0, 30.0]}
    PartitionSketchStore(str(tmp_path), histogram_edges=e1).update(
        days, "day", ["n"], kinds=("histogram",)
    )
    store2 = PartitionSketchStore(str(tmp_path), histogram_edges=e2)
    # different edges: records not covered -> recomputed, not mis-merged
    assert len(store2.update(days, "day", ["n"], kinds=("histogram",))) == 3
    h = store2.merged_histogram(["n"])["n"]
    assert h["edges"] == e2["n"]


def test_histogram_compaction_preserves_counts(spark, tmp_path):
    edges = {"x": [0.0, 1.0, 2.0]}
    store = PartitionSketchStore(str(tmp_path), histogram_edges=edges)
    for i in range(3):
        b = spark.createDataFrame(
            [("p", 0.5), ("p", 1.5)], "part string, x double"
        )
        store.accumulate_batch(
            b, "part", ["x"], batch_id=i, kinds=("histogram",)
        )
    before = store.merged_histogram(["x"])["x"]
    assert before["counts"] == [3, 3]
    assert store.compact(spark) == 3
    assert store.merged_histogram(["x"])["x"]["counts"] == [3, 3]


def test_drift_vs_history(spark, tmp_path):
    """New data shaped like history -> tiny PSI / high p; shifted data
    -> large PSI / tiny p.  History is never re-scanned (only the store
    and the new frame are touched)."""
    edges = {"x": [0.0, 1.0, 2.0, 3.0, 4.0]}
    store = PartitionSketchStore(str(tmp_path), histogram_edges=edges)
    hist_rows = [("p0", float(i % 4) + 0.5) for i in range(400)]
    hist = spark.createDataFrame(hist_rows, "part string, x double")
    store.update(hist, "part", ["x"], kinds=("histogram",))

    same = spark.createDataFrame(
        [("new", float(i % 4) + 0.5) for i in range(100)],
        "part string, x double",
    )
    shifted = spark.createDataFrame(
        [("new", 3.5)] * 100, "part string, x double"
    )
    ok = store.drift_vs_history(same, "x")
    bad = store.drift_vs_history(shifted, "x")
    assert ok["psi"] < 0.01 and ok["chi2_p"] > 0.9
    assert bad["psi"] > 0.5 and bad["chi2_p"] < 1e-6
    assert sum(ok["new_counts"]) == 100
    assert sum(ok["history_counts"]) == 400
    with pytest.raises(ValueError, match="no stored histogram"):
        PartitionSketchStore(str(tmp_path / "e")).drift_vs_history(
            same, "x"
        )
    # edges inferred from the stored records when the store object was
    # opened without histogram_edges
    bare = PartitionSketchStore(str(tmp_path))
    assert bare.drift_vs_history(same, "x")["psi"] < 0.01


def test_history_drift_expectation_in_suite(spark, tmp_path):
    """The drift gate as a first-class expectation: pass on same-shaped
    data, fail on a shift, details carry the full comparison."""
    from great_expectations_spark.core.suite import ExpectationSuite
    from great_expectations_spark.plans.planner import SuiteValidator

    edges = [0.0, 1.0, 2.0, 3.0, 4.0]
    store_dir = str(tmp_path / "ck")
    hist = spark.createDataFrame(
        [("p0", float(i % 4) + 0.5) for i in range(400)],
        "part string, x double",
    )
    PartitionSketchStore(
        store_dir, histogram_edges={"x": edges}
    ).update(hist, "part", ["x"], kinds=("histogram",))

    def judge(df):
        suite = ExpectationSuite("drift").add(
            "expect_column_distribution_to_match_sketched_history",
            column="x", store_dir=store_dir,
            max_psi=0.1, min_chi2_p=0.01,
        )
        r = SuiteValidator().validate(df, suite).results[0]
        if r.exception_info["raised_exception"]:
            raise AssertionError(r.exception_info["exception_message"])
        return r

    same = spark.createDataFrame(
        [("n", float(i % 4) + 0.5) for i in range(100)],
        "part string, x double",
    )
    shifted = spark.createDataFrame(
        [("n", 3.5)] * 100, "part string, x double"
    )
    ok, bad = judge(same), judge(shifted)
    assert ok.success and not bad.success
    assert bad.result["details"]["chi2_p"] < 1e-6
    assert sum(ok.result["details"]["new_counts"]) == 100


def test_per_column_kinds_one_call(spark, days, tmp_path):
    """The mapping form sketches a heterogeneous plan in one update
    (moments only where numeric, topk only where wanted) and the
    answers match the per-kind calls."""
    store = PartitionSketchStore(str(tmp_path))
    computed = store.update(
        days, "day",
        {"conv_id": ("hll", "topk"), "n": ("hll", "moments")},
    )
    assert sorted(computed) == ["None", "d0", "d1"]
    # resume across the SAME mapped plan: nothing recomputes
    assert store.update(
        days, "day",
        {"conv_id": ("hll", "topk"), "n": ("hll", "moments")},
    ) == []
    assert store.merged_distinct(spark, ["conv_id", "n"]) == {
        "conv_id": 16,
        "n": days.select("n").distinct().count(),
    }
    assert store.merged_topk(spark, ["conv_id"], k=1)["conv_id"][0][1] == 2
    assert store.merged_moments(["n"])["n"]["count"] == 21
    # a kind the plan never asked for on that column is absent -> a
    # later request computes just it
    assert store.update(days, "day", {"n": ("topk",)}) != []


def test_suggest_histogram_edges_from_moments(spark, days, tmp_path):
    store = PartitionSketchStore(str(tmp_path))
    store.update(days, "day", ["n"], kinds=("moments",))
    edges = store.suggest_histogram_edges("n", bins=4)
    lo = min(r["n"] for r in days.select("n").collect())
    hi = max(r["n"] for r in days.select("n").collect())
    assert edges[0] == float(lo) and edges[-1] == float(hi)
    assert len(edges) == 5
    assert all(b > a for a, b in zip(edges, edges[1:]))
    # bootstrap loop: derived edges feed a second store's histogram kind
    store2 = PartitionSketchStore(
        str(tmp_path / "h"), histogram_edges={"n": edges}
    )
    store2.update(days, "day", ["n"], kinds=("histogram",))
    h = store2.merged_histogram(["n"])["n"]
    assert h["below"] == 0 and h["above"] == 0  # full range covered
    with pytest.raises(ValueError, match="no stored moments"):
        PartitionSketchStore(str(tmp_path / "e")).suggest_histogram_edges(
            "n"
        )


def test_grouped_drift_expectation_per_partition(spark, tmp_path):
    """validate_by_partition evaluates the drift gate for every
    partition in one grouped binning job, matching per-partition
    whole-frame runs exactly."""
    from great_expectations_spark.checkpoint.runner import (
        validate_by_partition,
    )
    from great_expectations_spark.core.suite import ExpectationSuite

    edges = [0.0, 1.0, 2.0, 3.0, 4.0]
    store_dir = str(tmp_path / "ck")
    hist = spark.createDataFrame(
        [("p0", float(i % 4) + 0.5) for i in range(400)],
        "part string, x double",
    )
    PartitionSketchStore(
        store_dir, histogram_edges={"x": edges}
    ).update(hist, "part", ["x"], kinds=("histogram",))
    new = spark.createDataFrame(
        [("same", float(i % 4) + 0.5) for i in range(100)]
        + [("shifted", 3.5)] * 100,
        "part string, x double",
    )
    suite = ExpectationSuite("drift").add(
        "expect_column_distribution_to_match_sketched_history",
        column="x", store_dir=store_dir, max_psi=0.1,
    )
    out = validate_by_partition(new, suite, "part")
    assert out["same"].results[0].success
    assert not out["shifted"].results[0].success
    # grouped numbers equal the per-partition whole-frame run
    from great_expectations_spark.plans.planner import SuiteValidator

    solo = SuiteValidator().validate(
        new.filter(F.col("part") == "shifted"), suite
    ).results[0]
    assert (
        out["shifted"].results[0].result["details"]["new_counts"]
        == solo.result["details"]["new_counts"]
    )
    assert out["shifted"].results[0].result["observed_value"] == (
        solo.result["observed_value"]
    )


def test_drift_empty_batch_fails_loudly(spark, tmp_path):
    """An empty/all-null new batch must not get a drift verdict: chi²
    degenerates to p=1.0 (always passes) and would mask an outage."""
    edges = {"x": [0.0, 1.0, 2.0]}
    store = PartitionSketchStore(str(tmp_path), histogram_edges=edges)
    hist = spark.createDataFrame(
        [("p", 0.5), ("p", 1.5)], "part string, x double"
    )
    store.update(hist, "part", ["x"], kinds=("histogram",))
    empty = spark.createDataFrame([], "part string, x double")
    nulls = spark.createDataFrame(
        [("n", None)], "part string, x double"
    )
    for bad in (empty, nulls):
        with pytest.raises(ValueError, match="no non-null"):
            store.drift_vs_history(bad, "x")
    # grouped: the all-null partition maps to the error alone, healthy
    # partitions are still judged
    mixed = nulls.unionByName(
        spark.createDataFrame([("ok", 0.5)], "part string, x double")
    )
    per = store.drift_vs_history(mixed, "x", ["part"])
    assert set(per) == {("n",), ("ok",)}
    assert isinstance(per[("n",)], ValueError)
    assert per[("ok",)]["psi"] >= 0


def test_suggest_edges_collapsed_range(spark, tmp_path):
    """A tiny range at large magnitude (step below ulp) must still
    yield strictly increasing edges the store accepts."""
    df = spark.createDataFrame(
        [("p", 1e9), ("p", 1e9 + 1e-6)], "part string, x double"
    )
    store = PartitionSketchStore(str(tmp_path))
    store.update(df, "part", ["x"], kinds=("moments",))
    edges = store.suggest_histogram_edges("x", bins=20)
    assert len(edges) >= 2
    assert all(b > a for a, b in zip(edges, edges[1:]))
    # the store's validation accepts them (the bootstrap loop works)
    PartitionSketchStore(
        str(tmp_path / "h"), histogram_edges={"x": edges}
    )


def test_run_checkpoint_histogram_kind(spark, days, tmp_path):
    from great_expectations_spark.checkpoint.runner import run_checkpoint
    from great_expectations_spark.core.suite import ExpectationSuite

    suite = ExpectationSuite("s").add(
        "expect_column_values_to_not_be_null", column="n"
    )
    nn = days.filter(F.col("day").isNotNull())
    out = run_checkpoint(
        nn, suite, "day", str(tmp_path / "ck"),
        sketch_columns=["n"], sketch_kinds=("histogram",),
        sketch_histogram_edges={"n": [0.0, 10.0, 30.0]},
    )
    h = out["histograms"]["n"]
    assert sum(h["counts"]) + h["below"] + h["above"] == nn.count()


def test_hadoop_scheme_store_file_uri(spark, days, tmp_path):
    """A file:// store exercises the Hadoop FileSystem adapter end to
    end (list/read/write/delete) — the same code path an s3a:// or
    hdfs:// checkpoint dir takes, per the tuple-store precedent."""
    uri = "file://" + str(tmp_path / "ck")
    store = PartitionSketchStore(uri)
    assert sorted(store.update(days, "day", ["conv_id"])) == [
        "None", "d0", "d1",
    ]
    assert store.update(days, "day", ["conv_id"]) == []  # resume via FS
    assert store.merged_distinct(spark, ["conv_id"])["conv_id"] == 16
    # streaming accumulate + compact run the write/delete paths too
    b = spark.createDataFrame([("d0", "c_new")], "day string, conv_id string")
    store.accumulate_batch(b, "day", ["conv_id"], batch_id=0)
    assert store.compact(spark) == 4
    assert store.merged_distinct(spark, ["conv_id"])["conv_id"] == 17
    # and the local path on disk really holds exactly one live record
    names = [
        n for n in __import__("os").listdir(str(tmp_path / "ck" / "sketches"))
        if n.endswith(".json")
    ]
    assert len(names) == 1


def test_streaming_drift_monitor(spark, tmp_path):
    """readStream -> drift monitor: batch 1 seeds the baseline (no
    verdict — no history yet), batch 2 is judged against batch 1 and
    then folded in; a shifted batch 3 alarms against the grown
    baseline."""
    import json as _json
    import os as _os

    edges = {"x": [0.0, 1.0, 2.0, 3.0, 4.0]}
    store = PartitionSketchStore(
        str(tmp_path / "st"), histogram_edges=edges
    )
    src = str(tmp_path / "src")
    _os.makedirs(src)
    results = []
    stream = spark.readStream.schema("x double").json(src)

    def run_batch(name, rows):
        with open(_os.path.join(src, name), "w") as f:
            f.write("\n".join(_json.dumps({"x": v}) for v in rows))
        q = (
            stream.writeStream.foreachBatch(
                store.foreach_batch_drift_monitor("x", results.append)
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    uniform = [float(i % 4) + 0.5 for i in range(80)]
    run_batch("b0.json", uniform)
    assert results == []  # no history yet -> seeded, not judged
    run_batch("b1.json", uniform)
    assert len(results) == 1 and results[0]["psi"] < 0.01
    run_batch("b2.json", [3.5] * 80)
    assert len(results) == 2 and results[1]["psi"] > 0.5
    # history grew batch by batch: 2 accumulated stream records judged
    # batch 3 (b0+b1 = 160 rows of history)
    assert sum(results[1]["history_counts"]) == 160


def test_empty_store_returns_zero(spark, tmp_path):
    store = PartitionSketchStore(str(tmp_path))
    assert store.merged_distinct(spark, ["whatever"]) == {"whatever": 0}
    assert store.merged_topk(spark, ["whatever"]) == {"whatever": []}
    assert store.merged_moments(["whatever"])["whatever"]["count"] == 0


def test_merged_moments_exact_vs_whole_table(spark, days, tmp_path):
    store = PartitionSketchStore(str(tmp_path))
    store.update(days, "day", ["n"], kinds=("moments",))
    got = store.merged_moments(["n"])["n"]
    exact = days.agg(
        F.count("n").alias("c"), F.sum("n").alias("s"),
        F.avg("n").alias("m"), F.var_pop("n").alias("v"),
        F.min("n").alias("lo"), F.max("n").alias("hi"),
    ).first()
    assert got["count"] == exact["c"]
    assert got["sum"] == float(exact["s"])
    assert got["mean"] == pytest.approx(float(exact["m"]))
    assert got["variance"] == pytest.approx(float(exact["v"]))
    assert (got["min"], got["max"]) == (float(exact["lo"]), float(exact["hi"]))


def test_merged_topk_exact_within_tracking(spark, days, tmp_path):
    store = PartitionSketchStore(str(tmp_path), topk_max_items=100)
    store.update(days, "day", ["conv_id"], kinds=("topk",))
    top = store.merged_topk(spark, ["conv_id"], k=3)["conv_id"]
    # c5..c9 appear twice (both days), everything else once
    assert all(cnt == 2 and item in {f"c{i}" for i in range(5, 10)}
               for item, cnt in top)
    assert len(top) == 3


def test_kind_upgrade_recomputes_only_missing_kind(spark, days, tmp_path):
    store = PartitionSketchStore(str(tmp_path))
    assert len(store.update(days, "day", ["conv_id"], kinds=("hll",))) == 3
    # same columns, new kind: every partition needs the topk state
    assert len(
        store.update(days, "day", ["conv_id"], kinds=("topk",))
    ) == 3
    # both kinds now covered — nothing recomputes, both answers live
    assert store.update(
        days, "day", ["conv_id"], kinds=("hll", "topk")
    ) == []
    assert store.merged_distinct(spark, ["conv_id"])["conv_id"] == 16
    assert store.merged_topk(spark, ["conv_id"], k=1)["conv_id"][0][1] == 2


def test_moments_rejects_non_numeric(spark, days, tmp_path):
    store = PartitionSketchStore(str(tmp_path))
    with pytest.raises(ValueError, match="numeric"):
        store.update(days, "day", ["conv_id"], kinds=("moments",))


def test_run_checkpoint_all_kinds(spark, days, tmp_path):
    from great_expectations_spark.checkpoint.runner import run_checkpoint
    from great_expectations_spark.core.suite import ExpectationSuite

    suite = ExpectationSuite("s").add(
        "expect_column_values_to_not_be_null", column="n"
    )
    nn = days.filter(F.col("day").isNotNull())
    out = run_checkpoint(
        nn, suite, "day", str(tmp_path / "ck"),
        sketch_columns=["n"], sketch_kinds=("hll", "moments", "topk"),
    )
    exact = nn.agg(
        F.countDistinct("n").alias("d"), F.avg("n").alias("m"),
    ).first()
    assert out["distinct_estimates"]["n"] == exact["d"]
    assert out["stats_estimates"]["n"]["mean"] == pytest.approx(
        float(exact["m"])
    )
    assert out["top_values"]["n"]  # non-empty (value 10 appears twice)


# -- round-5: chunked backfill, lg_k coverage, monitor error typing ------


def test_backfill_chunked_bounded_and_kill_resumable(spark, tmp_path):
    """Cold backfill over many partitions runs in bounded chunks (one
    grouped job + one record batch per chunk) so the driver never holds
    more than chunk_size sketch rows, and a kill mid-backfill resumes
    from the first unwritten record — completed chunks are durable."""
    n_parts = 10_000
    df = spark.range(n_parts).select(
        F.concat(F.lit("p"), F.col("id")).alias("part"),
        (F.col("id") % 97).cast("double").alias("x"),
    )
    store = PartitionSketchStore(str(tmp_path / "full"))
    done = store.update(
        df, "part", ["x"], kinds=("moments",), chunk_size=2500
    )
    assert len(done) == n_parts
    assert len(store.stored_partitions()) == n_parts
    m = store.merged_moments(["x"])["x"]
    assert m["count"] == n_parts and m["min"] == 0.0 and m["max"] == 96.0
    assert store.update(df, "part", ["x"], kinds=("moments",)) == []

    # kill mid-backfill: _record raises partway through chunk 2
    small = df.filter(F.col("id") < 40)
    store2 = PartitionSketchStore(str(tmp_path / "killed"))
    real_record = store2._record
    writes = {"n": 0}

    def dying_record(pid, payload):
        if writes["n"] >= 15:
            raise RuntimeError("driver killed")
        writes["n"] += 1
        real_record(pid, payload)

    store2._record = dying_record
    with pytest.raises(RuntimeError, match="killed"):
        store2.update(small, "part", ["x"], kinds=("moments",), chunk_size=10)
    store2._record = real_record
    survived = set(store2.stored_partitions())
    assert len(survived) == 15  # chunk 1 (10) + partial chunk 2 (5)
    # resume computes ONLY the unwritten partitions
    resumed = store2.update(
        small, "part", ["x"], kinds=("moments",), chunk_size=10
    )
    assert len(resumed) == 40 - 15
    assert set(resumed).isdisjoint(survived)
    assert store2.merged_moments(["x"])["x"]["count"] == 40


def test_backfill_fingerprint_moves_between_chunks(spark, tmp_path):
    """A partition that CHANGES while a multi-chunk backfill is down
    (record written pre-kill, data + fingerprint move before the rerun)
    must be recomputed from scratch on resume — stale kinds dropped,
    never merged with fresh ones."""
    from great_expectations_spark.checkpoint.runner import (
        partition_fingerprints,
    )

    v1 = spark.createDataFrame(
        [(f"p{i}", float(v)) for i in range(4) for v in (1, 2, 3)],
        "part string, x double",
    )
    store = PartitionSketchStore(str(tmp_path))
    real_record = store._record
    writes = {"n": 0}

    def dying_record(pid, payload):
        if writes["n"] >= 2:  # chunk 1 (p0, p1) lands, then the kill
            raise RuntimeError("killed")
        writes["n"] += 1
        real_record(pid, payload)

    store._record = dying_record
    with pytest.raises(RuntimeError):
        store.update(
            v1, "part", ["x"], kinds=("hll", "moments"),
            fingerprints=partition_fingerprints(v1, "part"), chunk_size=2,
        )
    store._record = real_record
    written = set(store.stored_partitions())
    assert len(written) == 2
    changed = sorted(written)[0]  # a pre-kill partition changes
    v2 = v1.filter(F.col("part") != changed).unionByName(
        spark.createDataFrame(
            [(changed, 100.0), (changed, 200.0)], "part string, x double"
        )
    )
    # rerun asks only for moments — the changed partition must still be
    # rebuilt whole (fresh payload), not have fresh moments merged onto
    # its stale pre-kill hll
    resumed = store.update(
        v2, "part", ["x"], kinds=("moments",),
        fingerprints=partition_fingerprints(v2, "part"), chunk_size=2,
    )
    assert changed in resumed and len(resumed) == 3
    rec = store._raw_records()[changed]
    assert "hll" not in rec  # stale kind dropped with the old data
    assert rec["moments"]["x"]["count"] == 2
    assert rec["moments"]["x"]["sum"] == 300.0
    total = store.merged_moments(["x"])["x"]
    assert total["count"] == 11 and total["max"] == 200.0


def test_lg_k_change_recomputes_instead_of_relabelling(spark, days, tmp_path):
    """A store reopened with a different lg_k that extends an existing
    record must recompute the WHOLE record: reusing the old payload
    would re-stamp old-precision HLL blobs with the new lg_k, defeating
    the mixed-precision merge guard (ADVICE r4 #1)."""
    PartitionSketchStore(str(tmp_path), lg_k=12).update(
        days, "day", ["conv_id"], kinds=("hll",)
    )
    store = PartitionSketchStore(str(tmp_path), lg_k=14)
    # adding a kind used to reuse the stale payload — now every record
    # is rebuilt at the store's precision
    redone = store.update(days, "day", ["conv_id"], kinds=("hll", "topk"))
    assert sorted(redone) == ["None", "d0", "d1"]
    for rec in store._raw_records().values():
        assert int(rec["lg_k"]) == 14
    # blobs really are lg_k=14 now: load() and the merge both accept them
    assert store.load("d0")
    assert store.merged_distinct(spark, ["conv_id"])["conv_id"] == 16
    # and the same-precision rerun is a full resume
    assert store.update(days, "day", ["conv_id"], kinds=("hll", "topk")) == []


def test_drift_monitor_propagates_config_errors(spark, tmp_path):
    """foreach_batch_drift_monitor suppresses ONLY empty-batch /
    no-history skips; a persistent config error (stored edges vs store
    edges) must propagate, not silently disable alerting (ADVICE r4 #2)."""
    from great_expectations_spark.checkpoint.sketches import (
        EmptyBatchError,
        NoHistoryError,
    )

    df = spark.createDataFrame([(0.5,), (1.5,)], "x double")
    seeded = PartitionSketchStore(
        str(tmp_path), histogram_edges={"x": [0.0, 1.0, 2.0]}
    )
    results = []
    process = seeded.foreach_batch_drift_monitor("x", results.append)
    process(df, 0)  # seeds history (NoHistoryError suppressed)
    assert results == []
    process(df.limit(0), 1)  # EmptyBatchError suppressed, not accumulated
    assert results == []
    process(df, 2)
    assert len(results) == 1  # alerting path alive

    # same directory reopened with DIFFERENT edges: every batch's
    # drift_vs_history raises plain ValueError — must reach the caller
    broken = PartitionSketchStore(
        str(tmp_path), histogram_edges={"x": [0.0, 0.5, 1.0, 2.0]}
    )
    bad = broken.foreach_batch_drift_monitor("x", results.append)
    with pytest.raises(ValueError, match="edges"):
        bad(df, 3)
    assert len(results) == 1  # and it never masqueraded as a verdict
    # sanity: the benign types subclass ValueError (back-compat)
    assert issubclass(EmptyBatchError, ValueError)
    assert issubclass(NoHistoryError, ValueError)


def test_accumulate_batch_chunked_matches_single_job(spark, tmp_path):
    """chunk_size on accumulate_batch bounds the per-collect row count
    without changing the answer."""
    df = spark.createDataFrame(
        [(f"p{i % 7}", float(i)) for i in range(70)], "part string, x double"
    )
    a = PartitionSketchStore(str(tmp_path / "one"))
    b = PartitionSketchStore(str(tmp_path / "chunked"))
    wrote_a = a.accumulate_batch(df, "part", ["x"], batch_id=0,
                                 kinds=("hll", "moments"))
    wrote_b = b.accumulate_batch(df, "part", ["x"], batch_id=0,
                                 kinds=("hll", "moments"), chunk_size=3)
    assert sorted(wrote_a) == sorted(wrote_b)
    assert a.merged_moments(["x"]) == b.merged_moments(["x"])
    assert (
        a.merged_distinct(spark, ["x"]) == b.merged_distinct(spark, ["x"])
    )


# -- column names with a dot, records missing columns, compaction --------


def test_dotted_column_sketches_match_exact(spark, tmp_path):
    """A sketch column whose name contains a dot is one column, not a
    struct field: every kind sketches and merges it, and the merged
    answers equal exact aggregates over the table."""
    from great_expectations_spark.checkpoint.runner import run_checkpoint
    from great_expectations_spark.core.suite import ExpectationSuite

    # value v appears 2*(v+1) times and NULL 3 times, so the top-k
    # order has no ties; 9.0 lies above the last edge, NULL in no bin
    rows = [
        (f"d{i % 3}", float(v), i)
        for v in range(6)
        for i in range(2 * (v + 1))
    ]
    rows += [("d0", 9.0, 0)] + [(f"d{i}", None, i) for i in range(3)]
    df = spark.createDataFrame(rows, "day string, `a.b` double, n int")
    edges = [0.0, 2.0, 4.0, 6.0]
    suite = ExpectationSuite("s").add(
        "expect_column_values_to_not_be_null", column="n"
    )
    out = run_checkpoint(
        df, suite, "day", str(tmp_path / "ck"),
        sketch_columns={"a.b": ["hll", "moments", "topk", "histogram"]},
        sketch_topk_max_items=100,
        sketch_histogram_edges={"a.b": edges},
    )
    col = F.col("`a.b`")
    exact = df.agg(
        F.countDistinct(col).alias("d"), F.count(col).alias("c"),
        F.sum(col).alias("s"), F.avg(col).alias("m"),
        F.var_pop(col).alias("v"), F.min(col).alias("lo"),
        F.max(col).alias("hi"),
    ).first()
    assert out["distinct_estimates"] == {"a.b": exact["d"]}
    m = out["stats_estimates"]["a.b"]
    assert (m["count"], m["sum"], m["min"], m["max"]) == (
        exact["c"], exact["s"], exact["lo"], exact["hi"]
    )
    assert m["mean"] == pytest.approx(exact["m"])
    assert m["variance"] == pytest.approx(exact["v"])
    # the top-k state counts NULL as an item
    counts = {r[0]: r[1] for r in df.groupBy(col).count().collect()}
    assert out["top_values"]["a.b"] == sorted(
        counts.items(), key=lambda kv: -kv[1]
    )
    values = [r[1] for r in rows if r[1] is not None]
    assert out["histograms"]["a.b"] == {
        "edges": edges,
        "below": 0,
        "counts": [
            sum(lo <= v < hi or (hi == edges[-1] and v == hi)
                for v in values)
            for lo, hi in zip(edges, edges[1:])
        ],
        "above": sum(v > edges[-1] for v in values),
    }


def test_merges_over_records_missing_a_column(spark, tmp_path):
    """Records that lack a column add nothing to its merge, and a column
    no record holds reads 0 distinct and no top values."""
    store = PartitionSketchStore(str(tmp_path), topk_max_items=100)
    store.update(
        spark.createDataFrame(
            [("p1", "a"), ("p1", "b"), ("p1", "a")], "part string, v string"
        ),
        "part", ["v"], kinds=("hll", "topk"),
    )
    store.update(
        spark.createDataFrame(
            [("p2", 1), ("p2", 2), ("p2", 2), ("p3", 3)],
            "part string, w int",
        ),
        "part", ["w"], kinds=("hll", "topk"),
    )
    cols = ["v", "w", "absent"]
    assert store.merged_distinct(spark, cols) == {
        "v": 2, "w": 3, "absent": 0
    }
    assert store.merged_topk(spark, cols, k=1) == {
        "v": [("a", 2)], "w": [(2, 2)], "absent": []
    }


def test_compact_two_hll_and_two_topk_columns(spark, tmp_path):
    """Compaction folds several HLL and top-k columns (of different item
    types) in one job; every merged answer is the same before and
    after."""
    store = PartitionSketchStore(str(tmp_path), topk_max_items=100)
    plan = {"s": ["hll", "topk"], "n": ["hll", "topk"]}
    for b in range(3):
        # per batch: s{j} j+1 times, n = 10*j j+2 times (j < 3+b)
        rows = [
            ("p", f"s{j}", None)
            for j in range(3 + b)
            for _ in range(j + 1)
        ] + [("p", None, 10 * j) for j in range(3 + b) for _ in range(j + 2)]
        store.accumulate_batch(
            spark.createDataFrame(rows, "part string, s string, n int"),
            "part", plan, batch_id=b,
        )

    def answers():
        top = store.merged_topk(spark, ["s", "n"], k=20)
        return (
            store.merged_distinct(spark, ["s", "n"]),
            {c: dict(v) for c, v in top.items()},
        )

    before = answers()
    assert before[0] == {"s": 5, "n": 5}
    assert before[1]["s"]["s4"] == 5 and before[1]["n"][40] == 6
    assert store.compact(spark) == 3
    assert answers() == before
