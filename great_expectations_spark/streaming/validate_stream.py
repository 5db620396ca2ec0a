"""Structured-Streaming validation.

The reference is batch-only (SURVEY.md §2.M); this module maps the
engine's semantics onto streams:

* ``streaming_quarantine`` — map expectations are stateless row predicates,
  so a stream can be split into valid / violating rows with zero state:
  one ``withColumn`` of the combined unexpected flag.
* ``validate_each_microbatch`` — full suite semantics per micro-batch via
  ``foreachBatch``: each epoch runs the ONE-pass bundled validator on the
  batch DataFrame and hands the ExpectationSuiteValidationResult to a
  callback (store/alert).  Exactly-once per epoch when the callback is
  idempotent on (run_id=epoch_id).
* ``windowed_violation_counts`` — event-time windowed unexpected-rate
  aggregation with a watermark for late data.
* ``streaming_sequence_gaps`` — custom stateful operator
  (``applyInPandasWithState``): per-conversation contiguity violations
  with self-healing out-of-order arrival handling and bounded state.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.plans.planner import SuiteValidator, unexpected_flag
from great_expectations_spark.plans.specs import CompiledMap


def _combined_unexpected_flag(suite: ExpectationSuite) -> Column:
    flags: List[Column] = []
    # compiled as the batch planner compiles it: evaluation parameters
    # resolved, each flag gated by its expectation's row_condition domain
    items = SuiteValidator()._compile(
        suite, suite.evaluation_parameters, catch_exceptions=False
    )
    for item in items:
        if not isinstance(item.compiled, CompiledMap):
            raise TypeError(
                f"{item.config.expectation_type} is not a stateless map "
                "expectation; use validate_each_microbatch for aggregates"
            )
        flags.append(unexpected_flag(item))
    if not flags:
        raise ValueError(
            "suite has no map expectations to evaluate on the stream — "
            "add at least one, or skip streaming_quarantine for this suite"
        )
    out = flags[0]
    for f in flags[1:]:
        out = out | f
    return out


def streaming_quarantine(
    stream_df: DataFrame, suite: ExpectationSuite
) -> DataFrame:
    """Annotate a streaming DataFrame with ``__gx_unexpected`` (True when
    ANY map expectation in the suite flags the row). Filter on it to route
    rows to a quarantine sink."""
    return stream_df.withColumn(
        "__gx_unexpected", _combined_unexpected_flag(suite)
    )


def validate_each_microbatch(
    stream_df: DataFrame,
    suite: ExpectationSuite,
    on_result: Callable,
    result_format: str = "BASIC",
    validator: Optional[SuiteValidator] = None,
    checkpoint_location: Optional[str] = None,
    trigger_once: bool = False,
):
    """Run the full bundled validator per micro-batch. Returns the started
    StreamingQuery; ``on_result(epoch_id, suite_result)`` receives each
    epoch's ExpectationSuiteValidationResult."""
    v = validator or SuiteValidator()

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        result = v.validate(
            batch_df,
            suite,
            result_format=result_format,
            run_id=f"epoch-{epoch_id}",
            batch_meta={"epoch_id": epoch_id},
        )
        on_result(epoch_id, result)

    writer = stream_df.writeStream.foreachBatch(process).outputMode("update")
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_violation_counts(
    stream_df: DataFrame,
    suite: ExpectationSuite,
    ts_column: str = "ts",
    window_duration: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time windowed violation rates with late-data watermarking —
    feed to any streaming sink for drift/alerting dashboards."""
    flagged = streaming_quarantine(stream_df, suite)
    return (
        flagged.withWatermark(ts_column, watermark)
        .groupBy(F.window(F.col(ts_column), window_duration))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("__gx_unexpected"), 1).otherwise(0)).alias(
                "unexpected_rows"
            ),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "rows",
            "unexpected_rows",
            (F.col("unexpected_rows") / F.col("rows")).alias(
                "unexpected_rate"
            ),
        )
    )


def streaming_sequence_gaps(
    stream_df: DataFrame,
    group_column: str = "conv_id",
    index_column: str = "turn_idx",
    first_index: int = 0,
    max_tracked: int = 4096,
):
    """Custom stateful streaming operator: per-group sequence-contiguity
    violations (the streaming analogue of
    ``expect_sequence_to_be_contiguous``) via ``applyInPandasWithState``.

    For every group (conversation) the state keeps the set of indexes seen
    so far, compressed to (contiguous-prefix watermark, pending
    out-of-order set).  Each micro-batch emits one row per group whose
    pending set is non-empty — i.e. groups with at least one MISSING
    predecessor at that point in the stream:

        (group, max_seen, missing_count, first_missing)

    Late/out-of-order arrivals self-heal: when the gap fills, the prefix
    watermark advances and the group stops being reported.  State is
    bounded: ``max_tracked`` caps the pending set (beyond it the group is
    reported with missing_count = -1, meaning "gap too wide to track" —
    at that point the batch validator should handle the conversation).

    Spark-first notes: state shuffles by ``group_column`` exactly once per
    micro-batch; Arrow carries the per-group rows; nothing leaves the
    executors except the per-group summary rows.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{group_column} string, max_seen int, missing_count int, "
        "first_missing int"
    )
    state_schema = "watermark int, pending array<int>"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            watermark, pending_list = state.get
            pending = set(pending_list)
        else:
            watermark, pending = first_index - 1, set()
        overflow = watermark is None
        for pdf in pdfs:
            for idx in pdf[index_column]:
                # Arrow hands a nullable int column over as float64:
                # NULL arrives as NaN, not None — int(NaN) would kill
                # the whole streaming query
                if idx is None or pd.isna(idx):
                    continue
                idx = int(idx)
                if overflow or idx <= watermark:
                    continue
                pending.add(idx)
                if len(pending) > max_tracked:
                    overflow = True
                    pending = set()
                    break
            # advance the contiguous prefix
            while not overflow and (watermark + 1) in pending:
                watermark += 1
                pending.discard(watermark)
        if overflow:
            state.update((None, []))
            yield pd.DataFrame(
                {
                    group_column: [key[0]],
                    "max_seen": [-1],
                    "missing_count": [-1],
                    "first_missing": [-1],
                }
            )
            return
        state.update((watermark, sorted(pending)))
        if pending:
            yield pd.DataFrame(
                {
                    group_column: [key[0]],
                    "max_seen": [max(pending)],
                    "missing_count": [max(pending) - watermark - len(pending)],
                    "first_missing": [watermark + 1],
                }
            )

    return (
        stream_df.groupBy(group_column)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def windowed_distribution_drift(
    stream_df: DataFrame,
    column: str,
    baseline: dict,
    ts_column: str = "ts",
    window_duration: str = "5 minutes",
    watermark: str = "10 minutes",
    psi_threshold: Optional[float] = None,
    eps: float = 1e-6,
) -> DataFrame:
    """Event-time windowed distribution drift of ``column`` against a
    STATIC continuous partition object (``build_continuous_partition_
    object``: {bins, weights, tail_weights}) — the streaming face of the
    batch two-sample PSI check (§2.J).

    One stateful aggregation per window: the baseline's bin edges are
    plan-time literals, so per-bin counts are conditional sums (same
    closed-last-bin convention as the batch ``split_histograms``), with
    below/above tail buckets so out-of-support drift — the loudest kind —
    is scored, not dropped.  PSI is then a pure JVM array expression
    (normalize → eps-clip → renormalize → Σ (a−e)·ln(a/e)) replicating
    ``functions.stats.psi`` step for step, so streaming scores match the
    batch metric to float precision.  No Python touches the hot path;
    state per window is ~n_bins longs.

    Returns columns: window_start, window_end, rows, scored_rows, psi,
    drifted (null when ``psi_threshold`` is None).
    """
    bins = [float(b) for b in baseline["bins"]]
    if len(bins) < 2:
        raise ValueError("baseline partition object needs >= 2 bin edges")
    nb = len(bins) - 1
    tails = baseline.get("tail_weights") or [0.0, 0.0]
    e_raw = (
        [float(tails[0])] + [float(w) for w in baseline["weights"]]
        + [float(tails[1])]
    )
    col = F.col(column)
    conds = [col < F.lit(bins[0])]
    for i in range(nb):
        lo, hi = bins[i], bins[i + 1]
        conds.append(
            (col >= F.lit(lo))
            & ((col <= F.lit(hi)) if i == nb - 1 else (col < F.lit(hi)))
        )
    conds.append(col > F.lit(bins[-1]))
    return _windowed_psi(
        stream_df, conds, e_raw, ts_column, window_duration, watermark,
        psi_threshold, eps,
    )


def _windowed_psi(
    stream_df: DataFrame,
    conds: List[Column],
    e_raw: List[float],
    ts_column: str,
    window_duration: str,
    watermark: str,
    psi_threshold: Optional[float],
    eps: float,
) -> DataFrame:
    """Shared engine for the windowed drift operators: bucket-membership
    conditions -> conditional sums inside ONE watermarked window agg ->
    PSI as a pure JVM array expression replicating ``functions.stats.psi``
    (normalize -> eps-clip -> renormalize on both sides)."""
    import numpy as np

    e_arr = np.asarray(e_raw, dtype=float)
    # e-side of functions.stats.psi, precomputed driver-side
    e_norm = e_arr / e_arr.sum() if e_arr.sum() else e_arr
    e_clip = np.clip(e_norm, eps, None)
    e_final = e_clip / e_clip.sum()

    aggs = [
        F.sum(F.when(c, 1).otherwise(0)).alias(f"__gx_b{i}")
        for i, c in enumerate(conds)
    ] + [F.count(F.lit(1)).alias("rows")]
    grouped = (
        stream_df.withWatermark(ts_column, watermark)
        .groupBy(F.window(F.col(ts_column), window_duration))
        .agg(*aggs)
    )
    arr = F.array(
        *[F.col(f"__gx_b{i}").cast("double") for i in range(len(conds))]
    )
    total = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)
    a_norm = F.transform(arr, lambda x: x / total)
    a_clip = F.transform(a_norm, lambda x: F.greatest(x, F.lit(eps)))
    a_sum = F.aggregate(a_clip, F.lit(0.0), lambda a, x: a + x)
    a_final = F.transform(a_clip, lambda x: x / a_sum)
    e_lit = F.array(*[F.lit(float(v)) for v in e_final])
    terms = F.zip_with(
        a_final, e_lit, lambda a, e: (a - e) * F.log(a / e)
    )
    psi_expr = F.when(
        total > 0, F.aggregate(terms, F.lit(0.0), lambda a, x: a + x)
    )
    out = grouped.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        F.col("rows"),
        total.cast("long").alias("scored_rows"),
        psi_expr.alias("psi"),
    )
    drifted = (
        F.lit(None).cast("boolean")
        if psi_threshold is None
        else (F.col("psi") > F.lit(float(psi_threshold)))
    )
    return out.withColumn("drifted", drifted)


def streaming_exact_dedup(
    stream_df: DataFrame,
    column: str = "text",
    ts_column: Optional[str] = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact-dedup a document STREAM: keep the first arrival of each
    normalized content (same normalization as the batch
    ``dedup.exact_dedup`` — trim/lower/collapse-whitespace, xxhash64), drop
    later duplicates.  The streaming face of exact dedup for ingestion
    pipelines: run it in front of ``writeStream`` so re-crawled documents
    never reach the training corpus.

    With ``ts_column`` the operator is ``dropDuplicatesWithinWatermark``:
    duplicates are matched on the content hash ALONE (any event time), and
    Spark evicts a hash from state once the watermark passes its first
    arrival — re-crawls separated by more than ``watermark`` are treated
    as fresh, the standard windowed-dedup contract.  Without it, plain
    ``dropDuplicates`` state grows with distinct content — only for
    finite backfills.

    State per doc is the 8-byte content hash + bookkeeping, not the text,
    so the state store scales to billions of documents where raw-text
    keys would not.
    """
    from great_expectations_spark.functions.text import normalize_text

    hashed = stream_df.withColumn(
        "__gx_content_key", F.xxhash64(normalize_text(F.col(column)))
    )
    if ts_column is not None:
        deduped = hashed.withWatermark(
            ts_column, watermark
        ).dropDuplicatesWithinWatermark(["__gx_content_key"])
    else:
        deduped = hashed.dropDuplicates(["__gx_content_key"])
    return deduped.drop("__gx_content_key")


def windowed_categorical_drift(
    stream_df: DataFrame,
    column: str,
    baseline: dict,
    ts_column: str = "ts",
    window_duration: str = "5 minutes",
    watermark: str = "10 minutes",
    psi_threshold: Optional[float] = None,
    eps: float = 1e-6,
) -> DataFrame:
    """Categorical twin of :func:`windowed_distribution_drift` — per
    event-time window PSI of a category column (role mix, event types)
    against a STATIC categorical partition object ({values, weights},
    ``build_categorical_partition_object``).

    Baseline categories become plan-time literals: per-category counts
    are conditional sums inside the ONE watermarked window agg, and every
    value OUTSIDE the baseline support lands in a dedicated "other"
    bucket (baseline weight 0 -> eps) so novel categories — the loudest
    categorical drift — raise the score instead of vanishing.  PSI is
    the same JVM array expression pipeline as the continuous variant,
    replicating ``functions.stats.psi`` to float precision.

    Returns: window_start, window_end, rows, scored_rows, psi, drifted.
    """
    values = [v for v in baseline["values"]]
    if not values:
        raise ValueError("categorical partition object needs >= 1 value")
    # trailing 0: the out-of-support "other" bucket
    e_raw = [float(w) for w in baseline["weights"]] + [0.0]
    col = F.col(column)
    conds = [col.isNotNull() & (col == F.lit(v)) for v in values]
    conds.append(col.isNotNull() & ~col.isin(values))
    return _windowed_psi(
        stream_df, conds, e_raw, ts_column, window_duration, watermark,
        psi_threshold, eps,
    )


_EPHEMERAL_RUN = "ephemeral-"


def _stable_run_id(checkpoint_location) -> str:
    """Run id for the near-dedup band store.  It must be STABLE across
    process restarts of the SAME query: after a crash the restarted
    query replays the last uncommitted epoch, and the replay must see
    its own prior partial band writes as "this run, same epoch"
    (invisible) — a fresh uuid per invocation would make them look like
    an earlier run's rows and silently drop the whole replayed batch as
    duplicates.  The checkpoint location identifies the query (it also
    owns the epoch sequence); only an ephemeral query with no
    checkpoint gets a random id, marked ``_EPHEMERAL_RUN`` because it
    can never be restarted (so never replays an epoch)."""
    import hashlib
    import uuid

    if checkpoint_location:
        return hashlib.md5(
            str(checkpoint_location).encode("utf-8")
        ).hexdigest()
    return _EPHEMERAL_RUN + uuid.uuid4().hex


def compact_band_state(
    spark: SparkSession, state_path: str, keys_per_file: int = 8_000_000
) -> Dict[str, int]:
    """Fold the near-dedup band store to one distinct-key table.

    Each epoch appends a small parquet file of new ``(band, bucket)``
    keys, so after thousands of micro-batches the store is thousands of
    files and every batch's anti-join pays the listing + tiny-file scan
    tax.  This rewrites it as ``ceil(keys / keys_per_file)`` files,
    distinct and sorted within partitions on the join key, under the
    reserved lineage ``(run_id='__compacted__', epoch=-1)`` — visible to
    every future run (``_visible_band_state`` only hides the CURRENT
    run's same-or-later epochs), so verdicts are unchanged.

    Each checkpointed run's LAST epoch keeps its own ``(run_id, epoch)``
    lineage: a query that crashed after writing that epoch's keys but
    before its commit replays the epoch on restart, and the replay must
    still see those keys as its own (hidden) rather than as prior
    registrations — folded, they would drop the whole replayed batch.
    Runs without a checkpoint never replay, so they fold entirely.
    The kept epoch is never folded, not even once its run committed it
    (the store cannot see commits), so the store always holds one
    unfolded epoch per checkpointed run beside the compacted table.
    Stores written before ephemeral run ids carried the
    ``_EPHEMERAL_RUN`` prefix hold checkpoint-less runs under plain
    uuid-hex ids; their last epochs stay unfolded the same way.

    Run BETWEEN streaming runs, not while a query is writing: the swap
    is staging-dir + directory rename, which is not atomic against a
    concurrent epoch append (the streaming query itself is crash-safe;
    the compactor is a maintenance job, same contract as the sketch
    store's :meth:`~great_expectations_spark.checkpoint.sketches.PartitionSketchStore.compact`).

    Crash safety of the swap itself: the old store is renamed ASIDE
    (``<state>.__precompact__``) before the staging dir takes its
    place, and a fresh invocation auto-recovers a crash between the two
    renames by restoring the backup — at no point can both the store
    and its backup be missing, so a crashed compaction can never make
    the dedup filter silently forget its history (the reader refuses to
    start on a half-swapped store; see ``streaming_near_dedup``).

    Returns ``{"keys": n, "files_before": a, "files_after": b}``, where
    ``n`` counts the rows written: the distinct keys plus the rows of the
    kept epochs, so a key can count more than once."""
    import math

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(state_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    backup = state_path.rstrip("/") + ".__precompact__"
    bpath = jvm.org.apache.hadoop.fs.Path(backup)
    if fs.exists(bpath) and not fs.exists(hpath):
        # a previous compaction crashed between its two renames —
        # restore the backup and fall through to a clean re-compact
        if not fs.rename(bpath, hpath):
            raise RuntimeError(
                f"failed to restore {backup} -> {state_path} after an "
                "interrupted compaction"
            )
    if not fs.exists(hpath):
        return {"keys": 0, "files_before": 0, "files_after": 0}
    if fs.exists(bpath):  # stale backup from a completed-then-crashed GC
        fs.delete(bpath, True)

    def _count_parquet_files(p) -> int:
        n = 0
        it = fs.listFiles(p, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    files_before = _count_parquet_files(hpath)
    state = spark.read.parquet(state_path)
    last = state.groupBy("run_id").agg(F.max("epoch").alias("__last"))
    keep = (F.col("epoch") == F.col("__last")) & ~F.col("run_id").startswith(
        _EPHEMERAL_RUN
    )
    folded = (
        state.join(F.broadcast(last), "run_id")
        .select(
            "band",
            "bucket",
            F.when(keep, F.col("run_id"))
            .otherwise(F.lit("__compacted__"))
            .alias("run_id"),
            F.when(keep, F.col("epoch")).otherwise(F.lit(-1)).alias("epoch"),
        )
        .distinct()
        .persist()
    )
    n = folded.count()
    staging = state_path.rstrip("/") + ".__compacting__"
    (
        folded.repartition(max(1, math.ceil(n / keys_per_file)))
        .sortWithinPartitions("band", "bucket")
        .write.mode("overwrite")
        .parquet(staging)
    )
    folded.unpersist()
    spath = jvm.org.apache.hadoop.fs.Path(staging)
    # swap: old -> backup, staging -> live, then GC the backup.  Every
    # rename return value is CHECKED (HDFS-style rename reports failure
    # by returning false, not raising); a crash at any point leaves
    # either the live store or the backup present for auto-recovery
    if not fs.rename(hpath, bpath):
        raise RuntimeError(
            f"compaction aborted: could not move {state_path} aside"
        )
    if not fs.rename(spath, hpath):
        # roll back so the reader never sees a missing store
        fs.rename(bpath, hpath)
        raise RuntimeError(
            f"compaction aborted: could not install {staging}; original "
            "store restored"
        )
    fs.delete(bpath, True)  # GC; a crash here is recovered on next call
    return {
        "keys": int(n),
        "files_before": files_before,
        "files_after": _count_parquet_files(hpath),
    }


def _visible_band_state(
    state_df: DataFrame, run_id: str, epoch_id: int
) -> DataFrame:
    """Band-state rows visible to (run_id, epoch_id): everything except
    THIS run's same-or-later epochs — so an epoch replay after a partial
    state write reproduces the original verdicts instead of seeing its
    own keys as prior registrations."""
    return state_df.filter(
        (F.col("run_id") != F.lit(run_id))
        | (F.col("epoch") < F.lit(int(epoch_id)))
    ).select("band", "bucket")


def streaming_near_dedup(
    stream_df: DataFrame,
    id_column: str,
    order_column: str,
    column: str = "text",
    state_path: Optional[str] = None,
    on_survivors: Optional[Callable] = None,
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    checkpoint_location: Optional[str] = None,
    trigger_once: bool = False,
):
    """NEAR-duplicate dedup of a document stream via MinHash LSH band
    registration (the streaming face of :func:`dedup.minhash_candidate_pairs`).

    Semantics (Bloom-style, deterministic given ``order_column``): every
    arriving document registers its LSH band keys; a document SURVIVES iff
    none of its bands were registered by any strictly earlier document
    (earlier = smaller ``(order_column, id_column)``), across ALL previous
    microbatches and within the current one.  Dropped documents still
    register their bands — the standard ingestion-filter contract, which
    makes the within-batch rule a pure min-per-band aggregation instead of
    a sequential scan.  Documents with no shingles (null/short text) always
    survive and register nothing.

    State is a parquet table of distinct ``(band, bucket)`` int keys under
    ``state_path`` — 8 bytes per key plus ``(run_id, epoch)`` lineage,
    readable by any later run (restarts resume the corpus-lifetime
    filter, unlike operator state bound to one checkpoint).  Each epoch
    appends only keys not already stored.  **Retry safety**: a failed
    epoch may have written its band keys before the checkpoint committed;
    on replay the batch must NOT see its own keys as "previously
    registered" (that would drop every document in the batch).  The read
    path therefore excludes rows from THIS query run with ``epoch >=``
    the current epoch — replays reproduce the original verdicts exactly,
    while earlier runs' keys (any epoch) and this run's earlier epochs
    stay in force.  Emission to ``on_survivors`` is at-least-once, like
    any foreachBatch sink.  At 10^12 documents the store is ~``bands``×
    the distinct-doc count; the per-batch anti-join is batch-sized × a
    store scan — compact the store periodically (sort/bucket by key) and
    it stays the small side of a broadcast-or-SMJ on 4-byte ints.
    ``on_survivors(epoch_id, df)`` receives each epoch's surviving rows
    (original schema).

    Returns the started StreamingQuery.
    """
    run_id = _stable_run_id(checkpoint_location)
    from great_expectations_spark.functions.dedup import minhash_band_keys

    if state_path is None or on_survivors is None:
        raise ValueError("state_path and on_survivors are required")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            keys = minhash_band_keys(
                batch_df,
                id_column,
                text_column=column,
                shingle_k=shingle_k,
                num_hashes=num_hashes,
                bands=bands,
                extra_columns=[order_column],
            ).persist()
            # existence probe through Hadoop FS (works for any scheme)
            # instead of a try/except read, which logs a JVM stacktrace
            # on the first epoch
            jvm = spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(state_path)
            fs = hpath.getFileSystem(
                spark._jsc.hadoopConfiguration()
            )
            if not fs.exists(hpath) and fs.exists(
                jvm.org.apache.hadoop.fs.Path(
                    state_path.rstrip("/") + ".__precompact__"
                )
            ):
                # a compaction crashed mid-swap: the history exists only
                # as the backup.  Treating this as "first epoch" would
                # silently admit every known near-duplicate — fail loudly
                # instead; compact_band_state auto-recovers the backup.
                raise RuntimeError(
                    f"band store {state_path} is mid-compaction (backup "
                    "dir present, live dir missing) — run "
                    "compact_band_state once to recover before streaming"
                )
            seen = (
                _visible_band_state(
                    spark.read.parquet(state_path), run_id, int(epoch_id)
                )
                if fs.exists(hpath)
                else None  # first epoch: no state yet
            )
            # dup vs previous epochs: any band already registered
            dup_prev = (
                keys.join(seen, ["band", "bucket"], "left_semi")
                .select("__id")
                if seen is not None
                else None
            )
            # dup within batch: some band whose first holder (min
            # (order, id)) is strictly earlier than this document
            firsts = keys.groupBy("band", "bucket").agg(
                F.min(F.struct(F.col(order_column), F.col("__id"))).alias(
                    "__first"
                )
            )
            dup_in_batch = (
                keys.join(firsts, ["band", "bucket"])
                .filter(
                    F.struct(F.col(order_column), F.col("__id"))
                    > F.col("__first")
                )
                .select("__id")
            )
            dups = (
                dup_in_batch.union(dup_prev)
                if dup_prev is not None
                else dup_in_batch
            ).distinct()
            survivors = batch_df.join(
                dups.withColumnRenamed("__id", id_column),
                [id_column],
                "left_anti",
            )
            on_survivors(epoch_id, survivors)
            new_keys = keys.select("band", "bucket").distinct()
            if seen is not None:
                new_keys = new_keys.join(
                    seen, ["band", "bucket"], "left_anti"
                )
            new_keys.withColumn("run_id", F.lit(run_id)).withColumn(
                "epoch", F.lit(int(epoch_id))
            ).write.mode("append").parquet(state_path)
            keys.unpersist()
        finally:
            batch_df.unpersist()

    writer = stream_df.writeStream.foreachBatch(process).outputMode("update")
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_asof_enrich(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    delay_threshold: str = "10 seconds",
    tolerance: Optional[float] = None,
    suffix: str = "_r",
    max_history: int = 1024,
    max_pending: int = 8192,
):
    """Streaming AS-OF enrichment — the stream-stream analogue of
    ``functions.temporal.asof_join`` (backward direction), which Spark
    has no native operator for (stream-stream joins are equi/interval
    only).

    Every ``left`` row is emitted exactly once, enriched with the right
    row sharing its ``key`` whose ``ts`` is the greatest at-or-before
    the left row's ``ts`` (NULL right columns when nothing matched, or
    when the match is older than ``tolerance`` seconds).

    **Deterministic watermark-ordered contract**: a left row is held in
    state until the event-time watermark passes its timestamp, at which
    point every right row at-or-before it is guaranteed to have arrived
    (the watermark contract) — so the emitted match equals the batch
    ``asof_join`` result regardless of arrival order or micro-batch
    boundaries.  Rows that arrive later than the watermark allows are
    enriched best-effort against the retained history and flagged
    ``asof_late = true`` (the same "late data" tradeoff as watermarked
    aggregations, except the row is kept, not dropped).

    Implementation: both streams are tagged and unioned (the batch
    operator's trick), watermarked on ``ts``, and grouped by ``key``
    into ONE ``applyInPandasWithState`` operator.  Per-key state holds
    (a) the right-row history — pruned to the single newest row
    at-or-before the watermark plus everything after it, the minimal
    set any future in-order left row can match, capped at
    ``max_history`` — and (b) the pending left buffer, flushed in
    timestamp order as the watermark advances, capped at
    ``max_pending`` (overflow flushes oldest-first as late).  Payloads
    ride as JSON strings so the state schema is fixed regardless of
    the user's columns; output columns are rebuilt to the declared
    types through Arrow.

    Scale: state shuffles by ``key`` once per micro-batch; per-key state
    is O(right rows inside the watermark window + left rows awaiting
    the watermark), both watermark-bounded and explicitly capped.

    The timers are processing-time timeouts, and Spark runs another
    (no-data) micro-batch after every batch of such an operator, so a
    ``trigger(availableNow=True)`` query over this frame never
    terminates by itself: stop it once its output is in.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import TimestampNTZType, TimestampType

    left_fields = list(left.schema.fields)
    right_payload_fields = [f for f in right.schema.fields if f.name != key]
    left_names = [f.name for f in left_fields]
    out_names = {
        f.name: (f.name + suffix if f.name in left_names else f.name)
        for f in right_payload_fields
    }
    out_fields = [(f.name, f) for f in left_fields] + [
        (out_names[f.name], f) for f in right_payload_fields
    ]
    out_schema = ", ".join(
        f"`{name}` {f.dataType.simpleString()}" for name, f in out_fields
    ) + ", asof_late boolean"
    ts_like = (TimestampType, TimestampNTZType)
    ts_cols_left = {
        f.name for f in left_fields if isinstance(f.dataType, ts_like)
    }
    ts_cols_right = {
        out_names[f.name]
        for f in right_payload_fields
        if isinstance(f.dataType, ts_like)
    }

    l_tagged = left.select(
        F.col(key).alias("__k"),
        F.col(ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.to_json(F.struct(*[F.col(c) for c in left_names])).alias("__pay"),
    )
    r_tagged = right.select(
        F.col(key).alias("__k"),
        F.col(ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.to_json(
            F.struct(*[F.col(f.name) for f in right_payload_fields])
        ).alias("__pay"),
    )
    # right rows with null key/ts can never match (the batch operator
    # filters them identically); LEFT rows with null key/ts are still
    # emitted — unenriched, bypassing the stateful operator — so the
    # "every left row exactly once" contract holds (batch parity: a
    # null-key left row matches nothing because null-key right rows are
    # gone, and a null-ts left row sorts before every right row)
    u = (
        l_tagged.filter(
            F.col("__k").isNotNull() & F.col("__ts").isNotNull()
        )
        .unionByName(
            r_tagged.filter(
                F.col("__k").isNotNull() & F.col("__ts").isNotNull()
            )
        )
        .withWatermark("__ts", delay_threshold)
    )
    null_left = left.filter(
        F.col(key).isNull() | F.col(ts).isNull()
    ).select(
        *[F.col(c) for c in left_names],
        *[
            F.lit(None).cast(f.dataType).alias(out_names[f.name])
            for f in right_payload_fields
        ],
        F.lit(False).alias("asof_late"),
    )

    tol_ns = None if tolerance is None else int(float(tolerance) * 1e9)

    def update(group_key, pdfs, state: GroupState):
        import json as _json

        import pandas as pd

        if state.exists:
            rhist_raw, pend_raw = state.get
            rhist = [(int(t), p) for t, p in rhist_raw]
            pending = [(int(t), p) for t, p in pend_raw]
        else:
            rhist, pending = [], []
        wm_ns = state.getCurrentWatermarkMs() * 1_000_000

        arrivals_l = []
        for pdf in pdfs:
            # normalize to ns explicitly: .astype(int64) on a
            # datetime64[us] series would yield MICROseconds and break
            # every watermark comparison (wm is computed in ns)
            ts_ns = (
                pd.to_datetime(pdf["__ts"])
                .astype("datetime64[ns]")
                .astype("int64")
            )
            for t, side, pay in zip(ts_ns, pdf["__side"], pdf["__pay"]):
                if side == 0:
                    rhist.append((int(t), pay))
                else:
                    arrivals_l.append((int(t), pay))
        rhist.sort(key=lambda x: x[0])

        # lateness is an ARRIVAL property: a row whose ts the watermark
        # had already passed when it showed up is best-effort (late);
        # rows held in state were on time and flush on time
        pending.extend(
            (t, p) for t, p in arrivals_l if t > wm_ns
        )
        pending.sort(key=lambda x: x[0])
        flush = [(t, p, False) for t, p in pending if t <= wm_ns]
        flush.extend((t, p, True) for t, p in arrivals_l if t <= wm_ns)
        hold = [(t, p) for t, p in pending if t > wm_ns]
        if len(hold) > max_pending:  # overflow: oldest leave as late
            spill = hold[: len(hold) - max_pending]
            flush.extend((t, p, True) for t, p in spill)
            hold = hold[len(hold) - max_pending:]
        flush.sort(key=lambda x: x[0])

        # prune AFTER matching uses the full history this batch: keep the
        # newest right row at-or-before the watermark (the only one a
        # future in-order left can still match) plus everything after the
        # watermark; then the hard cap
        keep_from = 0
        for i, (t, _) in enumerate(rhist):
            if t <= wm_ns:
                keep_from = i
        pruned = rhist[keep_from:][-max_history:]  # rhist itself stays
        # full for the match loop below — this batch's flush may match
        # right rows older than the one the pruned state retains
        if pruned or hold:
            state.update((pruned, hold))
            if hold:
                # quiet keys must still flush: arm a processing-time
                # timer so the key wakes on the NEXT micro-batch, checks
                # the (possibly advanced) watermark, flushes what's ripe
                # and re-arms.  ProcessingTimeTimeout deliberately, NOT
                # EventTimeTimeout: the event-time variant makes Spark
                # pre-filter input rows older than the watermark, which
                # would silently drop the late rows this operator
                # promises to emit flagged asof_late
                state.setTimeoutDuration(1)
        else:
            state.remove()  # nothing a future row could ever match

        if not flush:
            return
        rts = [t for t, _ in rhist]
        rows = []
        for t, pay, late in flush:
            # rightmost right row with rts <= t (binary search)
            lo, hi = 0, len(rts)
            while lo < hi:
                mid = (lo + hi) // 2
                if rts[mid] <= t:
                    lo = mid + 1
                else:
                    hi = mid
            match = rhist[lo - 1] if lo else None
            if match is not None and tol_ns is not None and (
                t - match[0] > tol_ns
            ):
                match = None
            row = _json.loads(pay)
            rpay = _json.loads(match[1]) if match is not None else {}
            for f in right_payload_fields:
                row[out_names[f.name]] = rpay.get(f.name)
            row["asof_late"] = bool(late)
            rows.append(row)
        out = pd.DataFrame(rows, columns=[n for n, _ in out_fields]
                           + ["asof_late"])
        for c in ts_cols_left | ts_cols_right:
            out[c] = pd.to_datetime(out[c], format="ISO8601")
        yield out

    enriched = u.groupBy("__k").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=(
            "rhist array<struct<t:long, p:string>>, "
            "pend array<struct<t:long, p:string>>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    return enriched.unionByName(null_left)
