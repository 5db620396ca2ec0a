"""Checkpointed validation runners.

Two execution strategies over a partitioned table:

* ``run_checkpoint`` — full-fidelity loop: one ``SuiteValidator.validate``
  per partition (violation samples, job expectations, everything), with
  manifest-based resume.  Partition predicates push down to the scan
  (Catalyst partition pruning), so each iteration reads only its
  partition.  Optional driver-side thread pool overlaps partitions (the
  reference's ConcurrencyConfig showed ~15x on many small tables:
  ``tests/performance/results/minimal_multithreading_run_*.json``); Spark's
  scheduler interleaves the jobs.

* ``validate_by_partition`` — the scale path: ONE
  ``groupBy(partition_col)`` pass computes every partition's bundled
  counters simultaneously, plus one grouped pass per window *group* —
  the planner's own window evaluators with the partition column as a
  group prefix (``planner.window_group_counts`` for flag windows sharing
  a (partition_by, order_by) spec and domain, each set window's
  ``execute``), so every window is partition-local and its counts equal
  a per-partition ``SuiteValidator.validate`` — producing an
  ExpectationSuiteValidationResult per partition with counts (BASIC, no
  samples).  10^5 partitions = still ~3 Spark jobs.  The independent
  grouped passes (bundled agg, each window group, each grouped job
  expectation) are submitted concurrently from driver threads
  (``validator.job_concurrency``), the same serial-driver-term fix as
  ``SuiteValidator.validate``.
"""

from __future__ import annotations

import datetime
import logging
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Dict, List, Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from great_expectations_spark.checkpoint.manifest import (
    CheckpointManifest,
    ManifestEntry,
)
from great_expectations_spark.core.result_format import parse_result_format
from great_expectations_spark.core.results import (
    ExpectationSuiteValidationResult,
    ExpectationValidationResult,
    build_suite_statistics,
    convert_to_json_serializable,
)
from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.plans.planner import (
    SuiteValidator,
    plan_window_groups,
    window_group_counts,
    window_metric,
)
from great_expectations_spark.plans.specs import (
    CompiledAggregate,
    CompiledJob,
    CompiledMap,
    CompiledSchemaCheck,
    CompiledWindow,
)

logger = logging.getLogger(__name__)

# The per-partition loop collects the distinct partition VALUES to the
# driver — bounded by partition count, not row count (10^5 day-partitions
# at the 10^12-turn design point is a few MB).  The cap makes that
# contract explicit: a mistaken high-cardinality partition_column (e.g.
# conv_id) fails fast with a clear error instead of OOMing the driver.
PARTITION_LIST_CAP = 1_000_000


def _collect_partition_values(
    df: DataFrame, partition_column: str, cap: Optional[int] = None
) -> List[Any]:
    """Distinct partition values, driver-bounded by ``limit(cap + 1)`` in
    the same job (the overflow row turns into an error, mirroring
    ``distribution.CATEGORICAL_COLLECT_CAP``)."""
    cap = PARTITION_LIST_CAP if cap is None else cap
    rows = (
        df.select(partition_column)
        .distinct()
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        raise ValueError(
            f"partition_column {partition_column!r} has more than {cap} "
            "distinct values — that is a row-level key, not a partition "
            "column; pick a coarser column or raise "
            "runner.PARTITION_LIST_CAP"
        )
    return sorted(
        (r[partition_column] for r in rows),
        key=lambda v: (v is None, v),
    )


def partition_fingerprints(
    df: DataFrame, partition_column: str
) -> Dict[str, str]:
    """Content fingerprint per partition in ONE grouped job:
    ``"rowcount:bit_xor(h):sum(h mod p)"`` over ``h = xxhash64(all
    columns)``.  Order- and partitioning-independent (both combines
    commute).  Three terms because each alone has a blind spot: bit_xor
    cancels row-multiplicity changes pairwise (two extra copies of a
    row XOR to nothing), a plain bigint sum of hashes trips ANSI
    overflow, and a decimal(38,0) sum avoids overflow but runs ~5-10×
    slower than the whole scan at 32 threads (measured: Spark's decimal
    sum leaves whole-stage codegen) — so the duplicate-sensitive term
    sums ``h mod 1000003``, bounded by partition_rows*1e6 (safe under
    ANSI to ~9*10^12 rows per partition).  JVM-only.  This is change
    DETECTION for resume (late-arriving data), not an integrity MAC."""
    cols = [F.col(c) for c in df.columns]
    h = F.xxhash64(*cols)
    rows = (
        df.groupBy(partition_column)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.bit_xor(h).alias("__x"),
            F.sum(F.pmod(h, F.lit(1000003))).alias("__m"),
        )
        .collect()
    )
    return {
        str(r[partition_column]):
        f"{int(r['__n'])}:{int(r['__x'])}:{int(r['__m'])}"
        for r in rows
    }


def run_checkpoint(
    df: DataFrame,
    suite: ExpectationSuite,
    partition_column: str,
    checkpoint_dir: str,
    result_format: str = "SUMMARY",
    validator: Optional[SuiteValidator] = None,
    max_concurrency: int = 1,
    run_id: Optional[str] = None,
    actions: Optional[List["CheckpointAction"]] = None,
    parameter_store: Optional[Any] = None,
    sketch_columns: Optional[
        Union[List[str], Dict[str, Sequence[str]]]
    ] = None,
    sketch_lg_k: int = 12,
    sketch_kinds: Sequence[str] = ("hll",),
    sketch_topk_max_items: int = 10_000,
    sketch_histogram_edges: Optional[Dict[str, List[float]]] = None,
    detect_changes: bool = False,
) -> Dict[str, Any]:
    """Validate every partition, resuming past ``done`` ones. Returns a
    summary dict with per-partition manifest entries.

    ``actions`` (checkpoint.actions.CheckpointAction) fire after each
    partition's validation — store results/metrics, notify on failure —
    mirroring the reference's post-validation action list
    (``checkpoint/actions.py:826,976``); action errors never fail the run.

    ``sketch_columns`` opts columns into incremental table stats: one
    mergeable sketch per (new partition, column, kind) is persisted
    under the checkpoint dir (``checkpoint/sketches.py``) in ONE extra
    grouped job, and the summary carries the merged answers over ALL
    stored partitions — old ones never re-scanned.  It is a column list
    (every column gets ``sketch_kinds``) or a ``{column: kinds}``
    mapping for a heterogeneous plan.  Kinds from ``('hll', 'moments',
    'topk', 'histogram')`` → summary keys ``distinct_estimates`` /
    ``stats_estimates`` / ``top_values`` / ``histograms`` (the last
    needs ``sketch_histogram_edges``).

    ``detect_changes=True`` drops the partitions-are-immutable
    assumption: one extra grouped job fingerprints every partition's
    content (:func:`partition_fingerprints`), a ``done`` partition whose
    fingerprint no longer matches its manifest record is RE-validated
    (late-arriving data), and the sketch store re-sketches it too — the
    merged table stats follow the data instead of freezing at first
    sight of each partition.
    """
    from great_expectations_spark.checkpoint.actions import (
        ActionContext,
        run_actions,
    )

    validator = validator or SuiteValidator()
    manifest = CheckpointManifest(checkpoint_dir)
    suite_hash = suite.suite_hash()
    run_id = run_id or str(uuid.uuid4())

    partitions = _collect_partition_values(df, partition_column)
    done = manifest.completed_partitions(suite_hash)
    fingerprints: Dict[str, str] = (
        partition_fingerprints(df, partition_column)
        if detect_changes
        else {}
    )
    todo = [
        p
        for p in partitions
        if str(p) not in done
        or (
            detect_changes
            and done[str(p)].fingerprint != fingerprints.get(str(p))
        )
    ]
    logger.info(
        "checkpoint: %d partitions, %d already done, %d to validate",
        len(partitions), len(done), len(todo),
    )

    def one(partition_value: Any) -> ManifestEntry:
        started = datetime.datetime.now(datetime.timezone.utc)
        part_df = df.filter(F.col(partition_column) == F.lit(partition_value))
        try:
            result = validator.validate(
                part_df,
                suite,
                result_format=result_format,
                run_id=run_id,
                batch_meta={
                    "partition_column": partition_column,
                    "partition_id": str(partition_value),
                },
                parameter_store=parameter_store,
            )
            finished = datetime.datetime.now(datetime.timezone.utc)
            rows = 0
            for r in result.results:
                rows = max(rows, int(r.result.get("element_count") or 0))
            duration = (finished - started).total_seconds()
            entry = ManifestEntry(
                partition_id=str(partition_value),
                suite_hash=suite_hash,
                status="done",
                run_id=run_id,
                started_at=started.isoformat(),
                finished_at=finished.isoformat(),
                rows=rows,
                duration_sec=round(duration, 3),
                rows_per_sec=round(rows / duration, 1) if duration else 0.0,
                success=bool(result.success),
                fingerprint=fingerprints.get(str(partition_value)),
            )
            recorded = manifest.record(entry, result.to_json())
            run_actions(
                actions,
                ActionContext(
                    run_id=run_id,
                    suite_name=suite.expectation_suite_name,
                    partition_column=partition_column,
                    partition_id=str(partition_value),
                    result=result,
                    entry_status="done",
                ),
            )
            return recorded
        except Exception as exc:  # noqa: BLE001 — survive partition failure
            finished = datetime.datetime.now(datetime.timezone.utc)
            entry = ManifestEntry(
                partition_id=str(partition_value),
                suite_hash=suite_hash,
                status="failed",
                run_id=run_id,
                started_at=started.isoformat(),
                finished_at=finished.isoformat(),
                rows=0,
                duration_sec=0.0,
                rows_per_sec=0.0,
                success=None,
                error=str(exc),
            )
            recorded = manifest.record(entry)
            run_actions(
                actions,
                ActionContext(
                    run_id=run_id,
                    suite_name=suite.expectation_suite_name,
                    partition_column=partition_column,
                    partition_id=str(partition_value),
                    result=ExpectationSuiteValidationResult(
                        success=False,
                        results=[],
                        statistics={},
                        meta={"error": str(exc)},
                    ),
                    entry_status="failed",
                ),
            )
            return recorded

    if max_concurrency > 1 and len(todo) > 1:
        with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
            entries = list(pool.map(one, todo))
    else:
        entries = [one(p) for p in todo]

    all_done = manifest.completed_partitions(suite_hash)
    summary = {
        "run_id": run_id,
        "suite_hash": suite_hash,
        "partitions_total": len(partitions),
        "partitions_validated_now": len(entries),
        "partitions_skipped_resume": len(partitions) - len(todo),
        "partitions_done": len(all_done),
        "failures": [e.partition_id for e in entries if e.status == "failed"],
        # a raised partition (status='failed') is a run failure too — the
        # top-level flag must never read True while 'failures' is non-empty
        "success": all(e.status != "failed" for e in entries)
        and all(
            e.success for e in all_done.values() if e.success is not None
        ),
        "entries": [e.to_json_dict() for e in entries],
    }
    if sketch_columns:
        from great_expectations_spark.checkpoint.sketches import (
            PartitionSketchStore,
            _normalize_plan,
        )

        # sketch_columns: list (every column gets sketch_kinds) or a
        # {column: kinds} mapping for a heterogeneous one-job plan
        plan = _normalize_plan(sketch_columns, sketch_kinds)
        store = PartitionSketchStore(
            checkpoint_dir,
            lg_k=sketch_lg_k,
            topk_max_items=sketch_topk_max_items,
            histogram_edges=sketch_histogram_edges,
        )
        summary["sketch_partitions_computed"] = store.update(
            df, partition_column, plan, partitions=partitions,
            fingerprints=fingerprints if detect_changes else None,
        )

        def _cols(kind: str) -> List[str]:
            return [c for c, ks in plan.items() if kind in ks]

        if _cols("hll"):
            summary["distinct_estimates"] = store.merged_distinct(
                df.sparkSession, _cols("hll")
            )
        if _cols("moments"):
            summary["stats_estimates"] = store.merged_moments(
                _cols("moments")
            )
        if _cols("topk"):
            summary["top_values"] = store.merged_topk(
                df.sparkSession, _cols("topk")
            )
        if _cols("histogram"):
            summary["histograms"] = store.merged_histogram(
                _cols("histogram")
            )
    return summary


# ---------------------------------------------------------------------------


def validate_by_partition(
    df: DataFrame,
    suite: ExpectationSuite,
    partition_column: str,
    validator: Optional[SuiteValidator] = None,
    parameter_store: Optional[Any] = None,
) -> Dict[str, ExpectationSuiteValidationResult]:
    """Single-pass per-partition validation (counts; BASIC, no samples).

    Bundled counters: one groupBy(partition).agg(...) job.  Each window
    group (expectations sharing a window spec) and each set window adds
    one grouped job; windows are partition-local, so their counts equal
    a per-partition ``validate``.  Schema checks evaluate
    once and fan out.  Job expectations with a ``grouped`` hook
    (referential exist-in-other-table, two-sample KS/PSI/chi² drift, and
    the one-sample distribution family — KL divergence, chi-square GoF,
    bootstrapped KS) run
    in O(1) grouped jobs covering every partition at once; job
    expectations without one (user SQL templates) fall back to one
    partition-filtered job per partition — at high partition counts
    prefer the grouped-capable expectations or ``run_checkpoint``.

    Scale note: aggregate expectations with a ``followup`` hook (the
    distinct-VALUE-set family) run one partition-filtered followup job
    per partition here — bounded per job by the cardinality cap, but at
    10^5 partitions prefer count-based distinct expectations
    (``unique_value_count`` / ``proportion_of_unique_values``), which
    ride the single grouped pass.
    """
    validator = validator or SuiteValidator()
    spark = df.sparkSession
    rf = parse_result_format("BASIC")
    items = validator._compile(
        suite, suite.evaluation_parameters, True, parameter_store
    )
    validator._check_columns_exist(df, items)

    # --- the grouped window passes: the planner's own planning and
    # evaluators, with the partition column prefixed to every window's
    # partitioning and grouping keys
    groups, set_windows = plan_window_groups(items)
    prefix = [partition_column]

    # grouped window counts: per partition -> {window_metric: count}
    window_counts: Dict[Any, Dict[str, int]] = {}
    # grouped job results: per item -> {partition: vout} in O(1) jobs
    job_grouped: Dict[int, Dict[Any, Dict[str, Any]]] = {}

    # the grouped passes are independent Spark jobs — submit them from
    # driver threads so planning of one overlaps execution of the others
    conc = max(1, getattr(validator, "job_concurrency", 1))
    with ThreadPoolExecutor(max_workers=conc) as pool:
        fut_bundle = pool.submit(
            validator._run_bundled_phase_isolating,
            df,
            items,
            partition_column,
        )
        group_futs = [
            (members, pool.submit(window_group_counts, df, members, prefix))
            for members in groups.values()
        ]
        set_futs = [
            (item, pool.submit(
                item.compiled.execute, df, item.domain, prefix
            ))
            for item in set_windows
        ]
        job_futs = [
            (item, pool.submit(
                item.compiled.grouped, df, spark, item.domain,
                partition_column,
            ))
            for item in items
            if isinstance(item.compiled, CompiledJob)
            and item.compiled.grouped is not None
            and item.error is None
        ]
        grouped = fut_bundle.result()
        # aggregate followups with a grouped hook (the distinct-value-set
        # family): every partition's followup in O(1) jobs instead of one
        # partition-filtered job per partition — needs phase-A counts, so
        # submitted after the bundle resolves (still inside the pool)
        agg_grouped: Dict[int, Dict[Any, Any]] = {}
        agg_futs = []
        for item in items:
            c = item.compiled
            if (
                isinstance(c, CompiledAggregate)
                and c.grouped_followup is not None
                and item.error is None
                and item.domain is None
            ):
                values_by_part = {
                    part: {
                        k: metrics.get(alias)
                        for k, alias in item.agg_aliases.items()
                    }
                    for part, metrics in grouped.items()
                }
                agg_futs.append(
                    (item, pool.submit(
                        c.grouped_followup, df, partition_column,
                        values_by_part,
                    ))
                )
        for members, fut in group_futs:
            try:
                for (part,), counts in fut.result().items():
                    window_counts.setdefault(part, {}).update(counts)
            except Exception as exc:  # noqa: BLE001
                for m in members:
                    m.error = exc
        for item, fut in set_futs:
            try:
                for (part,), count in fut.result().items():
                    window_counts.setdefault(part, {})[
                        window_metric(item)
                    ] = count
            except Exception as exc:  # noqa: BLE001
                item.error = exc
        for item, fut in job_futs:
            try:
                job_grouped[id(item)] = fut.result()
            except Exception as exc:  # noqa: BLE001
                item.error = exc
        for item, fut in agg_futs:
            try:
                agg_grouped[id(item)] = fut.result()
            except Exception as exc:  # noqa: BLE001
                item.error = exc

    # partition universe: union of every grouped phase's keys (a suite of
    # only job/window expectations has no bundled metrics).  A grouped
    # JOB mapping may legitimately be partial — a partition the
    # expectation's domain filtered empty, or one whose grouped
    # evaluation errored and was left out for the per-partition fallback
    # to confine — so with job expectations present the universe must
    # come from the data, not from the mappings, or those partitions
    # silently vanish from the output.
    part_keys = set(grouped.keys()) | set(window_counts.keys())
    for m in job_grouped.values():
        part_keys.update(m.keys())
    # the bundled pass groups the UNFILTERED df, so a non-empty `grouped`
    # mapping already enumerates every partition with >=1 row — the extra
    # distinct scan runs only when no full-universe mapping exists (a
    # suite of job/schema-only expectations, or one where every item
    # errored at compile and still owes each partition its exception
    # EVRs), not on every call that happens to contain a job expectation
    if (
        any(isinstance(i.compiled, CompiledJob) for i in items)
        and not grouped
    ) or (not part_keys and items):
        part_keys.update(
            _collect_partition_values(df, partition_column)
        )
    partitions = sorted(part_keys, key=str)

    out: Dict[str, ExpectationSuiteValidationResult] = {}
    for part in partitions:
        metrics = {**grouped.get(part, {}), **window_counts.get(part, {})}
        results: List[ExpectationValidationResult] = []
        for item in items:
            config_dict = item.config.to_json_dict()
            if item.error is not None:
                results.append(
                    SuiteValidator._exception_result(config_dict, item.error)
                )
                continue
            c = item.compiled
            try:
                if isinstance(c, CompiledMap):
                    results.append(
                        validator._assemble_map(
                            item, c, metrics, {}, rf, config_dict
                        )
                    )
                elif isinstance(c, CompiledWindow):
                    results.append(
                        validator._assemble_window(
                            item, metrics, rf, config_dict
                        )
                    )
                elif isinstance(c, CompiledAggregate):
                    values = {
                        k: metrics.get(alias)
                        for k, alias in item.agg_aliases.items()
                    }
                    if id(item) in agg_grouped:
                        extra = agg_grouped[id(item)].get(part)
                        if isinstance(extra, Exception):
                            raise extra
                        values.update(extra or {})
                    elif c.followup is not None:
                        values.update(
                            c.followup(
                                df.filter(
                                    F.col(partition_column) == F.lit(part)
                                ),
                                values,
                            )
                        )
                    vout = c.validate(values)
                    results.append(
                        ExpectationValidationResult(
                            success=bool(vout["success"]),
                            expectation_config=config_dict,
                            result=convert_to_json_serializable(
                                vout.get("result", {})
                            ),
                        )
                    )
                elif isinstance(c, CompiledSchemaCheck):
                    vout = c.validate(df)
                    results.append(
                        ExpectationValidationResult(
                            success=bool(vout["success"]),
                            expectation_config=config_dict,
                            result=convert_to_json_serializable(
                                vout.get("result", {})
                            ),
                        )
                    )
                elif isinstance(c, CompiledJob):
                    vout = job_grouped.get(id(item), {}).get(part)
                    if vout is None:
                        # no grouped hook, or this partition was filtered
                        # empty by the expectation's domain — one
                        # partition-scoped job (partition predicate prunes
                        # the scan)
                        part_df = df.filter(
                            F.col(partition_column) == F.lit(part)
                        )
                        vout = validator._run_job_item(
                            c, part_df, spark, item.domain, rf
                        )
                    results.append(
                        ExpectationValidationResult(
                            success=bool(vout["success"]),
                            expectation_config=config_dict,
                            result=convert_to_json_serializable(
                                vout.get("result", {})
                            ),
                        )
                    )
            except Exception as exc:  # noqa: BLE001
                results.append(
                    SuiteValidator._exception_result(config_dict, exc)
                )
        out[str(part)] = ExpectationSuiteValidationResult(
            success=all(r.success for r in results),
            results=results,
            statistics=build_suite_statistics(results),
            meta={
                "expectation_suite_name": suite.expectation_suite_name,
                "partition_column": partition_column,
                "partition_id": str(part),
                "strategy": "single_pass_grouped",
                # same meta shape as SuiteValidator.validate: lineage keys
                # always present
                "batch_spec": {
                    "type": "partition",
                    "partition_column": partition_column,
                    "partition_id": str(part),
                },
                "batch_markers": {},
            },
        )
    return out

