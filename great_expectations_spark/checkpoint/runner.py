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

* ``validate_by_partition`` — the scale path: ``SuiteValidator``'s own
  phases with the partition column as group prefix, so every
  partition's counters come from the same Spark jobs —
  ``groupBy(partition_col)`` bundled counters, one grouped job per
  window group, grouped job expectations, domain-scoped aggregates and
  aggregate followups — and every result is built by the same
  ``SuiteValidator._assemble`` as a per-partition ``validate``
  (counts; BASIC, no samples).  10^5 partitions = still ~3 Spark jobs.
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
    build_suite_statistics,
)
from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.plans.planner import SuiteValidator

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

    Runs ``SuiteValidator``'s phases once with ``partition_column`` as the
    group prefix and assembles each partition's results with
    ``SuiteValidator._assemble``, so every count and observed value
    equals a per-partition ``validate``.  Bundled counters: one
    groupBy(partition).agg(...) job.  Each window group (expectations
    sharing a window spec) and each set window adds one grouped job;
    windows are partition-local.  Each aggregate over a
    ``row_condition`` domain adds one filtered grouped job.  Schema
    checks evaluate per partition without a scan.  Job expectations with
    a ``grouped`` hook (referential exist-in-other-table, two-sample
    KS/PSI/chi² drift, user SQL, and the one-sample distribution family
    — KL divergence, chi-square GoF, bootstrapped KS) run in O(1)
    grouped jobs covering every partition at once; a job expectation
    without one, or a partition its grouped mapping lacks, runs one
    partition-filtered job at assembly.  Aggregate followups (the
    distinct-value-set family) resolve every partition through their
    ``grouped_followup`` hook in one job.
    """
    validator = validator or SuiteValidator()
    rf = parse_result_format("BASIC")
    items = validator._compile(
        suite, suite.evaluation_parameters, True, parameter_store
    )
    validator._check_columns_exist(df, items)
    metrics, prefetched = validator._run_phases_concurrent(
        df, items, rf, True, [partition_column]
    )

    # partition universe: every key a grouped phase produced.  The
    # bundled pass groups the UNFILTERED df, so once any item rode it its
    # keys enumerate every partition with >=1 row; the other grouped
    # outputs (domain-filtered windows, aggregates and jobs, whose
    # mappings may be partial) cannot.  Without a bundled item (a suite
    # of job/schema/domain-aggregate expectations, or one where every
    # item errored and still owes each partition its exception EVRs) one
    # distinct scan supplies the universe, or partitions silently vanish
    # from the output.
    keys = set(metrics) | set(prefetched)
    if items and not any(
        item.error is None and (item.element_alias or item.agg_aliases)
        for item in items
    ):
        keys.update(
            (p,) for p in _collect_partition_values(df, partition_column)
        )

    out: Dict[str, ExpectationSuiteValidationResult] = {}
    for key in sorted(keys, key=lambda k: str(k[0])):
        part = key[0]
        pre = prefetched.get(key, {})
        # build the partition's slice only when assembly reads rows: a
        # DataFrame per partition costs milliseconds of driver time
        part_df = df
        if any(validator._reads_rows(item, pre) for item in items):
            part_df = df.filter(F.col(partition_column).eqNullSafe(part))
        results = [
            validator._assemble(
                item, part_df, metrics.get(key, {}), rf, True, pre
            )
            for item in items
        ]
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
