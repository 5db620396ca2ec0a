"""Checkpointed validation over a partitioned table.

Both entry points validate partitions through ``SuiteValidator``'s own
phases with the partition column as group prefix, so every partition's
counters and violation samples come from the same Spark jobs —
``groupBy(partition_col)`` bundled counters, one grouped job per window
group (counts and samples), each job expectation's one evaluator,
domain-scoped aggregates, aggregate followups and one prefixed top-k for
map samples —
and every result is built by the same ``SuiteValidator._assemble`` as a
per-partition ``validate``:

* ``run_checkpoint`` — manifest-based resume (and, with
  ``detect_changes``, re-validation of changed partitions).  The suite
  compiles once per run; the partitions to validate go through the
  grouped phases ``DEFAULT_BACKFILL_CHUNK_SIZE`` at a time, over the
  chunk's partition filter (Catalyst partition pruning keeps the scan
  to those partitions).  A chunk's results and manifest records land
  when the chunk finishes, so a killed run resumes from the first
  unwritten chunk.  Spark jobs per chunk do not grow with its
  partition count.

* ``validate_by_partition`` — the same grouped pass over the whole
  table in one chunk, returning every partition's result without a
  manifest.
"""

from __future__ import annotations

import dataclasses
import datetime
import logging
import uuid
from typing import Any, Dict, Iterator, List, Optional, Sequence, Tuple, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from great_expectations_spark.checkpoint.manifest import (
    CheckpointManifest,
    ManifestEntry,
)
from great_expectations_spark.checkpoint.sketches import (
    DEFAULT_BACKFILL_CHUNK_SIZE,
)
from great_expectations_spark.core.result_format import parse_result_format
from great_expectations_spark.core.results import (
    ExpectationSuiteValidationResult,
    ExpectationValidationResult,
    build_suite_statistics,
)
from great_expectations_spark.core.suite import ExpectationSuite
from great_expectations_spark.plans.planner import SuiteValidator, _PlannedItem
from great_expectations_spark.plans.specs import null_safe_isin

logger = logging.getLogger(__name__)

# The runner collects the distinct partition VALUES to the driver —
# bounded by partition count, not row count (10^5 day-partitions at the
# 10^12-turn design point is a few MB).  The cap makes that contract
# explicit: a mistaken high-cardinality partition_column (e.g. conv_id)
# fails fast with a clear error instead of OOMing the driver.
PARTITION_LIST_CAP = 1_000_000


def _capped_collect(
    per_partition: DataFrame, partition_column: str, cap: Optional[int] = None
) -> list:
    """The rows of a one-row-per-partition frame, sorted by partition
    value, driver-bounded by ``limit(cap + 1)`` in the same job (the
    overflow row turns into an error, mirroring
    ``distribution.CATEGORICAL_COLLECT_CAP``)."""
    cap = PARTITION_LIST_CAP if cap is None else cap
    rows = per_partition.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"partition_column {partition_column!r} has more than {cap} "
            "distinct values — that is a row-level key, not a partition "
            "column; pick a coarser column or raise "
            "runner.PARTITION_LIST_CAP"
        )
    return sorted(
        rows,
        key=lambda r: (r[partition_column] is None, r[partition_column]),
    )


def _collect_partition_values(
    df: DataFrame, partition_column: str, cap: Optional[int] = None
) -> List[Any]:
    """Distinct partition values, sorted, capped (``_capped_collect``)."""
    return [
        r[partition_column]
        for r in _capped_collect(
            df.select(partition_column).distinct(), partition_column, cap
        )
    ]


class PartitionFingerprints(Dict[str, str]):
    """``{str(partition): fingerprint}``, keyed like the manifest;
    ``partitions`` holds the partition values themselves, sorted, for a
    filter that needs their type (the NULL partition stays ``None``)."""

    def __init__(self, rows: list, partition_column: str) -> None:
        super().__init__(
            (
                str(r[partition_column]),
                f"{int(r['__n'])}:{int(r['__x'])}:{int(r['__m'])}",
            )
            for r in rows
        )
        self.partitions = [r[partition_column] for r in rows]


def partition_fingerprints(
    df: DataFrame, partition_column: str
) -> PartitionFingerprints:
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
    DETECTION for resume (late-arriving data), not an integrity MAC.

    The same job lists the partitions (``PartitionFingerprints
    .partitions``) under ``PARTITION_LIST_CAP``, so a change-detecting
    checkpoint needs no separate distinct scan."""
    cols = [F.col(c) for c in df.columns]
    h = F.xxhash64(*cols)
    per_partition = df.groupBy(partition_column).agg(
        F.count(F.lit(1)).alias("__n"),
        F.bit_xor(h).alias("__x"),
        F.sum(F.pmod(h, F.lit(1000003))).alias("__m"),
    )
    return PartitionFingerprints(
        _capped_collect(per_partition, partition_column), partition_column
    )


def _validate_chunks(
    validator: SuiteValidator,
    df: DataFrame,
    items: List[_PlannedItem],
    rf: dict,
    partition_column: str,
    partitions: Optional[List[Any]] = None,
) -> Iterator[
    Tuple[
        Union[Dict[Any, List[ExpectationValidationResult]], Exception],
        datetime.datetime,
        datetime.datetime,
        Optional[List[Any]],
    ]
]:
    """The one per-partition execution path: yields ``(results, started,
    finished, chunk)`` for each chunk of ``DEFAULT_BACKFILL_CHUNK_SIZE``
    ``partitions``.  Each chunk is ONE run of the validator's phases with
    ``partition_column`` as group prefix over ``df.filter(partition_column
    IN chunk)`` (null-safe), then one ``_assemble`` per (partition,
    item).  ``results`` maps each partition of the chunk to its
    expectation results, or is the Exception that failed the chunk as a
    whole.  ``partitions=None`` is one chunk: the whole ``df``, its
    partitions taken from the phases' outputs."""
    chunks = (
        [None]
        if partitions is None
        else [
            partitions[i : i + DEFAULT_BACKFILL_CHUNK_SIZE]
            for i in range(0, len(partitions), DEFAULT_BACKFILL_CHUNK_SIZE)
        ]
    )
    for chunk in chunks:
        started = datetime.datetime.now(datetime.timezone.utc)
        out: Any = {}
        try:
            part_df = df
            if chunk is not None:
                part_df = df.filter(
                    null_safe_isin(F.col(partition_column), chunk)
                )
            # the phases mark run-time failures on their items: each chunk
            # gets fresh copies
            run = [dataclasses.replace(item, agg_aliases={}) for item in items]
            metrics, prefetched = validator._run_phases_concurrent(
                part_df, run, rf, True, [partition_column]
            )
            if chunk is not None:
                keys = [(p,) for p in chunk]
            else:
                # partition universe: every key a grouped phase produced.
                # The bundled pass groups the UNFILTERED df, so once any
                # item rode it its keys enumerate every partition with >=1
                # row; the other grouped outputs (domain-filtered windows,
                # aggregates and jobs, whose mappings may be partial)
                # cannot.  Without a bundled item (a suite of
                # job/schema/domain-aggregate expectations, or one where
                # every item errored and still owes each partition its
                # exception EVRs) one distinct scan supplies the universe,
                # or partitions silently vanish from the output.
                found = set(metrics) | set(prefetched)
                if run and not any(
                    item.error is None
                    and (item.element_alias or item.agg_aliases)
                    for item in run
                ):
                    found.update(
                        (p,)
                        for p in _collect_partition_values(
                            df, partition_column
                        )
                    )
                keys = sorted(found, key=lambda k: str(k[0]))
            for key in keys:
                pre = prefetched.get(key, {})
                # build the partition's slice only when assembly reads
                # rows: a DataFrame per partition costs milliseconds of
                # driver time
                slice_df = part_df
                if any(validator._reads_rows(item, pre) for item in run):
                    slice_df = part_df.filter(
                        F.col(partition_column).eqNullSafe(key[0])
                    )
                out[key[0]] = [
                    validator._assemble(
                        item, slice_df, metrics.get(key, {}), rf, True, pre
                    )
                    for item in run
                ]
        except Exception as exc:  # noqa: BLE001 — the whole chunk fails
            out = exc
        yield out, started, datetime.datetime.now(datetime.timezone.utc), chunk


def _partition_result(
    suite: ExpectationSuite,
    results: List[ExpectationValidationResult],
    partition_column: str,
    partition: Any,
    run_id: str,
    started: datetime.datetime,
    finished: datetime.datetime,
) -> ExpectationSuiteValidationResult:
    """A partition's suite result, with ``SuiteValidator.validate``'s
    meta shape; the times are its chunk's."""
    return ExpectationSuiteValidationResult(
        success=all(r.success for r in results),
        results=results,
        statistics=build_suite_statistics(results),
        meta={
            "great_expectations_version": "gx-spark-0.1",
            "expectation_suite_name": suite.expectation_suite_name,
            "run_id": run_id,
            "validation_time": started.isoformat(),
            "validation_duration_sec": (finished - started).total_seconds(),
            "batch_spec": {
                "type": "partition",
                "partition_column": partition_column,
                "partition_id": str(partition),
            },
            "batch_markers": {
                "ge_load_time": started.strftime("%Y%m%dT%H%M%S.%fZ")
            },
            "partition_column": partition_column,
            "partition_id": str(partition),
            "strategy": "single_pass_grouped",
        },
        evaluation_parameters=dict(suite.evaluation_parameters),
    )


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

    The suite compiles once; the partitions to validate run through
    ``SuiteValidator``'s grouped phases ``DEFAULT_BACKFILL_CHUNK_SIZE`` at
    a time (module docstring), so the Spark jobs of a run grow with its
    chunk count, not its partition count.  Each partition's stored
    result equals a ``validate`` of its slice, violation samples
    included.  When a chunk finishes, each of its partitions gets its
    result file and manifest record, and then its actions fire; the
    records' ``started_at``/``finished_at``/``duration_sec`` are the
    chunk's.  A chunk that fails as a whole records every one of its
    partitions ``failed`` (never a count), and a re-run validates them
    again.  ``max_concurrency`` is accepted for compatibility and has no
    effect: Spark parallelism inside the grouped jobs replaces the
    per-partition pool, and the validator's ``job_concurrency`` still
    overlaps a chunk's independent jobs.

    ``actions`` (checkpoint.actions.CheckpointAction) fire after each
    partition's validation — store results/metrics, notify on failure —
    mirroring the reference's post-validation action list
    (``checkpoint/actions.py:826,976``); action errors never fail the run.

    ``sketch_columns`` opts columns into incremental table stats: one
    mergeable sketch per (new partition, column, kind) is persisted
    under the checkpoint dir (``checkpoint/sketches.py``) in ONE extra
    grouped job, and the summary carries the merged answers over ALL
    stored partitions — old ones never re-scanned.  Those answers take at
    most two more small jobs, one for all HLL columns and one for all
    top-k columns, each over the stored states sent to Spark as one Arrow
    table; moments and histograms merge on the driver.  No Python worker
    starts for any of it.  ``sketch_columns`` is a column list
    (every column gets ``sketch_kinds``) or a ``{column: kinds}``
    mapping for a heterogeneous plan.  Kinds from ``('hll', 'moments',
    'topk', 'histogram')`` → summary keys ``distinct_estimates`` /
    ``stats_estimates`` / ``top_values`` / ``histograms`` (the last
    needs ``sketch_histogram_edges``).

    ``detect_changes=True`` drops the partitions-are-immutable
    assumption: one grouped job fingerprints every partition's content
    and lists the partitions (:func:`partition_fingerprints`), a
    ``done`` partition whose fingerprint no longer matches its manifest
    record is RE-validated (late-arriving data), and the sketch store
    re-sketches it too — the merged table stats follow the data instead
    of freezing at first sight of each partition.
    """
    from great_expectations_spark.checkpoint.actions import (
        ActionContext,
        run_actions,
    )

    validator = validator or SuiteValidator()
    manifest = CheckpointManifest(checkpoint_dir)
    suite_hash = suite.suite_hash()
    run_id = run_id or str(uuid.uuid4())
    rf = parse_result_format(result_format)

    fingerprints: Dict[str, str] = {}
    if detect_changes:
        fingerprints = partition_fingerprints(df, partition_column)
        partitions = fingerprints.partitions
    else:
        partitions = _collect_partition_values(df, partition_column)
    done = manifest.completed_partitions(suite_hash)
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

    items = validator._compile(
        suite, suite.evaluation_parameters, True, parameter_store
    )
    validator._check_columns_exist(df, items)

    def record(
        partition: Any,
        started: datetime.datetime,
        finished: datetime.datetime,
        result: Optional[ExpectationSuiteValidationResult],
        error: Optional[Exception] = None,
    ) -> ManifestEntry:
        """Write a partition's result and manifest record, then fire its
        actions: ``done`` with ``result``, or ``failed`` with ``error``."""
        if error is None:
            status = "done"
            duration = (finished - started).total_seconds()
            rows = max(
                (
                    int(r.result.get("element_count") or 0)
                    for r in result.results
                ),
                default=0,
            )
        else:
            status, duration, rows = "failed", 0.0, 0
            result = ExpectationSuiteValidationResult(
                success=False, results=[], statistics={},
                meta={"error": str(error)},
            )
        entry = ManifestEntry(
            partition_id=str(partition),
            suite_hash=suite_hash,
            status=status,
            run_id=run_id,
            started_at=started.isoformat(),
            finished_at=finished.isoformat(),
            rows=rows,
            duration_sec=round(duration, 3),
            rows_per_sec=round(rows / duration, 1) if duration else 0.0,
            success=None if error else bool(result.success),
            error=None if error is None else str(error),
            fingerprint=None if error else fingerprints.get(str(partition)),
        )
        recorded = manifest.record(
            entry, None if error else result.to_json()
        )
        run_actions(
            actions,
            ActionContext(
                run_id=run_id,
                suite_name=suite.expectation_suite_name,
                partition_column=partition_column,
                partition_id=str(partition),
                result=result,
                entry_status=status,
            ),
        )
        return recorded

    entries: List[ManifestEntry] = []
    for out, started, finished, chunk in _validate_chunks(
        validator, df, items, rf, partition_column, todo
    ):
        for p in chunk:
            if isinstance(out, Exception):
                entries.append(record(p, started, finished, None, out))
            else:
                result = _partition_result(
                    suite, out[p], partition_column, p, run_id, started,
                    finished,
                )
                entries.append(record(p, started, finished, result))

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
    """Single-pass per-partition validation at BASIC format, violation
    samples included.

    Runs ``SuiteValidator``'s phases once with ``partition_column`` as the
    group prefix — ``run_checkpoint``'s chunked path, as one chunk over
    the whole ``df`` — and assembles each partition's results with
    ``SuiteValidator._assemble``, so every count, observed value and
    sample equals a per-partition ``validate``.  Bundled counters: one
    groupBy(partition).agg(...) job.  Each window group (expectations
    sharing a window spec) adds one grouped job serving counts and
    samples, and each set window one count job plus, when it has
    violations, one sample job; windows are partition-local.  Map
    expectations with violations add one top-k sample job.  Each
    aggregate over a ``row_condition`` domain adds one filtered grouped
    job.  Schema checks evaluate per partition without a scan.  Job
    expectations (referential exist-in-other-table, the distribution and
    drift family, user SQL, z-scores, most-common, row-count-equal-other-
    table) run their one evaluator with the partition column as group
    prefix, in O(1) grouped jobs covering every partition at once; only
    a partition that the evaluator's own filters leave without rows runs
    one partition-filtered job at assembly.  Aggregate followups (the
    distinct-value-set family) resolve every partition in one job.  So
    the job count does not grow with the partition count, except for
    those assembly-time evaluations and the corpus-level substring
    duplication check, which measures each partition as its own corpus.
    """
    validator = validator or SuiteValidator()
    rf = parse_result_format("BASIC")
    items = validator._compile(
        suite, suite.evaluation_parameters, True, parameter_store
    )
    validator._check_columns_exist(df, items)
    run_id = str(uuid.uuid4())
    out: Dict[str, ExpectationSuiteValidationResult] = {}
    for results, started, finished, _ in _validate_chunks(
        validator, df, items, rf, partition_column
    ):
        if isinstance(results, Exception):
            raise results
        for part, part_results in results.items():
            out[str(part)] = _partition_result(
                suite, part_results, partition_column, part, run_id,
                started, finished,
            )
    return out
