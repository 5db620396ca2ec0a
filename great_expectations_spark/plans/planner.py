"""SuiteValidator — compiles an ExpectationSuite against a DataFrame into a
minimal number of Spark jobs and assembles reference-shaped results.

Every phase is parameterised by a group prefix ``group_by``: empty for a
whole-table ``validate(df, suite)``, ``[partition_column]`` for
``checkpoint.runner.validate_by_partition`` and ``run_checkpoint``, which
run the same phases and build every result with the same ``_assemble``.
Phase outputs are keyed by group key tuple — the single ``()`` key for
``validate``, one ``(partition,)`` key per partition for the grouped call.

Physical plan of ``validate(df, suite)``:

  Phase A (ONE job): a single ``df.groupBy(*group_by).agg(...)``
    containing, for every map
    expectation, the domain/considered/unexpected conditional-sum counters,
    plus every aggregate metric (mean/stddev/quantile sketch/HLL/...), all
    gated per-expectation by its own ``row_condition`` via
    ``sum(when(domain & cond, 1))`` — so even a suite with heterogeneous
    row conditions is one scan.  This generalizes the reference's
    per-domain bundling (``sparkdf_execution_engine.py:715-793``) to the
    whole suite.  Only partial (map-side combined) aggregation shuffles a
    single tiny row per partition — no row shuffle at all.  With an empty
    prefix this is exactly ``df.agg(...)``; grouped, it is every
    partition's whole-suite counters in the same one scan.
  Phase B: window expectations, each needing a shuffle by key
    (operators/window_ops.py).  Flag windows (monotonicity,
    window-strategy contiguity, and uniqueness adopted onto a shared
    window spec) are grouped by (partition_by, order_by, row_condition):
    ONE job per group computes every member's flag, over windows
    partitioned by ``[*group_by, *partition_by]``.  Set windows
    (uniqueness, join-strategy contiguity) run one two-phase hash
    aggregation each, grouped by ``[*group_by, *keys]``.
  Phase C: job expectations (user SQL, referential joins, drift).  Each
    has ONE evaluator, ``CompiledJob.evaluate``, called with the same
    group prefix: its ``groupBy(*group_by, ...)`` jobs serve every group
    at once.  Only a group the evaluator's own filters leave without rows
    has no output there; assembly evaluates it on the group's slice with
    an empty prefix.  Referential and z-score samples are JVM top-k
    samples (``window_ops.top_k``), like phase D's.
  Phase A': aggregates over a ``row_condition`` domain run one filtered
    ``groupBy(*group_by).agg`` job each; aggregate followups run after
    phase A, one job for every group.
  Phase D: violation samples, whenever result_format > BOOLEAN_ONLY,
    grouped or not.  Every sample is a JVM top-k
    (``window_ops.top_k``): ``row_number() over (partition by
    [*group_by, member] order by <sample columns>) <= k``, so samples
    are deterministic and a group's sample is the one a ``validate`` of
    its slice takes.  Map expectations with violations share ONE job:
    each flagged row explodes into the members it violates, and Spark
    plans the top-k as ``WindowGroupLimit`` Partial before the member
    exchange and Final after it.  Flag-window groups sample inside their
    phase-B job (``_fused_window_group``), whose per-(group, member)
    count rides the same window.  A set window with violations takes
    one top-k sample job for every group.  COMPLETE's cap
    (``max_complete_collect``) is above
    ``spark.sql.optimizer.windowGroupLimitThreshold``, so Spark plans
    only the Final limit there.

Driver-side job orchestration: the phases above are *independent Spark
jobs* with a small dependency DAG (samples and aggregate followups need
phase-A counters; window samples need phase-B counters; CompiledJob
expectations need nothing).  Submitting them one at a time serializes
the driver — an Amdahl term measured at ~12 s/pass on the 25.4M-turn
scaling dataset (SCALING.md).  ``validate`` submits them from a driver
thread pool of ``job_concurrency`` workers (default 8; ``1`` runs the
jobs one at a time through a one-worker pool): phase A ∥ phase B
∥ every CompiledJob expectation, then (once phase-A metrics land)
aggregate followups ∥ set-window samples ∥ the map-sample job.  Pool
tasks inherit the caller's Spark local properties, so a job group the
caller sets covers every job.  Spark's scheduler accepts concurrent job
submission from driver threads natively (the reference does the same
driver-side with ``core/async_executor.py`` across *checkpoints*; here
it is applied *inside* one suite pass).  Results are assembled in suite
order after all futures resolve, so output is deterministic and
exception semantics (``catch_exceptions``) are unchanged.

Aggregate metrics are deduplicated by content-addressed key, so shared
dependencies (row_count, nonnull counts) are computed once (reference
metric-graph dedup: ``validation_graph.py:96-100``).
"""

from __future__ import annotations

import datetime
import functools
import traceback
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from great_expectations_spark.core.domain import (
    domain_gate,
    parse_row_condition,
)
from great_expectations_spark.core.result_format import (
    format_map_output,
    map_expectation_success,
    parse_result_format,
)
from great_expectations_spark.core.results import (
    ExpectationSuiteValidationResult,
    ExpectationValidationResult,
    build_suite_statistics,
    convert_to_json_serializable,
)
from great_expectations_spark.core.suite import (
    ExpectationConfiguration,
    ExpectationSuite,
)
from great_expectations_spark.operators import (
    aggregates as agg_ops,
    distribution as dist_ops,
    map_conditions as map_ops,
    pair_multicolumn as pair_ops,
    query_ops,
    table_ops,
    window_ops,
)
from great_expectations_spark.plans.specs import (
    CompiledAggregate,
    CompiledJob,
    CompiledMap,
    CompiledSchemaCheck,
    CompiledWindow,
)

Compiled = Union[
    CompiledMap, CompiledWindow, CompiledAggregate, CompiledSchemaCheck, CompiledJob
]


def compile_expectation(config: ExpectationConfiguration) -> Compiled:
    t = config.expectation_type
    kwargs = config.kwargs
    if t in map_ops.MAP_COMPILERS:
        return map_ops.MAP_COMPILERS[t](kwargs)
    if t in pair_ops.PAIR_COMPILERS:
        return pair_ops.PAIR_COMPILERS[t](kwargs)
    if t in window_ops.WINDOW_COMPILERS:
        return window_ops.WINDOW_COMPILERS[t](kwargs)
    if t in agg_ops.AGG_COMPILERS:
        return agg_ops.AGG_COMPILERS[t](kwargs)
    if t in table_ops.SCHEMA_COMPILERS:
        return table_ops.SCHEMA_COMPILERS[t](kwargs)
    if t in table_ops.JOB_COMPILERS:
        return table_ops.JOB_COMPILERS[t](kwargs)
    if t in query_ops.QUERY_JOB_COMPILERS:
        return query_ops.QUERY_JOB_COMPILERS[t](kwargs)
    if t in dist_ops.DIST_COMPILERS:
        return dist_ops.DIST_COMPILERS[t](kwargs)
    raise KeyError(f"unknown expectation_type {t!r}")


def registered_expectation_types() -> List[str]:
    names: List[str] = []
    for registry in (
        map_ops.MAP_COMPILERS,
        pair_ops.PAIR_COMPILERS,
        window_ops.WINDOW_COMPILERS,
        agg_ops.AGG_COMPILERS,
        table_ops.SCHEMA_COMPILERS,
        table_ops.JOB_COMPILERS,
        query_ops.QUERY_JOB_COMPILERS,
        dist_ops.DIST_COMPILERS,
    ):
        names.extend(registry.keys())
    return sorted(set(names))


@dataclass
class _PlannedItem:
    config: ExpectationConfiguration
    compiled: Optional[Compiled]
    domain: Optional[Column]
    error: Optional[Exception] = None
    # phase-A result aliases
    element_alias: Optional[str] = None
    considered_alias: Optional[str] = None
    unexpected_alias: Optional[str] = None
    agg_aliases: Dict[str, str] = field(default_factory=dict)


def plan_window_groups(
    items: List["_PlannedItem"],
) -> Tuple[Dict[Any, List["_PlannedItem"]], List["_PlannedItem"]]:
    """Window-pass planning: group flag-window items by
    (window_signature, row_condition) so each group computes all its
    flags in ONE projection + ONE shuffle, and adopt uniqueness
    expectations whose key columns equal a group's (partition_by +
    order_by) spec as a duplicate flag over that same window.  A group
    prefix is applied later, by passing it to every member's
    ``flag_builder``, so planning is the same with or without one.

    Returns ``(groups, set_windows)``; adoption sets the adopted items'
    ``flag_builder`` in place.  ``set_windows`` are the items left to
    their own ``execute``.
    """
    groups: Dict[Any, List["_PlannedItem"]] = {}
    singles: List["_PlannedItem"] = []
    for item in items:
        c = item.compiled
        if not isinstance(c, CompiledWindow) or item.error:
            continue
        if c.flag_builder is not None and c.window_signature is not None:
            key = (
                c.window_signature,
                str(item.config.kwargs.get("row_condition") or ""),
            )
            groups.setdefault(key, []).append(item)
        else:
            singles.append(item)

    # uniqueness expectations whose key columns equal an existing window
    # spec (partition_by + order_by) ride that pass as a lag/lead
    # duplicate flag instead of shuffling all rows by key
    still_single: List["_PlannedItem"] = []
    for item in singles:
        c = item.compiled
        adopted = False
        # only true uniqueness expectations (marked by the compiler) may
        # be rewritten as a duplicate flag over a shared window; the other
        # set window (join-strategy contiguity) keeps its own execute path
        unique_keys = getattr(c, "uniqueness_keys", None)
        if unique_keys is None:
            still_single.append(item)
            continue
        for (signature, domain_key), members in groups.items():
            partition_by, order_by = signature
            if (
                order_by
                and set(unique_keys) == set(partition_by) | set(order_by)
                and domain_key
                == str(item.config.kwargs.get("row_condition") or "")
            ):
                c.flag_builder = functools.partial(
                    window_ops.uniqueness_flag_over_window,
                    list(unique_keys),
                    list(partition_by),
                    list(order_by),
                )
                members.append(item)
                adopted = True
                break
        if not adopted:
            still_single.append(item)
    return groups, still_single


def window_metric(item: "_PlannedItem") -> str:
    """Metrics key of a window expectation's unexpected count."""
    return f"window_unexpected::{id(item)}"


def considered_flag(item: "_PlannedItem") -> Column:
    """Rows an expectation counts: inside its ``row_condition`` domain and
    kept by its compiled ``considered`` condition."""
    return domain_gate(item.domain) & domain_gate(item.compiled.considered)


def unexpected_flag(item: "_PlannedItem") -> Column:
    """A map expectation's row-level violation flag, shared by the bundled
    counters, the violation samples, the COMPLETE index query and the
    streaming quarantine flag."""
    return considered_flag(item) & domain_gate(item.compiled.unexpected)


def window_group_counts(
    df: DataFrame,
    members: List["_PlannedItem"],
    group_by: Sequence[str] = (),
) -> Dict[tuple, Dict[str, int]]:
    """ONE count job for a flag-window group at BOOLEAN_ONLY, which takes
    no samples: project every member's flag (windows partitioned by
    ``[*group_by, *partition_by]``) and sum them per ``group_by`` key.
    Returns ``{group key tuple: {window_metric: unexpected_count}}`` — a
    single ``()`` key for a whole-table ``validate``, one
    ``(partition,)`` key per partition for a grouped call.  Null handling stays correct when members
    share the pass because the flag builders are null-transparent
    (``window_ops._prev_nonnull``) rather than relying on pre-filtered
    frames."""
    scoped = df
    if members[0].domain is not None:
        scoped = scoped.filter(domain_gate(members[0].domain))
    # window expressions can't sit inside agg — project the flags first,
    # then sum
    flagged = scoped.select(
        *group_by,
        *[
            domain_gate(m.compiled.flag_builder(group_by)).alias(f"__gx_f{i}")
            for i, m in enumerate(members)
        ],
    )
    rows = (
        flagged.groupBy(*group_by)
        .agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col(f"__gx_f{i}"), 1).otherwise(0)),
                    F.lit(0),
                ).alias(f"__gx_w{i}")
                for i in range(len(members))
            ]
        )
        .collect()
    )
    return {
        tuple(r[g] for g in group_by): {
            window_metric(m): int(r[f"__gx_w{i}"])
            for i, m in enumerate(members)
        }
        for r in rows
    }


def _flagged_members(
    frame: DataFrame, cols: Sequence[str], flags: Sequence[str]
) -> DataFrame:
    """One row per (flagged row of ``frame``, flag it carries): ``cols``
    plus ``__gx_m``, the index of the flag in ``flags``."""
    any_flag = functools.reduce(
        lambda a, b: a | b, [F.col(f) for f in flags]
    )
    member = F.explode(
        F.filter(
            F.array(
                *[F.when(F.col(f), F.lit(i)) for i, f in enumerate(flags)]
            ),
            lambda x: x.isNotNull(),
        )
    ).alias("__gx_m")
    return frame.filter(any_flag).select(*cols, member)


class SuiteValidator:
    """Validate an ExpectationSuite against a DataFrame in O(1) scans.

    Parameters
    ----------
    max_complete_collect: hard cap on COMPLETE-format collected violation
        values — the driver-collect guard at scale.
    job_concurrency: max driver threads submitting the suite's independent
        Spark jobs concurrently (see module docstring).  ``1`` runs
        them one at a time: every Spark job of the pass goes through the
        same pool, so one worker serializes them.
    """

    def __init__(
        self,
        spark: Optional[SparkSession] = None,
        max_complete_collect: int = 10_000,
        job_concurrency: int = 8,
    ) -> None:
        self._spark = spark
        self.max_complete_collect = max_complete_collect
        self.job_concurrency = max(1, int(job_concurrency))

    # ------------------------------------------------------------------

    def warm_up(
        self, df: DataFrame, suite: ExpectationSuite
    ) -> None:
        """Pre-pay the suite's one-time JVM cost on a ONE-ROW slice.

        A cold ``validate`` pays Catalyst analysis + whole-stage-codegen
        compilation + JIT warm-up for the suite's (large) fused
        expression trees before touching any data — measured ~3s of a
        ~6s cold wall at sf0.1, vs <0.1s of Python planning (the
        remainder amortizes across a session; see BENCH_NOTES round-5
        cold-suite breakdown).  Those caches key on the GENERATED CODE,
        which depends only on (suite, schema) — so validating
        ``df.limit(1)`` populates them for near-free, and the first real
        ``validate`` then runs at near-warm cost.  Call during session
        setup (a background thread is fine: Spark jobs are thread-safe
        per session) for interactive ``asset.validate()`` workflows; a
        long-running checkpoint job gains nothing (it pays the cost once
        either way).

        Job expectations (referential other-table checks, two-sample
        drift, user SQL) are EXCLUDED from the warm-up pass:
        ``limit(1)`` only limits the primary DataFrame, so their
        reference-table scans would run at full size — the opposite of
        "near-free" — and their cost is their own query, not cached
        codegen."""
        probe = suite
        items = self._compile(
            suite, suite.evaluation_parameters, True, None
        )
        if any(isinstance(i.compiled, CompiledJob) for i in items):
            probe = ExpectationSuite(
                suite.expectation_suite_name + "__warmup"
            )
            probe.expectations = [
                it.config
                for it in items
                if not isinstance(it.compiled, CompiledJob)
            ]
            if not probe.expectations:
                return
        self.validate(df.limit(1), probe, result_format="BOOLEAN_ONLY")

    # ------------------------------------------------------------------

    def validate(
        self,
        df: DataFrame,
        suite: ExpectationSuite,
        result_format: Union[str, dict, None] = "BASIC",
        run_id: Optional[str] = None,
        catch_exceptions: bool = True,
        evaluation_parameters: Optional[Dict[str, Any]] = None,
        batch_meta: Optional[Dict[str, Any]] = None,
        parameter_store: Optional[Any] = None,
    ) -> ExpectationSuiteValidationResult:
        started = datetime.datetime.now(datetime.timezone.utc)
        rf = parse_result_format(result_format)
        eval_params = {
            **suite.evaluation_parameters,
            **(evaluation_parameters or {}),
        }

        items = self._compile(
            suite, eval_params, catch_exceptions, parameter_store
        )
        self._check_columns_exist(df, items)

        metrics, prefetched = self._run_phases_concurrent(
            df, items, rf, catch_exceptions
        )
        results = [
            self._assemble(
                item, df, metrics[()], rf, catch_exceptions, prefetched[()]
            )
            for item in items
        ]

        statistics = build_suite_statistics(results)
        finished = datetime.datetime.now(datetime.timezone.utc)
        meta = {
            "great_expectations_version": "gx-spark-0.1",
            "expectation_suite_name": suite.expectation_suite_name,
            "run_id": run_id or str(uuid.uuid4()),
            "validation_time": started.isoformat(),
            "validation_duration_sec": (finished - started).total_seconds(),
            # reference result-meta shape (validator.py meta: batch_spec /
            # batch_markers always present); callers with real lineage
            # (fluent assets, checkpoint runner) override via batch_meta
            "batch_spec": {"type": "runtime_dataframe"},
            "batch_markers": {
                "ge_load_time": started.strftime("%Y%m%dT%H%M%S.%fZ")
            },
            **(batch_meta or {}),
        }
        return ExpectationSuiteValidationResult(
            success=all(r.success for r in results),
            results=results,
            statistics=statistics,
            meta=meta,
            evaluation_parameters=eval_params,
        )

    # ------------------------------------------------------------------

    def _run_phases_concurrent(
        self,
        df: DataFrame,
        items: List[_PlannedItem],
        rf: dict,
        catch_exceptions: bool,
        group_by: Sequence[str] = (),
    ) -> Tuple[Dict[tuple, Dict[str, Any]], Dict[tuple, Dict[int, Any]]]:
        """Overlap the suite's independent Spark jobs from driver threads.

        Wave 1 (no dependencies): bundled agg ∥ window phase ∥ every
        CompiledJob expectation.  Wave 2 (needs phase-A/B counters):
        aggregate values (a job only for a followup or a domain-scoped
        aggregate) ∥ window violation samples ∥ map violation samples.

        Returns ``(metrics, prefetched)``, both keyed by group key tuple
        (always holding ``()`` for an ungrouped call): ``metrics`` maps
        phase-A/B counter aliases to values, ``prefetched`` maps
        ``id(item)`` to what a wave computed for the item — a job's
        output, an aggregate's values (or the Exception its followup
        mapped that group to), a violation sample; a group whose
        evaluation failed holds the Exception.  A call that fails as a
        whole marks ``item.error``, which assembly replays in suite order
        with unchanged exception semantics.  Every format but
        BOOLEAN_ONLY takes violation samples, grouped or not, with the
        same top-k jobs, so a group's samples are the rows a ``validate``
        of that group's slice returns.  A group that a job's or a
        domain-scoped aggregate's filters leave without rows has no
        ``prefetched`` value for it; assembly evaluates it on the group's
        slice.  Pool tasks inherit the caller's Spark local properties,
        so a job group set by the caller covers every job of the call.
        """

        def guarded(fn, *a):
            try:
                return fn(*a)
            except Exception as exc:  # noqa: BLE001 — replayed at assembly
                return exc

        session = df.sparkSession
        spark = self._spark or session

        def submit(fn, *a):
            # a pool thread runs its Spark jobs under the caller's local
            # properties (job group, scheduler pool); wrapping per task
            # gives each task its own copy
            return pool.submit(inheritable_thread_target(session)(fn), *a)

        prefetched: Dict[tuple, Dict[int, Any]] = {(): {}} if not group_by else {}
        with ThreadPoolExecutor(max_workers=self.job_concurrency) as pool:
            fut_bundle = submit(
                self._run_bundled_phase_isolating,
                df,
                items,
                group_by,
                catch_exceptions,
            )
            window_metrics: Dict[tuple, Dict[str, Any]] = {}
            # the window phase writes fused counts+samples into
            # ``prefetched`` from its worker thread; the main thread only
            # touches ``prefetched`` after fut_window is joined below
            fut_window = submit(
                self._run_window_phase,
                df,
                items,
                window_metrics,
                catch_exceptions,
                rf,
                prefetched,
                group_by,
            )
            futs = [
                (item, submit(
                    guarded, item.compiled.evaluate, df, spark,
                    item.domain, group_by, rf,
                ))
                for item in items
                if item.error is None
                and isinstance(item.compiled, CompiledJob)
            ]

            # phase A/B gates: bundled-agg and window failures propagate
            # here (phase B already honors catch_exceptions internally via
            # per-item error marking)
            metrics = fut_bundle.result()
            if not group_by:
                metrics.setdefault((), {})
            fut_window.result()
            for key, counts in window_metrics.items():
                metrics.setdefault(key, {}).update(counts)

            for item in items:
                if item.error is None and isinstance(
                    item.compiled, CompiledAggregate
                ):
                    futs.append((item, submit(
                        guarded, self._aggregate_values, item, item.compiled,
                        df, metrics, group_by,
                    )))
            fut_samples = None
            if rf["result_format"] != "BOOLEAN_ONLY":
                limit = (
                    self.max_complete_collect
                    if rf["result_format"] == "COMPLETE"
                    else rf["partial_unexpected_count"]
                )
                index_cols = rf.get("unexpected_index_column_names")
                # flag-window members were served counts AND samples by
                # the fused wave-1 window job (already in ``prefetched``);
                # each set window failing in some group takes one sample
                # job for every group
                for item in items:
                    c = item.compiled
                    if (
                        item.error is None
                        and isinstance(c, CompiledWindow)
                        and c.flag_builder is None
                        and any(
                            int(m.get(window_metric(item)) or 0)
                            for m in metrics.values()
                        )
                    ):
                        futs.append((item, submit(
                            guarded, c.sample, df, item.domain, limit,
                            index_cols, group_by,
                        )))
                fut_samples = submit(
                    self._collect_samples, df, items, metrics, rf, group_by
                )

            for item, fut in futs:
                out = fut.result()
                if isinstance(out, Exception):
                    item.error = out
                    continue
                for key, value in out.items():
                    prefetched.setdefault(key, {})[id(item)] = value
            if fut_samples is not None:
                for key, samples in fut_samples.result().items():
                    prefetched.setdefault(key, {}).update(samples)
        return metrics, prefetched

    def _aggregate_values(
        self,
        item: _PlannedItem,
        c: CompiledAggregate,
        df: DataFrame,
        metrics: Dict[tuple, Dict[str, Any]],
        group_by: Sequence[str] = (),
    ) -> Dict[tuple, Any]:
        """An aggregate's metric values per group key, from the phase-A
        ``metrics`` or — for a ``row_condition`` domain — from one
        dedicated filtered ``groupBy(*group_by).agg`` job, then extended by
        its followup, which may map a group to an Exception (e.g. over
        the collect cap) instead of values."""
        if item.domain is not None:
            scoped = df.filter(domain_gate(item.domain))
            aliases = {k: f"a{i}" for i, k in enumerate(c.agg_exprs)}
            rows = (
                scoped.groupBy(*group_by)
                .agg(*[col.alias(aliases[k]) for k, col in c.agg_exprs.items()])
                .collect()
            )
            values = {
                tuple(r[g] for g in group_by): {
                    k: r[a] for k, a in aliases.items()
                }
                for r in rows
            }
        else:
            scoped = df
            values = {
                key: {k: m.get(alias) for k, alias in item.agg_aliases.items()}
                for key, m in metrics.items()
            }
        if c.followup is not None:
            extra = c.followup(scoped, group_by, values)
            for key in values:
                more = extra.get(key)
                if isinstance(more, Exception):
                    values[key] = more
                else:
                    values[key].update(more or {})
        return values

    def _compile(
        self,
        suite: ExpectationSuite,
        eval_params: Dict[str, Any],
        catch_exceptions: bool,
        parameter_store: Optional[Any] = None,
    ) -> List[_PlannedItem]:
        urn_resolver = (
            parameter_store.resolve_urn
            if parameter_store is not None
            and hasattr(parameter_store, "resolve_urn")
            else parameter_store
        )
        items: List[_PlannedItem] = []
        for config in suite.expectations:
            try:
                resolved = config.substituted(eval_params, urn_resolver)
                compiled = compile_expectation(resolved)
                domain = parse_row_condition(
                    resolved.kwargs.get("row_condition"),
                    resolved.kwargs.get("condition_parser"),
                )
                items.append(_PlannedItem(resolved, compiled, domain))
            except Exception as exc:
                if not catch_exceptions:
                    raise
                items.append(_PlannedItem(config, None, None, error=exc))
        return items

    @staticmethod
    def _check_columns_exist(df: DataFrame, items: List[_PlannedItem]) -> None:
        """Fault isolation: a missing column must fail ONE expectation, not
        poison the shared bundled agg (reference parity: per-expectation
        exception_info, validator.py:1227-1261)."""
        types = table_ops.flattened_column_types(df.schema)
        for item in items:
            c = item.compiled
            if item.error is not None or c is None:
                continue
            referenced: List[str] = []
            if isinstance(c, (CompiledMap, CompiledWindow)):
                referenced = c.domain_columns
            elif isinstance(c, CompiledAggregate):
                col = item.config.kwargs.get("column")
                referenced = [col] if col else []
            missing = [col for col in referenced if col not in types]
            if missing:
                item.error = KeyError(
                    f"column(s) {missing} not found in batch; available: "
                    f"{sorted(types)}"
                )
                continue
            checker = getattr(c, "type_check", None)
            required = getattr(c, "required_column_types", None)
            try:
                for col in referenced if checker is not None else ():
                    checker(types[col])
                for col in referenced if required else ():
                    if not isinstance(types[col], required):
                        raise TypeError(
                            f"{item.config.expectation_type} requires column "
                            f"type {required}, got "
                            f"{type(types[col]).__name__} for {col!r}"
                        )
            except Exception as exc:  # noqa: BLE001 — that item's EVR
                item.error = exc

    def _run_bundled_phase_isolating(
        self,
        df: DataFrame,
        items: List[_PlannedItem],
        group_by: Sequence[str] = (),
        catch_exceptions: bool = True,
    ) -> Dict[tuple, Dict[str, Any]]:
        """The fused bundled agg, with the reference's ``catch_exceptions``
        contract restored for the fused design: ONE poisoned expression
        (a bad regex compiled inside codegen, an ANSI cast overflow, a
        malformed json_schema...) fails the WHOLE shared ``df.agg`` job,
        so on failure each item re-runs in its OWN agg — only the items
        whose solo agg still fails get ``item.error`` (-> exception EVR,
        reference validator.py:1227-1261) and every healthy expectation
        keeps its real metrics.  The isolation pass costs one job per
        item but runs only on the (rare) failure path; the happy path is
        still exactly one fused job."""
        try:
            return self._run_bundled_phase(df, items, group_by)
        except Exception:  # noqa: BLE001 — isolate, re-raise if asked to
            if not catch_exceptions:
                raise
        merged: Dict[tuple, Dict[str, Any]] = {}
        for idx, item in enumerate(items):
            if item.compiled is None or item.error is not None:
                continue
            try:
                solo = self._run_bundled_phase(
                    df, [item], group_by, alias_prefix=f"s{idx}_"
                )
            except Exception as exc:  # noqa: BLE001 — per-item EVR
                item.error = exc
                continue
            for key, vals in solo.items():
                merged.setdefault(key, {}).update(vals)
        return merged

    def _run_bundled_phase(
        self,
        df: DataFrame,
        items: List[_PlannedItem],
        group_by: Sequence[str] = (),
        alias_prefix: str = "",
    ) -> Dict[tuple, Dict[str, Any]]:
        """Build and run the single bundled ``groupBy(*group_by).agg(...)``;
        returns ``{group key tuple: {alias: value}}`` — the one ``()`` row
        of a whole-table agg, or every partition's whole-suite counters in
        a single scan + tiny shuffle (the per-partition scale path the
        reference does with a driver loop).  ``alias_prefix`` namespaces
        the metric aliases so the isolation fallback's per-item runs can
        merge into one dict without colliding on ``m0``."""
        exprs: List[Column] = []
        alias_by_key: Dict[str, str] = {}
        counter = 0

        def add(key: str, col: Column) -> str:
            nonlocal counter
            if key in alias_by_key:
                return alias_by_key[key]
            alias = f"{alias_prefix}m{counter}"
            counter += 1
            alias_by_key[key] = alias
            exprs.append(col.alias(alias))
            return alias

        for item in items:
            c = item.compiled
            if c is None or item.error is not None:
                continue
            domain_key = str(item.config.kwargs.get("row_condition") or "ALL")

            if isinstance(c, (CompiledMap, CompiledWindow)):
                item.element_alias = add(
                    f"element::{domain_key}",
                    F.sum(F.when(domain_gate(item.domain), 1).otherwise(0)),
                )
                if c.considered is not None:
                    item.considered_alias = add(
                        f"considered::{domain_key}::{c.considered}",
                        F.sum(F.when(considered_flag(item), 1).otherwise(0)),
                    )
                if isinstance(c, CompiledMap):
                    item.unexpected_alias = add(
                        f"unexpected::{domain_key}::{c.considered}::{c.unexpected}",
                        F.sum(F.when(unexpected_flag(item), 1).otherwise(0)),
                    )
            elif isinstance(c, CompiledAggregate) and item.domain is None:
                # an aggregate over a row_condition domain runs its own
                # filtered agg (_aggregate_values)
                for key, col in c.agg_exprs.items():
                    item.agg_aliases[key] = add(f"agg::{key}", col)

        if not exprs:
            return {}
        rows = df.groupBy(*group_by).agg(*exprs).collect()
        return {
            tuple(row[g] for g in group_by): {
                alias: row[alias] for alias in alias_by_key.values()
            }
            for row in rows
        }

    def _run_window_phase(
        self,
        df: DataFrame,
        items: List[_PlannedItem],
        metrics: Dict[tuple, Dict[str, Any]],
        catch_exceptions: bool,
        rf: dict,
        prefetched: Dict[tuple, Dict[int, Any]],
        group_by: Sequence[str] = (),
    ) -> None:
        """Window expectations sharing a (partition_by, order_by) spec and
        domain evaluate together: one job per group computes every flag
        column — one shuffle for the whole group (e.g. the transcript
        suite's ts-monotonicity + turn-contiguity share the (conv_id,
        turn_idx) window).  Counts land in ``metrics`` per group key.

        BOOLEAN_ONLY takes the counts alone (``window_group_counts``);
        every other format also takes the group's violation SAMPLES in
        that same job (``_fused_window_group``).  A failing group job
        marks every member's ``error`` (or raises without
        ``catch_exceptions``).  Set windows run their own ``execute``."""
        groups, set_windows = plan_window_groups(items)

        for members in groups.values():
            try:
                if rf["result_format"] == "BOOLEAN_ONLY":
                    counts = window_group_counts(df, members, group_by)
                    for key, vals in counts.items():
                        metrics.setdefault(key, {}).update(vals)
                else:
                    self._fused_window_group(
                        df, members, metrics, rf, prefetched, group_by
                    )
            except Exception as exc:
                if not catch_exceptions:
                    raise
                for m in members:
                    m.error = exc

        for item in set_windows:
            try:
                counts = item.compiled.execute(df, item.domain, group_by)
                for key, count in counts.items():
                    metrics.setdefault(key, {})[window_metric(item)] = count
            except Exception as exc:
                if not catch_exceptions:
                    raise
                item.error = exc

    def _fused_window_group(
        self,
        df: DataFrame,
        members: List[_PlannedItem],
        metrics: Dict[tuple, Dict[str, Any]],
        rf: dict,
        prefetched: Dict[tuple, Dict[int, Any]],
        group_by: Sequence[str] = (),
    ) -> None:
        """ONE job per flag-window group serves every member's violation
        COUNT and violation SAMPLE, for every ``group_by`` key.

        The job projects every member's flag (windows partitioned by
        ``[*group_by, *partition_by]``), explodes each flagged row into
        the indices of the members whose flag it carries, and keeps
        ``row_number() over (partition by [*group_by, member] order by
        <sample columns>) <= limit`` (``window_ops.top_k``), with each
        (group, member)'s total as a whole-partition count over the same
        window.  So the group's window shuffle runs exactly once, a
        member can never be starved by a denser one, and the driver
        collects at most ``limit`` rows per (group, member).  The sample
        is deterministic — the ``limit`` smallest violating rows by the
        group's sample columns, at any shuffle partition count or job
        concurrency — and a group's sample equals the one a ``validate``
        of its slice takes.  Sample columns Spark cannot sort by (a
        map-typed ``unexpected_index_column_names`` entry) ride along
        but stay out of the order.

        The count keeps Spark from planning a partial top-k before the
        member exchange: every flagged (row, member) pair crosses it.
        That is at most the flagged share of the window shuffle's rows,
        narrowed to the sample columns."""
        limit = (
            self.max_complete_collect
            if rf["result_format"] == "COMPLETE"
            else max(int(rf["partial_unexpected_count"] or 0), 1)
        )
        index_cols = rf.get("unexpected_index_column_names")
        scoped = df
        if members[0].domain is not None:
            scoped = scoped.filter(domain_gate(members[0].domain))
        flag_names = [f"__gx_pf{i}" for i in range(len(members))]
        cols = list(group_by)
        for m in members:
            for c in m.compiled.sample_columns(index_cols):
                if c not in cols:
                    cols.append(c)
        proj = scoped.select(
            *cols,
            *[
                domain_gate(m.compiled.flag_builder(group_by)).alias(fn)
                for fn, m in zip(flag_names, members)
            ],
        )
        top = window_ops.top_k(
            _flagged_members(proj, cols, flag_names),
            [*group_by, "__gx_m"],
            limit,
            count=True,
        )
        for key, rows in top.items():
            group, m = key[:-1], members[key[-1]]
            metrics.setdefault(group, {})[window_metric(m)] = int(
                rows[0]["__gx_n"]
            )
            prefetched.setdefault(group, {})[id(m)] = m.compiled.pool_sample(
                rows, index_cols
            )

    # ------------------------------------------------------------------

    def _collect_samples(
        self,
        df: DataFrame,
        items: List[_PlannedItem],
        metrics: Dict[tuple, Dict[str, Any]],
        rf: dict,
        group_by: Sequence[str] = (),
    ) -> Dict[tuple, Dict[int, Dict[str, Any]]]:
        """Phase D: violation samples of every map expectation that has
        violations in some group, in ONE job, as ``{group key: {id(item):
        sample}}``.

        Each flagged row explodes into the indices of the members it
        violates, and ``row_number() over (partition by [*group_by,
        member] order by <member value, index or row columns>) <= k``
        keeps each (group, member)'s ``k`` smallest violations
        (``window_ops.top_k``, a JVM top-k).  Samples are deterministic,
        ordered by the sample columns, and a group's sample equals the
        one a ``validate`` of its slice takes."""
        if rf["result_format"] == "BOOLEAN_ONLY":
            return {}
        needing = [
            item
            for item in items
            if isinstance(item.compiled, CompiledMap)
            and item.error is None
            and any(
                m.get(item.unexpected_alias or "") for m in metrics.values()
            )
        ]
        if not needing:
            return {}

        limit = (
            self.max_complete_collect
            if rf["result_format"] == "COMPLETE"
            else rf["partial_unexpected_count"]
        )
        index_cols = rf.get("unexpected_index_column_names") or []
        include_rows = bool(rf.get("include_unexpected_rows"))
        # full original rows ride along so violating records can be
        # returned verbatim (reference
        # map_condition_auxilliary_methods.py:664-694)
        row_cols = list(df.columns) if include_rows else []
        keep = list(dict.fromkeys([*group_by, *(row_cols or index_cols)]))
        values = [f"__gx_val_{i}" for i in range(len(needing))]
        flags = [f"__gx_flag_{i}" for i in range(len(needing))]
        projected = df.select(
            *keep,
            *[
                (
                    item.compiled.value_expr
                    if item.compiled.value_expr is not None
                    else F.lit(None)
                ).alias(v)
                for item, v in zip(needing, values)
            ],
            *[
                unexpected_flag(item).alias(f)
                for item, f in zip(needing, flags)
            ],
        )
        # a row keeps only its member's value, so each member is ordered
        # by its own value first
        exploded = _flagged_members(projected, [*keep, *values], flags).select(
            *[
                F.when(F.col("__gx_m") == i, F.col(v)).alias(v)
                for i, v in enumerate(values)
            ],
            *keep,
            "__gx_m",
        )
        samples: Dict[tuple, Dict[int, Dict[str, Any]]] = {}
        for key, rows in window_ops.top_k(
            exploded, [*group_by, "__gx_m"], limit
        ).items():
            i = key[-1]
            item = needing[i]
            unexpected: List[Any] = []
            for r in rows:
                v = r[values[i]]
                if item.compiled.value_is_dict and v is not None:
                    v = v.asDict()
                elif hasattr(v, "asDict"):
                    v = tuple(v.asDict().values())
                unexpected.append(v)
            entry: Dict[str, Any] = {"unexpected_list": unexpected}
            if index_cols:
                entry["unexpected_index_list"] = [
                    {ic: r[ic] for ic in index_cols} for r in rows
                ]
            if include_rows:
                entry["unexpected_rows"] = [
                    {rc: r[rc] for rc in row_cols} for r in rows
                ]
            samples.setdefault(key[:-1], {})[id(item)] = entry
        return samples

    # ------------------------------------------------------------------

    def _assemble(
        self,
        item: _PlannedItem,
        df: DataFrame,
        metrics: Dict[str, Any],
        rf: dict,
        catch_exceptions: bool,
        prefetched: Dict[int, Any],
    ) -> ExpectationValidationResult:
        """One expectation's result from one group's phase counters and
        prefetched values.  A job expectation or aggregate with nothing
        prefetched (its filters left the group without rows) is
        evaluated on ``df`` here with an empty prefix (``_reads_rows``),
        so ``df`` must then be the group's rows (a partition's slice for
        ``validate_by_partition``); otherwise only its schema is read."""
        config_dict = item.config.to_json_dict()
        if item.error is not None:
            # reference contract: with catch_exceptions off, a marked
            # item (missing column, compile failure, poisoned bundle
            # expression) propagates instead of quietly becoming an EVR
            if not catch_exceptions:
                raise item.error
            return self._exception_result(config_dict, item.error)
        c = item.compiled
        pre = prefetched.get(id(item))
        try:
            if isinstance(pre, Exception):
                raise pre
            if isinstance(c, CompiledMap):
                return self._assemble_map(item, c, metrics, pre, rf, config_dict)
            if isinstance(c, CompiledWindow):
                return self._assemble_window(item, metrics, rf, config_dict, pre)
            if isinstance(c, CompiledAggregate):
                return self._assemble_aggregate(
                    item, c, df, metrics, config_dict, pre
                )
            if isinstance(c, CompiledSchemaCheck):
                out = c.validate(df)
                return ExpectationValidationResult(
                    success=bool(out["success"]),
                    expectation_config=config_dict,
                    result=convert_to_json_serializable(out.get("result", {})),
                )
            if isinstance(c, CompiledJob):
                out = pre
                if out is None:
                    out = c.evaluate(
                        df, self._spark or df.sparkSession, item.domain, (),
                        rf,
                    )[()]
                    if isinstance(out, Exception):
                        raise out
                result = out.get("result", {})
                if "result" not in out and "success" in out:
                    result = {
                        k: v for k, v in out.items() if k != "success"
                    }
                return ExpectationValidationResult(
                    success=bool(out["success"]),
                    expectation_config=config_dict,
                    result=convert_to_json_serializable(result),
                )
            raise TypeError(f"unhandled compiled type {type(c)}")
        except Exception as exc:
            if not catch_exceptions:
                raise
            return self._exception_result(config_dict, exc)

    @staticmethod
    def _reads_rows(item: _PlannedItem, prefetched: Dict[int, Any]) -> bool:
        """Whether ``_assemble`` runs a Spark call on its ``df`` for this
        item: a job expectation or aggregate with nothing prefetched."""
        return (
            item.error is None
            and id(item) not in prefetched
            and isinstance(item.compiled, (CompiledAggregate, CompiledJob))
        )

    def _assemble_map(
        self,
        item: _PlannedItem,
        c: CompiledMap,
        metrics: Dict[str, Any],
        sample: Optional[Dict[str, Any]],
        rf: dict,
        config_dict: Dict[str, Any],
    ) -> ExpectationValidationResult:
        element_count = int(metrics.get(item.element_alias) or 0)
        considered_count = int(metrics.get(item.considered_alias) or 0)
        unexpected_count = int(metrics.get(item.unexpected_alias) or 0)
        mostly = item.config.mostly

        if c.denominator == "element":
            success = (
                True
                if element_count == 0
                else (element_count - unexpected_count) / element_count >= mostly
            )
            nonnull_for_format: Optional[int] = None
        else:
            success = map_expectation_success(
                element_count, considered_count, unexpected_count, mostly
            )
            nonnull_for_format = considered_count

        sample = sample or {}
        unexpected_index_query: Optional[str] = None
        if rf["result_format"] == "COMPLETE" and rf.get(
            "return_unexpected_index_query", True
        ) is not False:
            # reference map_condition_auxilliary_methods.py:785-824: render
            # the violation condition as a df.filter(F.expr(...)) string
            cond = str(unexpected_flag(item))
            if cond.startswith("Column<'") and cond.endswith("'>"):
                cond = cond[len("Column<'") : -len("'>")]
            # str(Column) is Spark's debug render, not guaranteed SQL —
            # UDF-backed flags / lambda exprs render non-parseable text.
            # Emit the query only when F.expr accepts it (syntax check is
            # eager in the JVM parser); best-effort field, omit otherwise.
            try:
                F.expr(cond)
                unexpected_index_query = f"df.filter(F.expr({cond}))"
            except Exception:
                unexpected_index_query = None
        out = format_map_output(
            rf,
            success=success,
            element_count=element_count,
            nonnull_count=nonnull_for_format,
            unexpected_count=unexpected_count,
            unexpected_list=sample.get(
                "unexpected_list",
                [] if rf["result_format"] != "BOOLEAN_ONLY" else None,
            ),
            unexpected_index_list=sample.get("unexpected_index_list"),
            unexpected_index_column_names=rf.get("unexpected_index_column_names"),
            unexpected_index_query=unexpected_index_query,
            unexpected_rows=sample.get(
                "unexpected_rows",
                [] if rf.get("include_unexpected_rows") else None,
            ),
        )
        return ExpectationValidationResult(
            success=bool(out["success"]),
            expectation_config=config_dict,
            result=convert_to_json_serializable(out.get("result", {})),
        )

    def _assemble_window(
        self,
        item: _PlannedItem,
        metrics: Dict[str, Any],
        rf: dict,
        config_dict: Dict[str, Any],
        sample: Optional[Dict[str, Any]] = None,
    ) -> ExpectationValidationResult:
        """Window result from the phase-A element/considered counters, the
        phase-B ``window_metric`` count and, when served, the violation
        sample."""
        element_count = int(metrics.get(item.element_alias) or 0)
        considered_count = int(
            (metrics.get(item.considered_alias) or 0)
            if item.considered_alias
            else element_count
        )
        unexpected_count = int(metrics.get(window_metric(item)) or 0)
        success = map_expectation_success(
            element_count,
            considered_count,
            unexpected_count,
            item.config.mostly,
        )
        sample = sample or {}
        index_cols = rf.get("unexpected_index_column_names")
        out = format_map_output(
            rf,
            success=success,
            element_count=element_count,
            nonnull_count=considered_count,
            unexpected_count=unexpected_count,
            unexpected_list=(
                None
                if rf["result_format"] == "BOOLEAN_ONLY"
                else sample.get("unexpected_list", [])
            ),
            unexpected_index_list=sample.get("unexpected_index_list"),
            unexpected_index_column_names=index_cols,
        )
        return ExpectationValidationResult(
            success=bool(out["success"]),
            expectation_config=config_dict,
            result=convert_to_json_serializable(out.get("result", {})),
        )

    def _assemble_aggregate(
        self,
        item: _PlannedItem,
        c: CompiledAggregate,
        df: DataFrame,
        metrics: Dict[str, Any],
        config_dict: Dict[str, Any],
        prefetched_values: Optional[Dict[str, Any]] = None,
    ) -> ExpectationValidationResult:
        values = (
            prefetched_values
            if prefetched_values is not None
            else self._aggregate_values(item, c, df, {(): metrics})[()]
        )
        if isinstance(values, Exception):
            raise values
        out = c.validate(values)
        return ExpectationValidationResult(
            success=bool(out["success"]),
            expectation_config=config_dict,
            result=convert_to_json_serializable(out.get("result", {})),
        )

    @staticmethod
    def _exception_result(
        config_dict: Dict[str, Any], exc: Exception
    ) -> ExpectationValidationResult:
        return ExpectationValidationResult(
            success=False,
            expectation_config=config_dict,
            result={},
            exception_info={
                "raised_exception": True,
                "exception_traceback": "".join(
                    traceback.format_exception(type(exc), exc, exc.__traceback__)
                ),
                "exception_message": str(exc),
            },
        )
