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
    partitioned by ``[*group_by, *partition_by]``, and takes every
    member's count and violation sample (``_fused_window_group``) — at
    BOOLEAN_ONLY too, so there is one window plan for every format.  Set
    windows (uniqueness, join-strategy contiguity) run one two-phase hash
    aggregation each (``set_window_counts``): their ``violations`` frame,
    grouped by ``[*group_by, *keys]``, weighted, and its weights summed
    per group.
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
    one top-k sample job for every group (``_set_window_samples``); when
    index or row columns are asked for, its violating keys join back to
    the batch rows first.  COMPLETE's cap (``max_complete_collect``) is
    above ``spark.sql.optimizer.windowGroupLimitThreshold``, so Spark
    plans only the Final limit there.  One formatter, ``sample_entry``,
    turns every family's top-k rows into ``unexpected_list``,
    ``unexpected_index_list`` (the requested
    ``unexpected_index_column_names``) and ``unexpected_rows`` (with
    ``include_unexpected_rows``), so those options mean the same for map,
    flag-window and set-window expectations.

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
import itertools
import traceback
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple, Union

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
    convert_to_json_serializable,
    suite_result,
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
    group_key,
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
    ``flag_builder`` in place.  ``set_windows`` are the items counted
    from their ``violations`` frame.
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
        # only uniqueness may be rewritten as a duplicate flag over a
        # shared window; join-strategy contiguity keeps its pair frame
        if not c.uniqueness:
            still_single.append(item)
            continue
        unique_keys = c.value_columns
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


def set_window_counts(
    item: "_PlannedItem", df: DataFrame, group_by: Sequence[str] = ()
) -> Dict[tuple, int]:
    """A set window's unexpected count per group key: its ``violations``
    weights summed over ``group_by`` — with the ``groupBy(*group_by,
    *keys)`` inside ``violations``, a two-phase hash aggregation."""
    rows = (
        item.compiled.violations(df, item.domain, group_by)
        .groupBy(*group_by)
        .agg(F.coalesce(F.sum("__gx_w"), F.lit(0)).alias("__gx_u"))
        .collect()
    )
    return {group_key(r, group_by): int(r["__gx_u"]) for r in rows}


def sample_entry(
    rows: List[Dict[str, Any]],
    value_of: Callable[[Dict[str, Any]], Any],
    limit: int,
    index_cols: Sequence[str],
    row_cols: Sequence[str],
) -> Dict[str, Any]:
    """The one violation-sample formatter of every row-level expectation:
    from the top-k row dicts of one (group, expectation), in rank order,
    the first ``limit`` violations' ``unexpected_list`` entries
    (``value_of``), and when asked their ``unexpected_index_list`` dicts
    and ``unexpected_rows``.  A row weighted ``__gx_w`` (a set window's
    duplicated key) stands for that many violations."""
    rows = list(
        itertools.islice(
            (r for r in rows for _ in range(r.get("__gx_w", 1))), limit
        )
    )
    entry: Dict[str, Any] = {"unexpected_list": [value_of(r) for r in rows]}
    if index_cols:
        entry["unexpected_index_list"] = [
            {c: r[c] for c in index_cols} for r in rows
        ]
    if row_cols:
        entry["unexpected_rows"] = [{c: r[c] for c in row_cols} for r in rows]
    return entry


def _map_value(column: str, value_is_dict: bool):
    """``value_of`` of a map expectation whose value rides as ``column``:
    a multicolumn struct becomes a dict, any other struct a tuple."""

    def value_of(r: Dict[str, Any]) -> Any:
        v = r[column]
        if value_is_dict and v is not None:
            return v.asDict()
        return tuple(v.asDict().values()) if hasattr(v, "asDict") else v

    return value_of


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

        return suite_result(
            suite.expectation_suite_name,
            results,
            eval_params,
            run_id or str(uuid.uuid4()),
            started,
            datetime.datetime.now(datetime.timezone.utc),
            batch_meta,
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
                            guarded, self._set_window_samples, item, df, rf,
                            group_by,
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
        turn_idx) window) — and serves every member's count and violation
        sample at every result format (``_fused_window_group``).  Counts
        land in ``metrics`` per group key.  A failing group job marks
        every member's ``error`` (or raises without
        ``catch_exceptions``).  Set windows sum their ``violations``
        weights (``set_window_counts``)."""
        groups, set_windows = plan_window_groups(items)

        for members in groups.values():
            try:
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
                counts = set_window_counts(item, df, group_by)
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
        narrowed to the sample columns: every member's value columns,
        then the requested index or row columns.  BOOLEAN_ONLY runs the
        same job (its samples go unused), so ``warm_up`` compiles the
        plan the other formats run."""
        limit, index_cols, row_cols = self._sample_spec(df, rf)
        scoped = df
        if members[0].domain is not None:
            scoped = scoped.filter(domain_gate(members[0].domain))
        flag_names = [f"__gx_pf{i}" for i in range(len(members))]
        cols = list(
            dict.fromkeys(
                [
                    *group_by,
                    *(c for m in members for c in m.compiled.value_columns),
                    *(row_cols or index_cols),
                ]
            )
        )
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
            # one row per (group, member) at least, to carry its count
            max(limit, 1),
            count=True,
        )
        for key, rows in top.items():
            group, m = key[:-1], members[key[-1]]
            metrics.setdefault(group, {})[window_metric(m)] = int(
                rows[0]["__gx_n"]
            )
            prefetched.setdefault(group, {})[id(m)] = sample_entry(
                rows, m.compiled.value_of, limit, index_cols, row_cols
            )

    def _set_window_samples(
        self,
        item: _PlannedItem,
        df: DataFrame,
        rf: dict,
        group_by: Sequence[str] = (),
    ) -> Dict[tuple, Dict[str, Any]]:
        """A set window's violation sample per group key, in ONE top-k
        job (``window_ops.top_k``): each group's smallest ``violations``
        rows, a duplicated key standing for its rows.  With index or row
        columns the violating keys join back to the batch rows
        (null-safe, so the NULL partition keeps its rows), a key weighted
        ``w`` standing for its ``w`` smallest rows (all rows of a
        duplicated key, one row of a missing contiguity pair), and the
        sample is each group's smallest of them, as for every other
        row-level expectation."""
        c = item.compiled
        limit, index_cols, row_cols = self._sample_spec(df, rf)
        frame = c.violations(df, item.domain, group_by)
        if index_cols or row_cols:
            keys = list(dict.fromkeys([*group_by, *c.value_columns]))
            aliases = [f"__gx_k{i}" for i in range(len(keys))]
            violating = F.broadcast(
                frame.select(
                    *[F.col(k).alias(a) for k, a in zip(keys, aliases)],
                    "__gx_w",
                )
            )
            on = [F.col(k).eqNullSafe(F.col(a)) for k, a in zip(keys, aliases)]
            cols = list(dict.fromkeys([*keys, *(row_cols or index_cols)]))
            batch_rows = (
                df.filter(considered_flag(item))
                .join(violating, on)
                .select(*cols, *aliases, "__gx_w")
            )
            frame = window_ops.ranked(
                batch_rows, aliases, F.col("__gx_w")
            ).select(*cols)
        return {
            key: sample_entry(rows, c.value_of, limit, index_cols, row_cols)
            for key, rows in window_ops.top_k(frame, group_by, limit).items()
        }

    def _sample_spec(
        self, df: DataFrame, rf: dict
    ) -> Tuple[int, List[str], List[str]]:
        """``(limit, index_cols, row_cols)`` of the violation samples
        ``rf`` asks for: at most ``max_complete_collect`` rows at
        COMPLETE, else ``partial_unexpected_count``; the
        ``unexpected_index_column_names``; and every batch column with
        ``include_unexpected_rows`` (reference
        map_condition_auxilliary_methods.py:664-694)."""
        limit = (
            self.max_complete_collect
            if rf["result_format"] == "COMPLETE"
            else rf["partial_unexpected_count"]
        )
        index_cols = list(rf.get("unexpected_index_column_names") or [])
        row_cols = list(df.columns) if rf.get("include_unexpected_rows") else []
        return limit, index_cols, row_cols

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

        limit, index_cols, row_cols = self._sample_spec(df, rf)
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
            value_of = _map_value(values[i], needing[i].compiled.value_is_dict)
            samples.setdefault(key[:-1], {})[id(needing[i])] = sample_entry(
                rows, value_of, limit, index_cols, row_cols
            )
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
            if isinstance(c, (CompiledMap, CompiledWindow)):
                return self._assemble_row_level(
                    item, c, metrics, pre, rf, config_dict
                )
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

    def _assemble_row_level(
        self,
        item: _PlannedItem,
        c: Union[CompiledMap, CompiledWindow],
        metrics: Dict[str, Any],
        sample: Optional[Dict[str, Any]],
        rf: dict,
        config_dict: Dict[str, Any],
    ) -> ExpectationValidationResult:
        """A map or window result from one group's counters — phase A's
        element and considered counts, and phase A's unexpected count
        (map) or phase B's ``window_metric`` (window) — and, when served,
        its violation sample (``sample_entry``)."""
        is_map = isinstance(c, CompiledMap)
        element_count = int(metrics.get(item.element_alias) or 0)
        considered_count = int(metrics.get(item.considered_alias) or 0)
        unexpected_count = int(
            metrics.get(item.unexpected_alias if is_map else window_metric(item))
            or 0
        )
        mostly = item.config.mostly

        if is_map and c.denominator == "element":
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
        if is_map and rf["result_format"] == "COMPLETE" and rf.get(
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
