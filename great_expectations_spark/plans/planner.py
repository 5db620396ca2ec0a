"""SuiteValidator — compiles an ExpectationSuite against a DataFrame into a
minimal number of Spark jobs and assembles reference-shaped results.

Physical plan of ``validate(df, suite)``:

  Phase A (ONE job): a single ``df.agg(...)`` containing, for every map
    expectation, the domain/considered/unexpected conditional-sum counters,
    plus every aggregate metric (mean/stddev/quantile sketch/HLL/...), all
    gated per-expectation by its own ``row_condition`` via
    ``sum(when(domain & cond, 1))`` — so even a suite with heterogeneous
    row conditions is one scan.  This generalizes the reference's
    per-domain bundling (``sparkdf_execution_engine.py:715-793``) to the
    whole suite.  Only partial (map-side combined) aggregation shuffles a
    single tiny row per partition — no row shuffle at all.
  Phase B: window/uniqueness expectations (each needs a shuffle by key;
    two-phase hash aggregation, see operators/window_ops.py).
  Phase C: job expectations (user SQL, referential joins, drift).
  Phase D: violation samples, only when result_format > BOOLEAN_ONLY.
    FAILING map expectations: the condition-annotated projection is
    computed once, persisted, and each failing expectation takes a
    ``limit(k)`` slice (limits push into the scan).  Shared-window
    groups sample inside their phase-B job (``_fused_window_group``):
    a JVM top-k per member keeps the k smallest violating rows by the
    group's sample columns (deterministic), planned as
    ``WindowGroupLimit`` Partial before the member exchange and Final
    after it.  COMPLETE's cap (``max_complete_collect``) is above
    ``spark.sql.optimizer.windowGroupLimitThreshold``, so Spark plans
    only the Final limit: every flagged row crosses the member
    exchange, still in that one job.

Driver-side job orchestration: the phases above are *independent Spark
jobs* with a small dependency DAG (samples and aggregate followups need
phase-A counters; window samples need phase-B counters; CompiledJob
expectations need nothing).  Submitting them one at a time serializes
the driver — an Amdahl term measured at ~12 s/pass on the 25.4M-turn
scaling dataset (SCALING.md).  With ``job_concurrency > 1`` (default),
``validate`` overlaps them from a driver thread pool: phase A ∥ phase B
∥ every CompiledJob expectation, then (once phase-A metrics land)
aggregate followups ∥ window samples ∥ per-expectation map-sample
collects.  Spark's scheduler accepts concurrent job submission from
driver threads natively (the reference does the same driver-side with
``core/async_executor.py`` across *checkpoints*; here it is applied
*inside* one suite pass).  Results are assembled in suite order after
all futures resolve, so output is deterministic and exception semantics
(``catch_exceptions``) are unchanged.

Aggregate metrics are deduplicated by content-addressed key, so shared
dependencies (row_count, nonnull counts) are computed once (reference
metric-graph dedup: ``validation_graph.py:96-100``).
"""

from __future__ import annotations

import datetime
import inspect
import logging
import traceback
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Tuple, Union

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from great_expectations_spark.core.domain import (
    combine_conditions,
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

logger = logging.getLogger(__name__)

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
    items: List["_PlannedItem"], require_partitioned: bool = False
) -> Tuple[Dict[Any, List["_PlannedItem"]], List["_PlannedItem"]]:
    """Shared window-pass planning (used by both ``SuiteValidator`` and
    ``checkpoint.runner.validate_by_partition``): group CompiledWindow
    items by (window_signature, row_condition) so each group computes all
    its flags in ONE projection + ONE shuffle, and adopt uniqueness
    expectations whose key columns equal a group's (partition_by +
    order_by) spec as a duplicate flag over that same window.

    ``require_partitioned=True`` keeps global windows (empty
    partition_by) out of the groups — the grouped per-partition runner
    gives those a dedicated path, because prepending the partition column
    there IS the semantics, not a nesting no-op.

    Returns ``(groups, singles)``; adoption mutates the adopted items'
    ``flag_builder`` in place (same contract as before extraction).
    """
    groups: Dict[Any, List["_PlannedItem"]] = {}
    singles: List["_PlannedItem"] = []
    for item in items:
        c = item.compiled
        if not isinstance(c, CompiledWindow) or item.error:
            continue
        if (
            c.flag_builder is not None
            and c.window_signature is not None
            and (not require_partitioned or c.window_signature[0])
        ):
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
        # be rewritten as a duplicate flag over a shared window; other
        # flag_builder-less windows (e.g. join-strategy contiguity) keep
        # their own execute path
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
                from great_expectations_spark.operators.window_ops import (
                    uniqueness_flag_over_window,
                )

                key_cols = list(unique_keys)
                c.flag_builder = (
                    lambda kc=key_cols, p=list(partition_by), o=list(
                        order_by
                    ): uniqueness_flag_over_window(kc, p, o)
                )
                members.append(item)
                adopted = True
                break
        if not adopted:
            still_single.append(item)
    return groups, still_single


class SuiteValidator:
    """Validate an ExpectationSuite against a DataFrame in O(1) scans.

    Parameters
    ----------
    persist_for_samples: persist the condition-annotated projection before
        collecting violation samples (MEMORY_AND_DISK), mirroring the
        reference's ``persist=True`` batch flag
        (``sparkdf_execution_engine.py:210-218``).
    max_complete_collect: hard cap on COMPLETE-format collected violation
        values — the driver-collect guard at scale.
    job_concurrency: max driver threads submitting the suite's independent
        Spark jobs concurrently (see module docstring).  ``1`` restores
        strictly sequential submission.
    """

    def __init__(
        self,
        spark: Optional[SparkSession] = None,
        persist_for_samples: bool = True,
        max_complete_collect: int = 10_000,
        job_concurrency: int = 8,
    ) -> None:
        self._spark = spark
        self.persist_for_samples = persist_for_samples
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
        spark = self._spark or df.sparkSession
        rf = parse_result_format(result_format)
        eval_params = {
            **suite.evaluation_parameters,
            **(evaluation_parameters or {}),
        }

        items = self._compile(
            suite, eval_params, catch_exceptions, parameter_store
        )
        self._check_columns_exist(df, items)

        prefetched: Dict[int, Tuple[str, Any]] = {}
        if self.job_concurrency > 1 and items:
            metrics, samples = self._run_phases_concurrent(
                df, spark, items, rf, catch_exceptions, prefetched
            )
        else:
            metrics = self._run_bundled_phase_isolating(
                df, items, catch_exceptions=catch_exceptions
            )
            self._run_window_phase(
                df, items, metrics, catch_exceptions, rf, prefetched
            )
            samples = self._collect_samples(df, items, metrics, rf)

        results: List[ExpectationValidationResult] = []
        for item in items:
            results.append(
                self._assemble(
                    item,
                    df,
                    spark,
                    metrics,
                    samples,
                    rf,
                    catch_exceptions,
                    prefetched,
                )
            )

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
        spark: SparkSession,
        items: List[_PlannedItem],
        rf: dict,
        catch_exceptions: bool,
        prefetched: Dict[int, Tuple[str, Any]],
    ) -> Tuple[Dict[str, Any], Dict[int, Dict[str, Any]]]:
        """Overlap the suite's independent Spark jobs from driver threads.

        Wave 1 (no dependencies): bundled agg ∥ window phase ∥ every
        CompiledJob expectation.  Wave 2 (needs phase-A/B counters):
        aggregate followups / domain-scoped aggregates ∥ window violation
        samples ∥ map violation samples.  Futures capture ('ok', value) or
        ('err', exc) into ``prefetched`` keyed by ``id(item)``; assembly
        replays them in suite order with unchanged exception semantics.
        """

        def guarded(fn, *a, **kw):
            try:
                return ("ok", fn(*a, **kw))
            except Exception as exc:  # noqa: BLE001 — replayed at assembly
                return ("err", exc)

        with ThreadPoolExecutor(max_workers=self.job_concurrency) as pool:
            fut_bundle = pool.submit(
                self._run_bundled_phase_isolating,
                df,
                items,
                None,
                catch_exceptions,
            )
            window_metrics: Dict[str, Any] = {}
            # the window phase writes fused counts+samples into
            # ``prefetched`` from its worker thread; the main thread only
            # touches ``prefetched`` after fut_window is joined below
            fut_window = pool.submit(
                self._run_window_phase,
                df,
                items,
                window_metrics,
                catch_exceptions,
                rf,
                prefetched,
            )
            job_futs = {
                id(item): pool.submit(
                    guarded,
                    self._run_job_item,
                    item.compiled,
                    df,
                    spark,
                    item.domain,
                    rf,
                )
                for item in items
                if item.error is None and isinstance(item.compiled, CompiledJob)
            }

            # phase A/B gates: bundled-agg and window failures propagate
            # exactly as in the sequential path (phase B already honors
            # catch_exceptions internally via per-item error marking)
            metrics = fut_bundle.result()
            fut_window.result()
            metrics.update(window_metrics)

            agg_futs = {
                id(item): pool.submit(
                    guarded,
                    self._aggregate_values,
                    item,
                    item.compiled,
                    df,
                    metrics,
                )
                for item in items
                if item.error is None
                and isinstance(item.compiled, CompiledAggregate)
                and (
                    item.compiled.followup is not None
                    or (item.domain is not None and not item.agg_aliases)
                )
            }
            wsample_futs = {}
            if rf["result_format"] != "BOOLEAN_ONLY":
                limit = (
                    self.max_complete_collect
                    if rf["result_format"] == "COMPLETE"
                    else rf["partial_unexpected_count"]
                )
                index_cols = rf.get("unexpected_index_column_names")
                # shared-window members were served counts AND samples by
                # the fused wave-1 window job (already in ``prefetched``);
                # everything still unserved keeps a dedicated sample job
                for item in items:
                    c = item.compiled
                    if (
                        item.error is None
                        and isinstance(c, CompiledWindow)
                        and id(item) not in prefetched
                        and int(
                            metrics.get(f"window_unexpected::{id(item)}") or 0
                        )
                        > 0
                    ):
                        wsample_futs[id(item)] = pool.submit(
                            guarded, c.sample, df, item.domain, limit, index_cols
                        )

            samples = self._collect_samples(df, items, metrics, rf, pool=pool)

            for key, fut in job_futs.items():
                prefetched[key] = ("job",) + fut.result()
            for key, fut in agg_futs.items():
                prefetched[key] = ("agg",) + fut.result()
            for key, fut in wsample_futs.items():
                prefetched[key] = ("wsample",) + fut.result()
        return metrics, samples

    def _run_job_item(
        self,
        c: CompiledJob,
        df: DataFrame,
        spark: SparkSession,
        domain: Optional[Column],
        rf: dict,
    ) -> Dict[str, Any]:
        sig = inspect.signature(c.run)
        if "result_format" in sig.parameters:
            return c.run(df, spark, domain, result_format=rf)
        return c.run(df, spark, domain)

    def _aggregate_values(
        self,
        item: _PlannedItem,
        c: CompiledAggregate,
        df: DataFrame,
        metrics: Dict[str, Any],
    ) -> Dict[str, Any]:
        if item.domain is not None and not item.agg_aliases:
            # domain-scoped aggregate: dedicated filtered bundle
            scoped = df.filter(domain_gate(item.domain))
            aliases = {k: f"a{i}" for i, k in enumerate(c.agg_exprs)}
            row = scoped.agg(
                *[col.alias(aliases[k]) for k, col in c.agg_exprs.items()]
            ).first()
            values = {k: row[a] for k, a in aliases.items()}
        else:
            scoped = df
            values = {
                k: metrics.get(alias) for k, alias in item.agg_aliases.items()
            }
        if c.followup is not None:
            values.update(c.followup(scoped, values))
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
        available = set(table_ops.flattened_column_types(df.schema))
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
            missing = [col for col in referenced if col not in available]
            if missing:
                item.error = KeyError(
                    f"column(s) {missing} not found in batch; available: "
                    f"{sorted(available)}"
                )
                continue
            checker = getattr(c, "type_check", None)
            if checker is not None and referenced:
                from great_expectations_spark.operators.table_ops import (
                    flattened_column_types,
                )

                types = flattened_column_types(df.schema)
                try:
                    for col in referenced:
                        checker(types[col])
                except Exception as exc:  # noqa: BLE001
                    item.error = exc
                    continue
            required = getattr(c, "required_column_types", None)
            if required and referenced:
                from great_expectations_spark.operators.table_ops import (
                    flattened_column_types,
                )

                types = flattened_column_types(df.schema)
                for col in referenced:
                    if not isinstance(types[col], required):
                        item.error = TypeError(
                            f"{item.config.expectation_type} requires column "
                            f"type {required}, got {type(types[col]).__name__} "
                            f"for {col!r}"
                        )
                        break

    def _run_bundled_phase_isolating(
        self,
        df: DataFrame,
        items: List[_PlannedItem],
        group_by: Optional[str] = None,
        catch_exceptions: bool = True,
    ) -> Dict[str, Any]:
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
        merged: Dict[str, Any] = {}
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
            if group_by is None:
                merged.update(solo)
            else:
                for part, vals in solo.items():
                    merged.setdefault(part, {}).update(vals)
        return merged

    def _run_bundled_phase(
        self,
        df: DataFrame,
        items: List[_PlannedItem],
        group_by: Optional[str] = None,
        alias_prefix: str = "",
    ) -> Dict[str, Any]:
        """Build and run the single bundled agg; returns alias -> value.

        With ``group_by`` set, runs ONE ``groupBy(partition_col).agg(...)``
        and returns {partition_value: {alias: value}} — every partition's
        whole-suite counters in a single scan + tiny shuffle (the per-
        partition scale path the reference does with a driver loop).
        ``alias_prefix`` namespaces the metric aliases so the isolation
        fallback's per-item runs can merge into one dict without
        colliding on ``m0``."""
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
            gate = domain_gate(item.domain) if item.domain is not None else F.lit(True)
            domain_key = str(item.config.kwargs.get("row_condition") or "ALL")

            if isinstance(c, CompiledMap):
                item.element_alias = add(
                    f"element::{domain_key}",
                    F.sum(F.when(gate, 1).otherwise(0)),
                )
                considered = gate & domain_gate(c.considered)
                item.considered_alias = add(
                    f"considered::{domain_key}::{c.considered}",
                    F.sum(F.when(considered, 1).otherwise(0)),
                )
                unexpected = considered & domain_gate(c.unexpected)
                item.unexpected_alias = add(
                    f"unexpected::{domain_key}::{c.considered}::{c.unexpected}",
                    F.sum(F.when(unexpected, 1).otherwise(0)),
                )
            elif isinstance(c, CompiledWindow):
                item.element_alias = add(
                    f"element::{domain_key}",
                    F.sum(F.when(gate, 1).otherwise(0)),
                )
                if c.considered is not None:
                    considered = gate & domain_gate(c.considered)
                    item.considered_alias = add(
                        f"considered::{domain_key}::{c.considered}",
                        F.sum(F.when(considered, 1).otherwise(0)),
                    )
            elif isinstance(c, CompiledAggregate):
                if item.domain is not None:
                    # rare path: aggregate over a row_condition domain —
                    # falls back to a dedicated filtered agg in _assemble
                    continue
                for key, col in c.agg_exprs.items():
                    item.agg_aliases[key] = add(f"agg::{key}", col)

        if not exprs:
            return {}
        if group_by is None:
            row = df.agg(*exprs).first()
            return {alias: row[alias] for alias in alias_by_key.values()}
        rows = df.groupBy(group_by).agg(*exprs).collect()
        return {
            row[group_by]: {
                alias: row[alias] for alias in alias_by_key.values()
            }
            for row in rows
        }

    def _run_window_phase(
        self,
        df: DataFrame,
        items: List[_PlannedItem],
        metrics: Dict[str, Any],
        catch_exceptions: bool,
        rf: Optional[dict] = None,
        prefetched: Optional[Dict[int, Tuple[str, str, Any]]] = None,
    ) -> None:
        """Window expectations sharing a (partition_by, order_by) spec and
        domain evaluate together: ONE select computes every flag column,
        ONE agg sums them — one shuffle for the whole group (e.g. the
        transcript suite's ts-monotonicity + turn-contiguity share the
        (conv_id, turn_idx) window).

        When ``rf``/``prefetched`` are passed (any non-BOOLEAN_ONLY
        format), the group's violation SAMPLES ride the same job as the
        counts (``_fused_window_group``): the count sums become
        observation metrics on the flag projection, so the window
        shuffle is paid exactly once per group instead of once for the
        counts plus once for the pooled sample job."""
        groups, singles = plan_window_groups(items)

        for members in groups.values():
            if (
                rf is not None
                and prefetched is not None
                and rf["result_format"] != "BOOLEAN_ONLY"
                and self._fused_window_group(
                    df, members, metrics, rf, prefetched
                )
            ):
                continue
            try:
                scoped = df
                if members[0].domain is not None:
                    scoped = scoped.filter(domain_gate(members[0].domain))
                # window expressions can't sit inside agg — project the
                # flags first, then sum
                flagged = scoped.select(
                    *[
                        domain_gate(m.compiled.flag_builder()).alias(f"f{i}")
                        for i, m in enumerate(members)
                    ]
                )
                row = flagged.agg(
                    *[
                        F.coalesce(
                            F.sum(F.when(F.col(f"f{i}"), 1).otherwise(0)),
                            F.lit(0),
                        ).alias(f"w{i}")
                        for i in range(len(members))
                    ]
                ).first()
                for i, m in enumerate(members):
                    metrics[f"window_unexpected::{id(m)}"] = int(row[f"w{i}"])
            except Exception as exc:
                if not catch_exceptions:
                    raise
                for m in members:
                    m.error = exc

        for item in singles:
            try:
                out = item.compiled.execute(df, item.domain)
                metrics[f"window_unexpected::{id(item)}"] = out["unexpected_count"]
            except Exception as exc:
                if not catch_exceptions:
                    raise
                item.error = exc

    def _fused_window_group(
        self,
        df: DataFrame,
        members: List[_PlannedItem],
        metrics: Dict[str, Any],
        rf: dict,
        prefetched: Dict[int, Tuple[str, str, Any]],
    ) -> bool:
        """ONE job per shared-window group serves the violation COUNTS and
        every poolable member's violation sample.

        The count sums ride the flag projection as ``Observation``
        metrics (a JVM ``CollectMetrics`` node sees every projected row
        before the violation filter), so the sample job IS the count
        job: the group's window shuffle is computed exactly once.
        Before this fold, counts paid one projection+agg job and the
        pooled samples re-ran the identical window shuffle a second
        time (round-3 phase_profile: the recompute was ~45 s at 1x1 /
        ~12 s at 4x1 on the 24.69M-turn corpus).

        Sample bounding is a JVM top-k per member, in the same job: each
        flagged row explodes into the indices of the poolable members
        whose flag it carries, and ``row_number() over (partition by
        member order by <sample columns>) <= limit`` keeps each member's
        ``limit`` smallest rows by the group's sample columns.  Spark
        plans that filter as ``WindowGroupLimit`` — a ``Partial`` node
        before the exchange and a ``Final`` one after it — so the
        shuffle carries at most ``limit`` rows per member per task and
        the driver collects at most ``limit * len(members)``.  No Python
        worker starts, a member can never be starved by a denser one,
        and the sample is deterministic: the same rows at any shuffle
        partition count or job concurrency.

        Spark infers the partial limit only up to
        ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000).
        Above it — COMPLETE's ``max_complete_collect`` — only the Final
        limit remains: every flagged row crosses the member exchange,
        which is still less than the full-table window shuffle one
        dedicated sample job per failing member would pay.

        Returns False — caller falls back to the count-only agg and
        dedicated sample jobs — if the fused machinery fails for any
        reason; counts must never depend on the sample path.
        """
        try:
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
            poolable = [
                (i, fn, m)
                for i, (fn, m) in enumerate(zip(flag_names, members))
                if m.compiled.pool_sample is not None
                and m.compiled.sample_columns is not None
            ]
            if not poolable:
                # nothing to sample: a plain count agg is the same single
                # job with less machinery
                return False
            cols: List[str] = []
            for _, _, m in poolable:
                for c in m.compiled.sample_columns(index_cols):
                    if c not in cols:
                        cols.append(c)
            obs = Observation()
            proj = scoped.select(
                *[F.col(c) for c in cols],
                *[
                    domain_gate(m.compiled.flag_builder()).alias(fn)
                    for fn, m in zip(flag_names, members)
                ],
            ).observe(
                obs,
                *[
                    F.coalesce(
                        F.sum(F.when(F.col(fn), 1).otherwise(0)), F.lit(0)
                    ).alias(fn)
                    for fn in flag_names
                ],
            )
            any_flag = F.col(poolable[0][1])
            for _, fn, _ in poolable[1:]:
                any_flag = any_flag | F.col(fn)
            # one output row per (flagged row, member whose flag it
            # carries); the member index partitions the top-k window
            member = F.explode(
                F.filter(
                    F.array(
                        *[F.when(F.col(fn), F.lit(i)) for i, fn, _ in poolable]
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("__gx_m")
            rank = F.row_number().over(
                Window.partitionBy("__gx_m").orderBy(*cols)
            )
            top = (
                proj.filter(any_flag)
                .select(*cols, member)
                .select("*", rank.alias("__gx_rn"))
                .filter(F.col("__gx_rn") <= limit)
            )
            rows = sorted(
                (r.asDict() for r in top.collect()),
                key=lambda r: (r["__gx_m"], r["__gx_rn"]),
            )
            vals = obs.get  # complete: the map-side sort consumed every row
            for fn, m in zip(flag_names, members):
                metrics[f"window_unexpected::{id(m)}"] = int(vals[fn] or 0)
            for i, _, m in poolable:
                if not metrics[f"window_unexpected::{id(m)}"]:
                    continue  # passing members need no sample
                try:
                    mine = [r for r in rows if r["__gx_m"] == i]
                    prefetched[id(m)] = (
                        "wsample",
                        "ok",
                        m.compiled.pool_sample(mine, index_cols),
                    )
                except Exception:  # noqa: BLE001 — dedicated job at assembly
                    logger.warning(
                        "fused pool_sample failed for %s; dedicated sample "
                        "job at assembly",
                        m.config.expectation_type,
                        exc_info=True,
                    )
            return True
        except Exception as exc:  # noqa: BLE001 — fold is an optimization
            logger.warning(
                "fused window counts+samples failed (%s); falling back to "
                "the count-only agg + dedicated per-expectation sample jobs",
                exc,
            )
            return False

    # ------------------------------------------------------------------

    def _collect_samples(
        self,
        df: DataFrame,
        items: List[_PlannedItem],
        metrics: Dict[str, Any],
        rf: dict,
        pool: Optional[ThreadPoolExecutor] = None,
    ) -> Dict[int, Dict[str, Any]]:
        """Phase D: violation samples for failing map expectations."""
        if rf["result_format"] == "BOOLEAN_ONLY":
            return {}

        index_cols = rf.get("unexpected_index_column_names") or []
        needing: List[Tuple[_PlannedItem, str]] = []
        flag_cols: List[Column] = []
        value_cols: List[Column] = []
        for i, item in enumerate(items):
            c = item.compiled
            if not isinstance(c, CompiledMap) or item.error:
                continue
            ucount = metrics.get(item.unexpected_alias or "", 0) or 0
            if not ucount:
                continue
            gate = domain_gate(item.domain) if item.domain is not None else F.lit(True)
            flag = gate & domain_gate(c.considered) & domain_gate(c.unexpected)
            flag_name = f"__gx_flag_{i}"
            value_name = f"__gx_val_{i}"
            flag_cols.append(flag.alias(flag_name))
            value_cols.append(
                (c.value_expr if c.value_expr is not None else F.lit(None)).alias(
                    value_name
                )
            )
            needing.append((item, str(i)))

        if not needing:
            return {}

        include_rows = bool(rf.get("include_unexpected_rows"))
        if include_rows:
            # full original rows must survive the projection so violating
            # records can be returned verbatim (reference
            # map_condition_auxilliary_methods.py:664-694)
            projected = df.select(F.col("*"), *value_cols, *flag_cols)
        else:
            projected = df.select(
                *[F.col(c) for c in index_cols], *value_cols, *flag_cols
            )
        persisted = False
        if self.persist_for_samples and len(needing) > 1:
            projected = projected.persist(StorageLevel.MEMORY_AND_DISK)
            persisted = True
        def collect_one(item: _PlannedItem, idx: str) -> Dict[str, Any]:
            c = item.compiled
            assert isinstance(c, CompiledMap)
            if rf["result_format"] == "COMPLETE":
                limit = self.max_complete_collect
            else:
                limit = rf["partial_unexpected_count"]
            row_cols = list(df.columns) if include_rows else []
            # row_cols already cover the index columns when present
            keep = row_cols if include_rows else list(index_cols)
            rows = (
                projected.filter(F.col(f"__gx_flag_{idx}"))
                .select(f"__gx_val_{idx}", *keep)
                .limit(limit)  # reference :774 builds but DISCARDS this
                .collect()     # limit — applied for real here
            )
            values: List[Any] = []
            for r in rows:
                v = r[f"__gx_val_{idx}"]
                if c.value_is_dict and v is not None:
                    v = v.asDict()
                elif hasattr(v, "asDict"):
                    v = tuple(v.asDict().values())
                values.append(v)
            entry: Dict[str, Any] = {"unexpected_list": values}
            if index_cols:
                entry["unexpected_index_list"] = [
                    {ic: r[ic] for ic in index_cols} for r in rows
                ]
            if include_rows:
                entry["unexpected_rows"] = [
                    {rc: r[rc] for rc in row_cols} for r in rows
                ]
            return entry

        samples: Dict[int, Dict[str, Any]] = {}
        try:
            if pool is not None and len(needing) > 1:
                # concurrent limit-collects on the persisted projection may
                # race to compute the same partition (bounded duplicate
                # work, cache stays coherent); NOT pre-materialized — that
                # would force a full scan where limits prune to a few
                # partitions
                futs = [
                    (item, pool.submit(collect_one, item, idx))
                    for item, idx in needing
                ]
                for item, fut in futs:
                    samples[id(item)] = fut.result()
            else:
                for item, idx in needing:
                    samples[id(item)] = collect_one(item, idx)
        finally:
            if persisted:
                projected.unpersist()
        return samples

    # ------------------------------------------------------------------

    def _assemble(
        self,
        item: _PlannedItem,
        df: DataFrame,
        spark: SparkSession,
        metrics: Dict[str, Any],
        samples: Dict[int, Dict[str, Any]],
        rf: dict,
        catch_exceptions: bool,
        prefetched: Optional[Dict[int, Tuple[str, Any]]] = None,
    ) -> ExpectationValidationResult:
        config_dict = item.config.to_json_dict()
        if item.error is not None:
            # reference contract: with catch_exceptions off, a marked
            # item (missing column, compile failure, poisoned bundle
            # expression) propagates instead of quietly becoming an EVR
            if not catch_exceptions:
                raise item.error
            return self._exception_result(config_dict, item.error)
        c = item.compiled
        pre = (prefetched or {}).get(id(item))
        try:
            if pre is not None and pre[1] == "err":
                raise pre[2]
            if isinstance(c, CompiledMap):
                return self._assemble_map(item, c, metrics, samples, rf, config_dict)
            if isinstance(c, CompiledWindow):
                return self._assemble_window(
                    item,
                    c,
                    df,
                    metrics,
                    rf,
                    config_dict,
                    pre[2] if pre is not None and pre[0] == "wsample" else None,
                )
            if isinstance(c, CompiledAggregate):
                return self._assemble_aggregate(
                    item,
                    c,
                    df,
                    metrics,
                    config_dict,
                    pre[2] if pre is not None and pre[0] == "agg" else None,
                )
            if isinstance(c, CompiledSchemaCheck):
                out = c.validate(df)
                return ExpectationValidationResult(
                    success=bool(out["success"]),
                    expectation_config=config_dict,
                    result=convert_to_json_serializable(out.get("result", {})),
                )
            if isinstance(c, CompiledJob):
                if pre is not None and pre[0] == "job":
                    out = pre[2]
                else:
                    out = self._run_job_item(c, df, spark, item.domain, rf)
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

    def _assemble_map(
        self,
        item: _PlannedItem,
        c: CompiledMap,
        metrics: Dict[str, Any],
        samples: Dict[int, Dict[str, Any]],
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

        sample = samples.get(id(item), {})
        unexpected_index_query: Optional[str] = None
        if rf["result_format"] == "COMPLETE" and rf.get(
            "return_unexpected_index_query", True
        ) is not False:
            # reference map_condition_auxilliary_methods.py:785-824: render
            # the violation condition as a df.filter(F.expr(...)) string
            gate = (
                domain_gate(item.domain)
                if item.domain is not None
                else F.lit(True)
            )
            flag = gate & domain_gate(c.considered) & domain_gate(c.unexpected)
            cond = str(flag)
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
        c: CompiledWindow,
        df: DataFrame,
        metrics: Dict[str, Any],
        rf: dict,
        config_dict: Dict[str, Any],
        prefetched_sample: Optional[Any] = None,
    ) -> ExpectationValidationResult:
        element_count = int(metrics.get(item.element_alias) or 0)
        considered_count = int(
            (metrics.get(item.considered_alias) or 0)
            if item.considered_alias
            else element_count
        )
        unexpected_count = int(metrics.get(f"window_unexpected::{id(item)}") or 0)
        mostly = item.config.mostly
        success = map_expectation_success(
            element_count, considered_count, unexpected_count, mostly
        )
        unexpected_list: Optional[List[Any]] = None
        unexpected_index_list: Optional[List[Any]] = None
        index_cols = rf.get("unexpected_index_column_names")
        if rf["result_format"] != "BOOLEAN_ONLY":
            if unexpected_count:
                limit = (
                    self.max_complete_collect
                    if rf["result_format"] == "COMPLETE"
                    else rf["partial_unexpected_count"]
                )
                sample = (
                    prefetched_sample
                    if prefetched_sample is not None
                    else c.sample(df, item.domain, limit, index_cols)
                )
                if isinstance(sample, dict):
                    unexpected_list = sample.get("unexpected_list", [])
                    unexpected_index_list = sample.get("unexpected_index_list")
                else:  # legacy list return
                    unexpected_list = sample
            else:
                unexpected_list = []
        out = format_map_output(
            rf,
            success=success,
            element_count=element_count,
            nonnull_count=considered_count,
            unexpected_count=unexpected_count,
            unexpected_list=unexpected_list,
            unexpected_index_list=unexpected_index_list,
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
            else self._aggregate_values(item, c, df, metrics)
        )
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
