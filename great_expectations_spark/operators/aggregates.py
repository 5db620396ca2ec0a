"""Aggregate-metric expectations.

Every metric here is an unevaluated Spark aggregate Column; the planner
bundles ALL of them (plus every map-condition counter) into ONE
``df.agg(...)`` job — the re-implementation of the reference's bundling
optimization (``sparkdf_execution_engine.py:715-793``) generalized to the
whole suite.

Metric keys are content-addressed (name + column + value kwargs) so two
expectations over the same metric share one aggregate (reference metric
dedup: ``validation_graph.py:96-100``).

Scale notes: quantiles use ``percentile_approx`` (mergeable GK/KLL-style
sketch inside Spark) unless ``exact=True``; distinct counts use
``approx_count_distinct`` (HLL) when ``approximate=True`` — the 10^12-row
defaults.  ``collect_set`` based checks guard against high cardinality with
a configurable cap.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from great_expectations_spark.core.result_format import (
    validate_metric_value_between,
)
from great_expectations_spark.plans.specs import (
    CompiledAggregate,
    group_filter,
    group_key,
)

AGG_COMPILERS: Dict[str, Callable[[Dict[str, Any]], CompiledAggregate]] = {}

DISTINCT_COLLECT_CAP = 100_000


def register_agg(name: str):
    def deco(fn):
        AGG_COMPILERS[name] = fn
        return fn

    return deco


def metric_key(name: str, column: Optional[str], **value_kwargs: Any) -> str:
    suffix = (
        ""
        if not value_kwargs
        else ":" + json.dumps(value_kwargs, sort_keys=True, default=str)
    )
    return f"{name}({column}){suffix}" if column else f"{name}{suffix}"


def _between_aggregate(
    kwargs: Dict[str, Any],
    key: str,
    expr: Column,
    integer_bounds: bool = False,
    allow_both_none: bool = True,
) -> CompiledAggregate:
    min_value, max_value = kwargs.get("min_value"), kwargs.get("max_value")
    if min_value is None and max_value is None and not allow_both_none:
        # parity quirk: only some reference expectations (sum) raise here;
        # the rest are vacuously true with unbounded ranges
        raise ValueError("min_value and max_value cannot both be None")
    if integer_bounds:
        for name, v in (("min_value", min_value), ("max_value", max_value)):
            if v is not None and (
                isinstance(v, bool) or not isinstance(v, int)
            ):
                raise ValueError(f"{name} and max_value must be integers")
        if (
            min_value is not None
            and max_value is not None
            and min_value > max_value
        ):
            raise ValueError(
                "Minimum Threshold cannot be larger than Maximum Threshold"
            )

    def validate(metrics: Dict[str, Any]) -> Dict[str, Any]:
        return validate_metric_value_between(
            metrics.get(key),
            kwargs.get("min_value"),
            kwargs.get("max_value"),
            bool(kwargs.get("strict_min", False)),
            bool(kwargs.get("strict_max", False)),
        )

    return CompiledAggregate(agg_exprs={key: expr}, validate=validate)


# --- simple column aggregates (ref: column_aggregate_metrics/*.py) --------


@register_agg("expect_column_mean_to_be_between")
def _mean_between(kwargs: Dict[str, Any]) -> CompiledAggregate:
    column = kwargs["column"]
    key = metric_key("column.mean", column)
    return _between_aggregate(kwargs, key, F.mean(F.col(column)))


@register_agg("expect_column_stdev_to_be_between")
def _stdev_between(kwargs: Dict[str, Any]) -> CompiledAggregate:
    column = kwargs["column"]
    key = metric_key("column.standard_deviation", column)
    return _between_aggregate(kwargs, key, F.stddev_samp(F.col(column)))


@register_agg("expect_column_sum_to_be_between")
def _sum_between(kwargs: Dict[str, Any]) -> CompiledAggregate:
    column = kwargs["column"]
    key = metric_key("column.sum", column)
    return _between_aggregate(
        kwargs, key, F.sum(F.col(column)), allow_both_none=False
    )


@register_agg("expect_column_min_to_be_between")
def _min_between(kwargs: Dict[str, Any]) -> CompiledAggregate:
    column = kwargs["column"]
    key = metric_key("column.min", column)
    return _between_aggregate(
        kwargs, key, F.min(F.col(column)), allow_both_none=False
    )


@register_agg("expect_column_max_to_be_between")
def _max_between(kwargs: Dict[str, Any]) -> CompiledAggregate:
    column = kwargs["column"]
    key = metric_key("column.max", column)
    return _between_aggregate(
        kwargs, key, F.max(F.col(column)), allow_both_none=False
    )


@register_agg("expect_column_median_to_be_between")
def _median_between(kwargs: Dict[str, Any]) -> CompiledAggregate:
    column = kwargs["column"]
    if kwargs.get("approximate"):
        accuracy = int(kwargs.get("accuracy", 10_000))
        key = metric_key("column.median.approx", column, accuracy=accuracy)
        expr = F.percentile_approx(F.col(column), 0.5, accuracy)
    else:
        # exact interpolated median (reference computes exact via an
        # approxQuantile epsilon trick, column_median.py:90-121)
        key = metric_key("column.median", column)
        expr = F.median(F.col(column))
    return _between_aggregate(kwargs, key, expr)


@register_agg("expect_column_value_lengths_max_to_be_between")
def _length_max_between(kwargs: Dict[str, Any]) -> CompiledAggregate:
    column = kwargs["column"]
    key = metric_key("column.value_length.max", column)
    return _between_aggregate(kwargs, key, F.max(F.length(F.col(column))))


@register_agg("expect_column_value_lengths_min_to_be_between")
def _length_min_between(kwargs: Dict[str, Any]) -> CompiledAggregate:
    column = kwargs["column"]
    key = metric_key("column.value_length.min", column)
    return _between_aggregate(kwargs, key, F.min(F.length(F.col(column))))


# --- distinct / uniqueness aggregates ------------------------------------


def _distinct_count_expr(kwargs: Dict[str, Any]) -> (str, Column):
    column = kwargs["column"]
    if kwargs.get("approximate"):
        # Spark's HLL++ slow-paths badly below rsd≈0.02 (measured 8s vs
        # 0.3s on 100k rows); keep Spark's own 0.05 default, callers can
        # tighten explicitly.
        rsd = float(kwargs.get("rsd", 0.05))
        key = metric_key("column.distinct_values.count.approx", column, rsd=rsd)
        return key, F.approx_count_distinct(F.col(column), rsd)
    key = metric_key("column.distinct_values.count", column)
    return key, F.count_distinct(F.col(column))


@register_agg("expect_column_unique_value_count_to_be_between")
def _unique_count_between(kwargs: Dict[str, Any]) -> CompiledAggregate:
    key, expr = _distinct_count_expr(kwargs)
    return _between_aggregate(kwargs, key, expr, integer_bounds=True)


@register_agg("expect_column_proportion_of_unique_values_to_be_between")
def _unique_proportion_between(kwargs: Dict[str, Any]) -> CompiledAggregate:
    # ref formula: distinct_count / nonnull_count
    # (column_proportion_of_unique_values.py:20-48)
    column = kwargs["column"]
    dkey, dexpr = _distinct_count_expr(kwargs)
    nkey = metric_key("column.nonnull.count", column)

    def validate(metrics: Dict[str, Any]) -> Dict[str, Any]:
        distinct = metrics.get(dkey)
        nonnull = metrics.get(nkey)
        proportion = (
            (distinct / nonnull) if distinct is not None and nonnull else 0.0
        )
        return validate_metric_value_between(
            proportion,
            kwargs.get("min_value"),
            kwargs.get("max_value"),
            bool(kwargs.get("strict_min", False)),
            bool(kwargs.get("strict_max", False)),
        )

    return CompiledAggregate(
        agg_exprs={
            dkey: dexpr,
            nkey: F.count(F.col(column)),
        },
        validate=validate,
    )


def _distinct_set_key(column: str) -> str:
    return metric_key("column.distinct_values", column)


def _distinct_set_exprs(column: str) -> Dict[str, Column]:
    # phase A carries ONLY the exact distinct count (a fixed-width partial
    # aggregate); the actual value set is collected in a followup job that
    # runs iff the count clears the cap — so a high-cardinality column
    # fails fast without ever shipping its values
    return {
        metric_key("column.distinct_values.count", column): F.count_distinct(
            F.col(column)
        ),
    }


def _distinct_set_validator(
    kwargs: Dict[str, Any],
    check: Callable[[set, set], bool],
    observed: str = "sorted",
) -> CompiledAggregate:
    column = kwargs["column"]
    value_set_raw = kwargs.get("value_set")
    value_set = set(value_set_raw or [])
    vacuous = value_set_raw is None  # null set => vacuously true
    skey = _distinct_set_key(column)
    ckey = metric_key("column.distinct_values.count", column)

    def followup(
        df: DataFrame,
        group_by: Sequence[str],
        values_by_group: Dict[tuple, Dict[str, Any]],
    ) -> Dict[tuple, Any]:
        """Every group's value set in ONE tiny ``groupBy(*group_by)`` job
        (single-column scan, map-side-combined set merge).  Groups whose
        phase-A distinct count exceeds the cap are excluded from the scan
        entirely (their sets are never aggregated) and map to the cap
        error, so one hot group can't blow executor memory or fail the
        rest."""
        out: Dict[tuple, Any] = {}
        ok = []
        for key, vals in values_by_group.items():
            count = vals.get(ckey) or 0
            if count > DISTINCT_COLLECT_CAP:
                out[key] = ValueError(
                    f"distinct cardinality {count} of {column!r} exceeds the "
                    f"collect cap {DISTINCT_COLLECT_CAP}; use an approximate "
                    "expectation instead"
                )
            else:
                ok.append(key)
                out[key] = {skey: []}  # a group without non-null values
        if ok:
            scoped = (
                df
                if len(ok) == len(values_by_group)
                else df.filter(group_filter(group_by, ok))
            )
            for r in (
                scoped.groupBy(*group_by)
                .agg(F.collect_set(F.col(column)).alias("s"))
                .collect()
            ):
                out[group_key(r, group_by)] = {skey: r["s"]}
        return out

    def validate(metrics: Dict[str, Any]) -> Dict[str, Any]:
        count = metrics.get(ckey) or 0
        observed_set = set(metrics.get(skey) or [])
        try:
            observed_value: Any = sorted(observed_set)
        except TypeError:
            observed_value = list(observed_set)
        return {
            "success": True if vacuous else check(observed_set, value_set),
            "result": {
                "observed_value": observed_value,
                "details": {"value_counts_count": count},
            },
        }

    return CompiledAggregate(
        agg_exprs=_distinct_set_exprs(column),
        validate=validate,
        followup=followup,
    )


@register_agg("expect_column_distinct_values_to_be_in_set")
def _distinct_in_set(kwargs: Dict[str, Any]) -> CompiledAggregate:
    return _distinct_set_validator(kwargs, lambda obs, exp: obs <= exp)


@register_agg("expect_column_distinct_values_to_contain_set")
def _distinct_contain_set(kwargs: Dict[str, Any]) -> CompiledAggregate:
    return _distinct_set_validator(kwargs, lambda obs, exp: exp <= obs)


@register_agg("expect_column_distinct_values_to_equal_set")
def _distinct_equal_set(kwargs: Dict[str, Any]) -> CompiledAggregate:
    return _distinct_set_validator(kwargs, lambda obs, exp: obs == exp)


# --- quantiles (ref: column_quantile_values.py:177-209; ours stays inside
# the bundled agg via percentile_approx / exact percentile) ---------------


@register_agg("expect_column_quantile_values_to_be_between")
def _quantiles_between(kwargs: Dict[str, Any]) -> CompiledAggregate:
    column = kwargs["column"]
    quantile_ranges = kwargs["quantile_ranges"]
    quantiles: List[float] = list(quantile_ranges["quantiles"])
    value_ranges: List[List[Any]] = list(quantile_ranges["value_ranges"])
    if len(quantiles) != len(value_ranges):
        raise ValueError(
            "quantile_ranges must have one value_range per quantile"
        )
    if sorted(quantiles) != quantiles:
        raise ValueError("quantiles must be provided in ascending order")
    for lo, hi in value_ranges:
        if lo is not None and hi is not None and lo > hi:
            raise ValueError(
                "quantile value_ranges must have lower_bound <= upper_bound"
            )
    allow_err = kwargs.get("allow_relative_error", False)
    if kwargs.get("exact"):
        # continuously-interpolated exact quantiles (DuckDB quantile_cont
        # semantics) — NOT the reference default
        key = metric_key("column.quantile_values", column, q=quantiles)
        expr = F.percentile(F.col(column), F.lit(quantiles))
    elif isinstance(allow_err, float) and allow_err > 0:
        accuracy = int(1.0 / float(allow_err))
        key = metric_key(
            "column.quantile_values.approx", column, q=quantiles, acc=accuracy
        )
        expr = F.percentile_approx(F.col(column), F.lit(quantiles), accuracy)
    else:
        # reference default: approxQuantile(relativeError=0) — exact
        # order-statistic quantiles, no interpolation
        # (column_quantile_values.py:177-209)
        key = metric_key(
            "column.quantile_values.exact_ds", column, q=quantiles
        )
        expr = F.percentile_approx(
            F.col(column), F.lit(quantiles), 2147483647
        )

    def validate(metrics: Dict[str, Any]) -> Dict[str, Any]:
        values = metrics.get(key)
        if values is None:
            return {"success": False, "result": {"observed_value": None}}
        successes = []
        for observed, (lo, hi) in zip(values, value_ranges):
            ok = True
            if lo is not None and observed < lo:
                ok = False
            if hi is not None and observed > hi:
                ok = False
            successes.append(bool(ok))
        return {
            "success": all(successes),
            "result": {
                "observed_value": {
                    "quantiles": quantiles,
                    "values": list(values),
                },
                "details": {"success_details": successes},
            },
        }

    return CompiledAggregate(agg_exprs={key: expr}, validate=validate)


# --- table-level ----------------------------------------------------------


@register_agg("expect_table_row_count_to_be_between")
def _row_count_between(kwargs: Dict[str, Any]) -> CompiledAggregate:
    key = metric_key("table.row_count", None)
    return _between_aggregate(
        kwargs, key, F.count(F.lit(1)), integer_bounds=True
    )


@register_agg("expect_table_row_count_to_equal")
def _row_count_equal(kwargs: Dict[str, Any]) -> CompiledAggregate:
    key = metric_key("table.row_count", None)
    value = int(kwargs["value"])

    def validate(metrics: Dict[str, Any]) -> Dict[str, Any]:
        observed = metrics.get(key)
        return {
            "success": observed == value,
            "result": {"observed_value": observed},
        }

    return CompiledAggregate(
        agg_exprs={key: F.count(F.lit(1))}, validate=validate
    )


@register_agg("expect_column_to_have_no_days_missing")
def _no_days_missing(kwargs: Dict[str, Any]) -> CompiledAggregate:
    """Every calendar day between the column's min and max date appears at
    least once; at most ``threshold`` days may be missing.

    Reference (contrib ``expect_column_to_have_no_days_missing.py:121-141``)
    collects EVERY distinct date to the driver; here the whole check is
    three fixed-width aggregates in the bundle (min, max, distinct-day
    count): missing = datediff(max, min) - (distinct - 1) — identical
    count, no value shipping, scales to any date span.
    """
    column = kwargs["column"]
    threshold = int(kwargs.get("threshold", 0))
    day = F.to_date(F.col(column))
    kmin = metric_key("column.date.min", column)
    kmax = metric_key("column.date.max", column)
    kdays = metric_key("column.date.distinct_days", column)

    def validate(metrics: Dict[str, Any]) -> Dict[str, Any]:
        dmin, dmax = metrics.get(kmin), metrics.get(kmax)
        distinct = int(metrics.get(kdays) or 0)
        if dmin is None or dmax is None or distinct == 0:
            return {
                "success": True,  # vacuous on empty/all-null
                "result": {"observed_value": None},
            }
        span = (dmax - dmin).days
        missing = span - (distinct - 1)
        return {
            "success": missing <= threshold,
            "result": {
                "observed_value": missing,
                "details": {
                    "min_date": str(dmin),
                    "max_date": str(dmax),
                    "distinct_days": distinct,
                },
            },
        }

    return CompiledAggregate(
        agg_exprs={
            kmin: F.min(day),
            kmax: F.max(day),
            kdays: F.count_distinct(day),
        },
        validate=validate,
    )


def compile_aggregate_expectation(
    expectation_type: str, kwargs: Dict[str, Any]
) -> CompiledAggregate:
    try:
        compiler = AGG_COMPILERS[expectation_type]
    except KeyError:
        raise KeyError(f"no aggregate compiler for {expectation_type!r}")
    return compiler(kwargs)
