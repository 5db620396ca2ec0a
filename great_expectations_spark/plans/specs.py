"""Compiled-expectation spec types shared between operators and the planner."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Dict, Iterable, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class CompiledMap:
    """A map-style expectation compiled to boolean Columns.

    The planner turns this into counters inside ONE bundled ``df.agg``:
      element_count   = sum(when(domain, 1))
      considered_count= sum(when(domain & considered, 1))
      unexpected_count= sum(when(domain & considered & unexpected, 1))

    ``denominator`` picks the mostly/missing semantics (reference
    ``expectations/expectation.py``):
      'nonnull'  — column map default: ratio over non-null rows (:2834-2846)
      'element'  — null/not-null expectations: ratio over all rows, result
                   carries no missing_* fields (expect_column_values_to_not_
                   be_null.py:280-325)
      'filtered' — pair/multicolumn: ratio over rows kept by ignore_row_if
                   (:3097-3113, :3372-3388)
    """

    kind: str  # 'column_map' | 'column_pair_map' | 'multicolumn_map'
    domain_columns: List[str]
    considered: Column
    unexpected: Column
    denominator: str = "nonnull"
    value_expr: Optional[Column] = None  # what lands in unexpected_list
    value_is_dict: bool = False  # multicolumn: entries are {col: val} dicts
    required_column_types: Optional[tuple] = None  # e.g. (StringType,)
    # optional custom schema validation: fn(column_datatype) raises on bad
    type_check: Optional[Callable[[Any], None]] = None


@dataclass
class CompiledWindow:
    """A uniqueness/monotonicity/contiguity expectation needing a shuffle;
    executed by the planner in a separate phase.  Each has ONE evaluator,
    parameterised by an optional group prefix ``group_by`` (empty for a
    whole-table ``validate``, ``[partition_column]`` for
    ``validate_by_partition``), so both callers compute the same flags.

    Two shapes:

    * Flag windows (monotonicity, window-strategy contiguity, and a
      uniqueness adopted onto a shared window): ``flag_builder(group_by)``
      returns the row-level unexpected Column over a window partitioned by
      ``[*group_by, *partition_by]``; ``window_signature`` groups members
      that share a (partition_by, order_by) spec into one pass.  Their
      samples come from the group's fused job: ``sample_columns
      (index_cols)`` lists the row columns a member needs, and
      ``pool_sample(row_dicts, index_cols)`` formats its flagged rows.
    * Set windows (uniqueness, join-strategy contiguity):
      ``execute(df, domain_cond, group_by)`` returns ``{group key tuple:
      unexpected_count}`` from a ``groupBy(*group_by, *keys)``
      aggregation, and ``sample(df, domain_cond, n, index_cols,
      group_by)`` ``{group key tuple: {"unexpected_list": ...,
      "unexpected_index_list": ...}}`` holding each group's ``n``
      smallest violations (``window_ops.top_k``).
    """

    kind: str
    domain_columns: List[str]
    denominator: str
    execute: Optional[
        Callable[[DataFrame, Optional[Column], Sequence[str]], Dict[tuple, int]]
    ] = None
    sample: Optional[Callable[..., Dict[tuple, Dict[str, List[Any]]]]] = None
    value_is_dict: bool = False
    considered: Optional[Column] = None  # counted in the bundled agg phase
    flag_builder: Optional[Callable[[Sequence[str]], Column]] = None
    window_signature: Optional[tuple] = None
    sample_columns: Optional[
        Callable[[Optional[List[str]]], List[str]]
    ] = None
    pool_sample: Optional[
        Callable[[List[dict], Optional[List[str]]], Dict[str, Any]]
    ] = None


@dataclass
class CompiledAggregate:
    """An aggregate-metric expectation.

    ``agg_exprs`` maps metric-key -> aggregate Column (joins the bundled
    agg; the planner dedups identical keys across expectations).
    ``validate(metric_values)`` -> {'success': bool, 'result': {...}}.
    ``followup(df, group_by, values_by_group)`` — optional second tiny
    job that runs AFTER the bundled agg, given the (domain-scoped)
    DataFrame, the group prefix (``()`` for ``validate``) and each
    group's phase-A metric values; returns ``{group key tuple: extra
    values or Exception}``, merged before ``validate``.  One job covers
    every group, and an Exception fails that group's expectation alone.
    Used to gate unbounded collects (e.g. ``collect_set``) behind a
    phase-A cardinality check so the guard fires BEFORE any heavy
    aggregation.
    """

    agg_exprs: Dict[str, Column]
    validate: Callable[[Dict[str, Any]], Dict[str, Any]]
    finisher_inputs: List[str] = field(default_factory=list)
    followup: Optional[
        Callable[
            [DataFrame, Sequence[str], Dict[tuple, Dict[str, Any]]],
            Dict[tuple, Any],
        ]
    ] = None


@dataclass
class CompiledSchemaCheck:
    """Schema-only expectation — no scan at all.

    ``validate(df)`` -> {'success': bool, 'result': {...}}.
    """

    validate: Callable[[DataFrame], Dict[str, Any]]


@dataclass
class CompiledJob:
    """An expectation that runs its own Spark job(s) (query expectations,
    referential anti-joins, KS/PSI drift two-sample checks).

    ONE evaluator, parameterised by a group prefix like
    ``CompiledWindow``'s: ``evaluate(df, spark, domain, group_by,
    result_format)`` -> ``{group key tuple: vout or Exception}``, where
    vout is ``{'success': bool, 'result': {...}}`` and ``result_format``
    the parsed format dict.  ``validate`` passes ``group_by=()`` and gets
    the ``()`` key back; ``validate_by_partition`` and ``run_checkpoint``
    pass ``[partition_column]`` and get every partition from the same
    grouped job(s), so their job count does not grow with the partition
    count.  A group whose evaluation fails maps to its Exception, which
    fails that group's expectation alone.  A group whose rows the
    evaluator's own filters (its domain, non-null values) remove has no
    key; the planner evaluates it on the group's slice with ``()``.
    """

    evaluate: Callable[..., Dict[tuple, Any]]


def group_key(row: Any, group_by: Sequence[str]) -> tuple:
    """A collected row's group key tuple (``()`` without a prefix)."""
    return tuple(row[g] for g in group_by)


def rows_by_group(
    rows: Iterable[Any], group_by: Sequence[str]
) -> Dict[tuple, List[Any]]:
    """Collected rows split by group key.  Without a prefix the ``()``
    key is always there, so a whole-table evaluator answers even when
    its filters leave no rows."""
    out: Dict[tuple, List[Any]] = {} if group_by else {(): []}
    for r in rows:
        out.setdefault(group_key(r, group_by), []).append(r)
    return out


def each_group(
    values: Dict[tuple, Any], fn: Callable[[Any], Any]
) -> Dict[tuple, Any]:
    """``fn`` applied to every group's value.  A group whose value is an
    Exception, or whose ``fn`` raises, maps to that Exception, so one bad
    group fails alone."""
    out: Dict[tuple, Any] = {}
    for key, value in values.items():
        if isinstance(value, Exception):
            out[key] = value
            continue
        try:
            out[key] = fn(value)
        except Exception as exc:  # noqa: BLE001 — that group's error
            out[key] = exc
    return out


def null_safe_isin(column: Column, values: Sequence[Any]) -> Column:
    """Membership that keeps a NULL value addressable (plain ``isin``
    drops NULL) without building a per-value ``eqNullSafe`` OR-chain —
    at the 10^5-partition design point a chained boolean tree that deep
    stalls or overflows Catalyst's recursive transforms, while ``isin``
    stays one In-node (and pushdown-friendly) regardless of list size."""
    non_null = [v for v in values if v is not None]
    cond = column.isin(non_null) if non_null else F.lit(False)
    if any(v is None for v in values):
        cond = cond | column.isNull()
    return cond


def group_filter(group_by: Sequence[str], keys: Sequence[tuple]) -> Column:
    """Rows whose ``group_by`` key is one of ``keys``, NULL included."""
    if len(group_by) == 1:
        return null_safe_isin(F.col(group_by[0]), [k[0] for k in keys])
    cond = F.lit(False)
    for key in keys:
        match = F.lit(True)
        for g, v in zip(group_by, key):
            match = match & F.col(g).eqNullSafe(F.lit(v))
        cond = cond | match
    return cond
