"""Compiled-expectation spec types shared between operators and the planner."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame


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
    ``needs_prepass`` metric keys must be resolved before the main bundle
    (e.g. z-score needs mean/std scalars first).
    ``followup(df, values)`` — optional second tiny job that runs AFTER the
    bundled agg, given the (domain-scoped) DataFrame and the phase-A metric
    values; returns extra metric values merged before ``validate``.  Used
    to gate unbounded collects (e.g. ``collect_set``) behind a phase-A
    cardinality check so the guard fires BEFORE any heavy aggregation.
    ``grouped_followup(df, partition_column, values_by_partition)`` —
    optional scale hook for ``validate_by_partition``: the followup for
    ALL partitions in O(1) Spark jobs, given each partition's phase-A
    values; returns {partition: extra-values-dict-or-Exception} (an
    Exception marks that partition's expectation failed-with-error, e.g.
    over the collect cap, without poisoning the others).  Without it the
    runner falls back to one partition-filtered ``followup`` job per
    partition.
    """

    agg_exprs: Dict[str, Column]
    validate: Callable[[Dict[str, Any]], Dict[str, Any]]
    finisher_inputs: List[str] = field(default_factory=list)
    followup: Optional[
        Callable[[DataFrame, Dict[str, Any]], Dict[str, Any]]
    ] = None
    grouped_followup: Optional[
        Callable[[DataFrame, str, Dict[Any, Dict[str, Any]]], Dict[Any, Any]]
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

    ``run(df, spark, domain_cond)`` -> {'success': bool, 'result': {...}}.

    ``grouped(df, spark, domain_cond, partition_column)`` — optional scale
    hook for ``validate_by_partition``: evaluates the expectation for ALL
    partitions in O(1) Spark jobs (one grouped aggregation / one grouped
    anti-join instead of one job per partition) and returns
    ``{partition_value: vout}``.  Partitions absent from the mapping fall
    back to a per-partition ``run`` (only happens when the expectation's
    domain filters a partition empty).
    """

    run: Callable[..., Dict[str, Any]]
    grouped: Optional[Callable[..., Dict[Any, Dict[str, Any]]]] = None
