"""Uniqueness and monotonicity operators — the shuffling expectations.

Scalability re-design vs the reference (SURVEY.md §2.E):

* ``expect_column_values_to_be_unique`` — reference evaluates
  ``count(1) over (partition by value) <= 1`` (``column_values_unique.py:
  77-82``): every row is shuffled by its value and a hot value lands on one
  task.  Ours is a two-phase hash aggregation: ``groupBy(value).count()``
  (map-side partial aggregation collapses duplicates before the shuffle, so
  a hot key ships as ONE row per upstream partition) then a tiny
  ``filter(cnt > 1).agg(sum(cnt))``.
* ``expect_compound_columns_to_be_unique`` — same two-phase plan on the
  struct of columns (reference ``compound_columns_unique.py:159-164``).
* ``expect_column_values_to_be_increasing`` / ``_decreasing`` — reference
  uses ``Window.orderBy(F.lit("constant"))`` (``column_values_increasing.py:
  70-150``) which forces the ENTIRE table into one partition.  Ours accepts
  ``partition_by`` (e.g. ``conv_id``) + ``order_by`` (e.g. ``turn_idx``)
  kwargs and runs ``Window.partitionBy(keys).orderBy(order)`` — per-key
  monotonicity, shuffle distributed over keys.  Without ``partition_by`` we
  fall back to the reference's single-partition semantics (warned).

An operator here only says what a violation is (a row flag over a
window, or a frame of weighted violating keys) and which value a
violating row reports; the planner turns every one of them into counts
and violation samples the same way (``plans/planner.py``).
"""

from __future__ import annotations

import functools
import logging
from typing import Any, Callable, Dict, List, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from great_expectations_spark.core.domain import domain_gate
from great_expectations_spark.plans.specs import CompiledWindow

logger = logging.getLogger(__name__)

WINDOW_COMPILERS: Dict[str, Callable[[Dict[str, Any]], CompiledWindow]] = {}


def _orderable(dt: Optional[T.DataType]) -> bool:
    """Whether Spark can sort by a column of this type: no map or variant
    anywhere inside it."""
    if isinstance(dt, (T.MapType, T.VariantType)):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _sort_columns(frame: DataFrame, by: Sequence[str]) -> List[str]:
    """Every orderable column of ``frame`` outside ``by``, in column
    order."""
    types = {f.name: f.dataType for f in frame.schema.fields}
    return [c for c in frame.columns if c not in by and _orderable(types[c])]


def ranked(
    frame: DataFrame,
    by: Sequence[str],
    limit: Union[int, Column],
    count: bool = False,
) -> DataFrame:
    """The rows of ``frame`` ranked ``__gx_rn`` ``<= limit`` within each
    ``by`` key, ordered by every orderable column of ``frame`` outside
    ``by``, in column order; ``limit`` may be a column of ``frame``.
    Columns Spark cannot sort by (a map) ride along but stay out of the
    order.  A constant ``limit`` up to
    ``spark.sql.optimizer.windowGroupLimitThreshold`` plans as a JVM
    top-k (``WindowGroupLimit`` Partial before the exchange and Final
    after it).

    ``count`` adds each key's total row count as ``__gx_n``, a
    whole-partition count over the same window.  That frame is not an
    expanding one, so Spark then plans no partial limit: every row
    crosses the exchange, and the count sees them all."""
    w = Window.partitionBy(*by).orderBy(*_sort_columns(frame, by))
    extra = []
    if count:
        whole = w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        extra.append(F.count(F.lit(1)).over(whole).alias("__gx_n"))
    return frame.select(
        "*", F.row_number().over(w).alias("__gx_rn"), *extra
    ).filter(F.col("__gx_rn") <= limit)


def top_k(
    frame: DataFrame,
    by: Sequence[str],
    limit: int,
    count: bool = False,
) -> Dict[tuple, List[Dict[str, Any]]]:
    """The ``limit`` smallest rows of ``frame`` per ``by`` key, in ONE job:
    ``{by key tuple: [row dicts in rank order]}``.

    Rows are ordered as ``ranked`` orders them, so the result is
    deterministic: the same rows at any shuffle partition count or job
    concurrency.  With a non-empty ``by`` the rank is ``ranked``'s JVM
    top-k (``count`` as there); with an empty ``by`` it is
    ``orderBy().limit()``."""
    if not by:
        top = frame.orderBy(*_sort_columns(frame, by)).limit(limit).collect()
        return {(): [r.asDict() for r in top]} if top else {}
    out: Dict[tuple, List[Dict[str, Any]]] = {}
    for r in ranked(frame, by, limit, count).collect():
        row = r.asDict()
        out.setdefault(tuple(row[c] for c in by), []).append(row)
    for rows in out.values():
        rows.sort(key=lambda row: row["__gx_rn"])
    return out


def register_window(name: str):
    def deco(fn):
        WINDOW_COMPILERS[name] = fn
        return fn

    return deco


def _prefixed(group_by: Sequence[str], cols: Sequence[str]) -> List[str]:
    """``[*group_by, *cols]`` without repeats (a key column may also be
    the group prefix, e.g. a day-partitioned compound key)."""
    return list(dict.fromkeys([*group_by, *cols]))


def uniqueness_flag_over_window(
    key_cols: List[str],
    partition_by: List[str],
    order_by: List[str],
    group_by: Sequence[str] = (),
) -> Column:
    """Row-level duplicate flag for key_cols == partition_by + order_by:
    a row is a duplicate iff a window-adjacent row carries the same order
    value (within a group of k equal keys every row has an equal
    neighbor, so all k rows flag — identical counts to the two-phase
    groupBy).  Lets a compound-uniqueness expectation ride an existing
    window pass instead of shuffling all rows by key."""
    w = _window_spec(partition_by, order_by, group_by)
    order_struct = F.struct(*[F.col(c) for c in order_by])
    prev = F.lag(order_struct).over(w)
    nxt = F.lead(order_struct).over(w)
    dup = F.coalesce(prev == order_struct, F.lit(False)) | F.coalesce(
        nxt == order_struct, F.lit(False)
    )
    return _all_nonnull(key_cols) & dup


def _all_nonnull(cols: Sequence[str]) -> Column:
    return functools.reduce(
        lambda a, b: a & b, [F.col(c).isNotNull() for c in cols]
    )


def _uniqueness_window(
    key_cols: List[str], value_is_dict: bool
) -> CompiledWindow:
    considered = _all_nonnull(key_cols)

    def dup_groups(
        df: DataFrame, domain: Optional[Column], group_by: Sequence[str] = ()
    ) -> DataFrame:
        """The duplicated keys of each group, weighted by their rows."""
        scoped = df if domain is None else df.filter(domain_gate(domain))
        return (
            scoped.filter(considered)
            .groupBy(*_prefixed(group_by, key_cols))
            .agg(F.count(F.lit(1)).alias("__gx_w"))
            .filter(F.col("__gx_w") > 1)
        )

    return CompiledWindow(
        domain_columns=key_cols,
        value_columns=key_cols,
        value_of=(
            (lambda r: {c: r[c] for c in key_cols})
            if value_is_dict
            else (lambda r: r[key_cols[0]])
        ),
        considered=considered,
        violations=dup_groups,
        uniqueness=True,
    )


@register_window("expect_column_values_to_be_unique")
def _unique(kwargs: Dict[str, Any]) -> CompiledWindow:
    return _uniqueness_window([kwargs["column"]], False)


@register_window("expect_compound_columns_to_be_unique")
def _compound_unique(kwargs: Dict[str, Any]) -> CompiledWindow:
    return _uniqueness_window(list(kwargs["column_list"]), True)


@register_window("expect_multicolumn_values_to_be_unique")
def _multicolumn_unique(kwargs: Dict[str, Any]) -> CompiledWindow:
    # deprecated alias of compound uniqueness (reference skip list
    # self_check/util.py:2069)
    return _uniqueness_window(list(kwargs["column_list"]), True)


def _window_spec(partition_by, order_by, group_by: Sequence[str] = ()):
    return Window.partitionBy(
        *_prefixed(group_by, partition_by or ())
    ).orderBy(
        *[F.col(c) for c in order_by]
        if order_by
        else [F.monotonically_increasing_id()]
    )


def _prev_nonnull(
    column: str, partition_by, order_by, group_by: Sequence[str] = ()
) -> Column:
    """Previous NON-NULL value of ``column`` in window order, within each
    ``[*group_by, *partition_by]`` frame.  Unlike ``lag`` over a
    pre-filtered frame, this is null-transparent, so several window
    expectations with different null columns can share ONE pass over the
    unfiltered rows (null rows simply don't count and don't perturb each
    other's predecessors)."""
    w = _window_spec(partition_by, order_by, group_by).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return F.last(F.col(column), ignorenulls=True).over(w)


def _monotonic_window(
    kwargs: Dict[str, Any], increasing: bool
) -> CompiledWindow:
    column = kwargs["column"]
    strictly = bool(kwargs.get("strictly", False))
    partition_by = kwargs.get("partition_by")
    if isinstance(partition_by, str):
        partition_by = [partition_by]
    order_by = kwargs.get("order_by")
    if isinstance(order_by, str):
        order_by = [order_by]
    if not partition_by:
        logger.warning(
            "expect_column_values_to_be_%s without partition_by forces a "
            "single-partition global window (reference semantics, "
            "column_values_increasing.py:70-150); pass partition_by for "
            "scale.",
            "increasing" if increasing else "decreasing",
        )

    def unexpected_flag(group_by: Sequence[str] = ()) -> Column:
        col = F.col(column)
        prev = _prev_nonnull(column, partition_by, order_by, group_by)
        if increasing:
            bad = (col <= prev) if strictly else (col < prev)
        else:
            bad = (col >= prev) if strictly else (col > prev)
        return (
            col.isNotNull()
            & prev.isNotNull()
            & F.coalesce(bad, F.lit(False))
        )

    return CompiledWindow(
        domain_columns=[column],
        value_columns=[column],
        value_of=lambda r: r[column],
        considered=F.col(column).isNotNull(),
        flag_builder=unexpected_flag,
        window_signature=(
            tuple(partition_by or ()),
            tuple(order_by or ()),
        ),
    )


@register_window("expect_sequence_to_be_contiguous")
def _sequence_contiguous_window(kwargs: Dict[str, Any]) -> CompiledWindow:
    """Every (group, index-1) predecessor exists — the transcript
    referential check (north rule: every (conv_id, turn_idx-1) exists).

    Two physical strategies, identical counts:

    * ``strategy="window"`` (default) — ONE shuffle: previous non-null
      index per group; a row whose predecessor is below ``index - 1``
      (duplicates of ``index`` still count as present) is a violation.
      Shares its window pass with any monotonicity expectation on the
      same (group, order) spec.  A window partitioned by group sorts
      each WHOLE group on one task, so a pathologically hot group
      (one conversation with 10^8 turns) serializes.
    * ``strategy="join"`` — skew-immune: each row emits self/predecessor
      markers and ONE two-phase hash aggregation on the ``(group,
      index)`` PAIR flags pairs whose predecessor marker is absent.  A
      hot group collapses to one row per index per upstream partition
      before the shuffle (map-side combine), so task balance is
      independent of group size; no sort, no join anywhere.  Same
      unexpected_count as the window path: one per distinct (group,
      index) whose predecessor is absent.
    """
    group_column = kwargs.get("group_column", "conv_id")
    index_column = kwargs.get("index_column", "turn_idx")
    first_index = int(kwargs.get("first_index", 0))
    strategy = kwargs.get("strategy", "window")
    if strategy == "join":
        return _sequence_contiguous_join(
            group_column, index_column, first_index
        )
    if strategy != "window":
        raise ValueError(
            f"expect_sequence_to_be_contiguous strategy={strategy!r}; "
            "expected 'window' or 'join'"
        )
    partition_by = [group_column]
    order_by = [index_column]

    def unexpected_flag(group_by: Sequence[str] = ()) -> Column:
        idx = F.col(index_column)
        prev = _prev_nonnull(index_column, partition_by, order_by, group_by)
        return (
            idx.isNotNull()
            & (idx > F.lit(first_index))
            & (prev.isNull() | (prev < idx - F.lit(1)))
        )

    return CompiledWindow(
        domain_columns=[group_column, index_column],
        value_columns=[group_column, index_column],
        value_of=_pair_value(group_column, index_column),
        considered=F.col(index_column).isNotNull(),
        flag_builder=unexpected_flag,
        window_signature=(tuple(partition_by), tuple(order_by)),
    )


def _pair_value(group_column: str, index_column: str):
    """A contiguity violation's ``unexpected_list`` entry."""
    return lambda r: {
        group_column: r[group_column],
        index_column: r[index_column],
    }


def _sequence_contiguous_join(
    group_column: str, index_column: str, first_index: int
) -> CompiledWindow:
    """Skew-immune contiguity: the north rule's "every (conv_id,
    turn_idx-1) predecessor exists" in ONE pair-keyed aggregation (see
    strategy='join' docs on the registered compiler above).

    Plan: every non-null row emits two markers — (group, index) tagged
    "self" and (group, index+1) tagged "pred" — and a single
    ``groupBy(group, index)`` takes ``max`` of each tag.  A pair whose
    "self" marker is set, whose index exceeds ``first_index``, and whose
    "pred" marker is absent has a missing predecessor.  ONE shuffle on
    the PAIR key (the original anti-join formulation shuffled three
    times: distinct + both join sides); duplicates of a hot group
    collapse to one row per index per upstream partition via map-side
    combine, so task balance is independent of group size; no sort, no
    join anywhere."""

    def missing_pred(
        df: DataFrame, domain: Optional[Column], group_by: Sequence[str] = ()
    ) -> DataFrame:
        """The (group, index) pairs whose predecessor is missing, weight 1."""
        groups = _prefixed(group_by, [group_column])
        out = df if domain is None else df.filter(domain_gate(domain))
        markers = (
            out.filter(F.col(index_column).isNotNull())
            .select(
                *groups,
                F.explode(
                    F.array(
                        F.struct(
                            F.col(index_column).cast("long").alias("i"),
                            F.lit(1).alias("s"),
                            F.lit(0).alias("p"),
                        ),
                        F.struct(
                            (F.col(index_column).cast("long") + 1).alias("i"),
                            F.lit(0).alias("s"),
                            F.lit(1).alias("p"),
                        ),
                    )
                ).alias("__gx_m"),
            )
            .select(
                *groups,
                F.col("__gx_m.i").alias("__gx_i"),
                F.col("__gx_m.s").alias("__gx_s"),
                F.col("__gx_m.p").alias("__gx_p"),
            )
        )
        return (
            markers.groupBy(*groups, "__gx_i")
            .agg(
                F.max("__gx_s").alias("__gx_self"),
                F.max("__gx_p").alias("__gx_pred"),
            )
            .filter(
                (F.col("__gx_self") == 1)
                & (F.col("__gx_i") > F.lit(first_index))
                & (F.col("__gx_pred") == 0)
            )
            .select(
                *groups,
                F.col("__gx_i").alias(index_column),
                F.lit(1).alias("__gx_w"),
            )
        )

    return CompiledWindow(
        domain_columns=[group_column, index_column],
        value_columns=[group_column, index_column],
        value_of=_pair_value(group_column, index_column),
        considered=F.col(index_column).isNotNull(),
        violations=missing_pred,
    )


@register_window("expect_column_values_to_be_increasing")
def _increasing(kwargs: Dict[str, Any]) -> CompiledWindow:
    return _monotonic_window(kwargs, increasing=True)


@register_window("expect_column_values_to_be_decreasing")
def _decreasing(kwargs: Dict[str, Any]) -> CompiledWindow:
    return _monotonic_window(kwargs, increasing=False)
