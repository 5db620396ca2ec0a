"""Job-style expectations: value-counts-derived, z-score, user SQL, and the
referential-integrity checks the north rule requires.

These run their own Spark job(s) because their physical plan can't fold into
the suite's single bundled agg (they shuffle or need resolved scalars).
Reference analogues cited per operator.
"""

from __future__ import annotations

from typing import Any, Callable, Dict, List, Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from great_expectations_spark.core.domain import domain_gate
from great_expectations_spark.core.result_format import (
    format_map_output,
    map_expectation_success,
    parse_result_format,
    validate_metric_value_between,
)
from great_expectations_spark.plans.specs import CompiledJob

QUERY_JOB_COMPILERS: Dict[str, Callable[[Dict[str, Any]], CompiledJob]] = {}


def register_query_job(name: str):
    def deco(fn):
        QUERY_JOB_COMPILERS[name] = fn
        return fn

    return deco


def _unique_view_name() -> str:
    import uuid

    return f"gx_tmp_batch_{uuid.uuid4().hex}"


def _apply_domain(df: DataFrame, domain: Optional[Column]) -> DataFrame:
    return df if domain is None else df.filter(domain_gate(domain))


# --- value_counts family (ref: column_value_counts.py:142-192,
# column_most_common_value.py:26-38) --------------------------------------


def value_counts(
    df: DataFrame, column: str, domain: Optional[Column] = None
) -> DataFrame:
    """groupBy(col).count() over non-null rows, ordered by value.

    Map-side partial aggregation makes this skew-safe (a hot value is
    pre-combined per upstream partition before the shuffle), unlike a
    window-by-value plan.
    """
    return (
        _apply_domain(df, domain)
        .filter(F.col(column).isNotNull())
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(column)
    )


def _approx_top_k_expr(column: str, k: int, max_items_tracked: int):
    if not 0 < k <= max_items_tracked:
        raise ValueError(
            f"need 0 < k <= max_items_tracked, got k={k}, "
            f"max_items_tracked={max_items_tracked}"
        )
    quoted = "`" + column.replace("`", "``") + "`"
    return F.expr(
        f"approx_top_k({quoted}, {int(k)}, {int(max_items_tracked)})"
    )


def approx_value_counts(
    df: DataFrame,
    column: str,
    k: int = 100,
    max_items_tracked: int = 100_000,
    domain: Optional[Column] = None,
) -> DataFrame:
    """Sketch-based top-k value counts (Spark 4 ``approx_top_k``, a
    mergeable frequent-items sketch).

    The 10^12-row shape for "what are the hot values": each task folds
    its rows into one bounded sketch, so ONE sketch per upstream
    partition crosses the wire instead of a ``(value, count)`` pair per
    distinct value — no groupBy shuffle at all.  Counts are EXACT while
    the column's true cardinality stays <= ``max_items_tracked`` (the
    sketch never evicts); beyond that they are frequency estimates with
    a documented over-count bound, which is the right trade for "top
    values of a high-cardinality column" at scale — the exact
    :func:`value_counts` stays the parity path.
    """
    scoped = _apply_domain(df, domain).filter(F.col(column).isNotNull())
    return (
        scoped.agg(
            _approx_top_k_expr(column, k, max_items_tracked).alias("__tk")
        )
        .select(F.explode("__tk").alias("__e"))
        .select(
            F.col("__e.item").alias(column),
            F.col("__e.count").alias("count"),
        )
        .orderBy(F.col("count").desc(), column)
    )


@register_query_job("expect_column_most_common_value_to_be_in_set")
def _most_common_in_set(kwargs: Dict[str, Any]) -> CompiledJob:
    """Mode membership.  ``approximate=True`` swaps the exact
    groupBy-then-argmax for ONE ``approx_top_k`` sketch aggregation —
    no shuffle of distinct values, one bounded sketch per task on the
    wire, and a grouped hook that evaluates every partition's mode in a
    single job.  Exact while true cardinality <= ``max_items_tracked``
    (default 100k); above that the mode of a heavy-tailed column is
    still found with high probability, but counts become estimates, so
    the exact path stays the default."""
    column = kwargs["column"]
    value_set = set(kwargs.get("value_set") or [])
    ties_okay = bool(kwargs.get("ties_okay", False))
    approximate = bool(kwargs.get("approximate", False))
    max_items_tracked = int(kwargs.get("max_items_tracked", 100_000))
    mode_cap = 1000

    def _judge(modes: List[Any]) -> Dict[str, Any]:
        if not modes:
            # no non-null rows: vacuous pass, same as the exact path
            return {"success": True, "result": {"observed_value": []}}
        if len(modes) > mode_cap:
            raise ValueError(
                f"more than {mode_cap} values tie for most-common in "
                f"{column!r} — the column has no meaningful mode"
            )
        modes_sorted = sorted(modes, key=lambda v: (v is None, v))
        if ties_okay:
            # any tied mode in the set counts
            success = any(m in value_set for m in modes_sorted)
        else:
            # parity: without ties_okay a tie fails outright
            success = len(modes_sorted) == 1 and modes_sorted[0] in value_set
        return {
            "success": success,
            "result": {"observed_value": modes_sorted},
        }

    def _modes_from_topk(items: List[Any]) -> List[Any]:
        """Sketch rows (struct item/count) -> tied argmax."""
        if not items:
            return []
        best = max(e["count"] for e in items)
        return [e["item"] for e in items if e["count"] == best]

    def run(df: DataFrame, spark, domain) -> Dict[str, Any]:
        if approximate:
            row = (
                _apply_domain(df, domain)
                .filter(F.col(column).isNotNull())
                .agg(
                    _approx_top_k_expr(
                        column, min(mode_cap + 1, max_items_tracked),
                        max_items_tracked,
                    ).alias("__tk")
                )
                .first()
            )
            return _judge(_modes_from_topk(list(row["__tk"] or [])))
        counts = value_counts(df, column, domain)
        # argmax with ties, two tiny jobs over the (already reduced) counts
        counts = counts.persist()
        try:
            top = counts.agg(F.max("count").alias("m")).first()
            if top is None or top["m"] is None:
                return {"success": True, "result": {"observed_value": []}}
            # bounded collect: an all-distinct column makes EVERY value a
            # mode (count == 1 everywhere) — cap the tie set instead of
            # shipping the whole column to the driver
            mode_rows = (
                counts.filter(F.col("count") == top["m"])
                .limit(mode_cap + 1)
                .collect()
            )
            modes = [r[column] for r in mode_rows]
        finally:
            counts.unpersist()
        return _judge(modes)

    def grouped(
        df: DataFrame, spark, domain, partition_column: str
    ) -> Dict[Any, Dict[str, Any]]:
        """ONE sketch job for every partition's mode (approximate mode
        only — validate_by_partition falls back to per-partition exact
        jobs otherwise): groupBy(partition).agg(approx_top_k) ships one
        bounded sketch per (task, partition) pair."""
        if not approximate:
            raise NotImplementedError(
                "grouped most-common needs approximate=True"
            )
        rows = (
            _apply_domain(df, domain)
            .filter(F.col(column).isNotNull())
            .groupBy(partition_column)
            .agg(
                _approx_top_k_expr(
                    column, min(mode_cap + 1, max_items_tracked),
                    max_items_tracked,
                ).alias("__tk")
            )
            .collect()
        )
        out: Dict[Any, Dict[str, Any]] = {}
        for r in rows:
            try:
                out[r[partition_column]] = _judge(
                    _modes_from_topk(list(r["__tk"] or []))
                )
            except ValueError:
                # a >mode_cap tie in ONE junk partition must not fail
                # every partition: leave it out of the mapping, so the
                # runner's per-partition fallback raises for it alone
                continue
        return out

    return CompiledJob(run=run, grouped=grouped if approximate else None)


# --- z-score (ref: column_values_z_score.py:86-146 — two-phase: scalar
# mean/std first, then a cheap map over rows) -----------------------------


@register_query_job("expect_column_value_z_scores_to_be_less_than")
def _z_scores_less_than(kwargs: Dict[str, Any]) -> CompiledJob:
    column = kwargs["column"]
    threshold = float(kwargs["threshold"])
    double_sided = bool(kwargs.get("double_sided", True))
    mostly = float(kwargs.get("mostly", 1.0))

    def run(
        df: DataFrame,
        spark,
        domain,
        result_format: Optional[dict] = None,
    ) -> Dict[str, Any]:
        result_format = parse_result_format(result_format or "BASIC")
        scoped = _apply_domain(df, domain)
        col = F.col(column)
        stats = scoped.agg(
            F.mean(col).alias("mean"),
            F.stddev_samp(col).alias("std"),
            F.count(F.lit(1)).alias("element_count"),
            F.count(col).alias("nonnull_count"),
        ).first()
        element_count = int(stats["element_count"])
        nonnull_count = int(stats["nonnull_count"])
        mean, std = stats["mean"], stats["std"]
        if not nonnull_count or mean is None or std in (None, 0):
            return format_map_output(
                result_format,
                success=True,
                element_count=element_count,
                nonnull_count=nonnull_count,
                unexpected_count=0,
                unexpected_list=[],
            )
        z = (col - F.lit(float(mean))) / F.lit(float(std))
        z = F.abs(z) if double_sided else z
        unexpected = col.isNotNull() & ~(z < F.lit(threshold))
        ucount_row = scoped.agg(
            F.sum(F.when(unexpected, 1).otherwise(0)).alias("u")
        ).first()
        unexpected_count = int(ucount_row["u"] or 0)
        unexpected_list: List[Any] = []
        if (
            unexpected_count
            and result_format["result_format"] != "BOOLEAN_ONLY"
        ):
            limit = (
                unexpected_count
                if result_format["result_format"] == "COMPLETE"
                else result_format["partial_unexpected_count"]
            )
            unexpected_list = [
                r[column]
                for r in scoped.filter(unexpected)
                .select(column)
                .limit(limit)
                .collect()
            ]
        success = map_expectation_success(
            element_count, nonnull_count, unexpected_count, mostly
        )
        return format_map_output(
            result_format,
            success=success,
            element_count=element_count,
            nonnull_count=nonnull_count,
            unexpected_count=unexpected_count,
            unexpected_list=unexpected_list,
        )

    return CompiledJob(run=run)


# --- user SQL (ref: query_metrics/query_table.py:68-90 — temp view +
# ``{batch}`` template substitution) --------------------------------------


@register_query_job("expect_query_row_count_to_be_between")
def _query_row_count_between(kwargs: Dict[str, Any]) -> CompiledJob:
    query = kwargs["query"]

    def run(df: DataFrame, spark, domain) -> Dict[str, Any]:
        # per-invocation view name: validations may run concurrently on
        # one SparkSession (callers' threads, the planner's job pool, the
        # per-partition fallback of a grouped pass), and a shared name
        # would let one batch's query silently read another's
        view = _unique_view_name()
        _apply_domain(df, domain).createOrReplaceTempView(view)
        try:
            rendered = query.format(
                batch=view, active_batch=view, **_query_template_kwargs(kwargs)
            )
            # count() stays distributed — no row ever reaches the driver
            observed = spark.sql(rendered).count()
        finally:
            spark.catalog.dropTempView(view)
        out = validate_metric_value_between(
            observed,
            kwargs.get("min_value"),
            kwargs.get("max_value"),
            bool(kwargs.get("strict_min", False)),
            bool(kwargs.get("strict_max", False)),
        )
        out["result"]["details"] = {"query": rendered}
        return out

    def grouped(
        df: DataFrame, spark, domain, partition_column: str
    ) -> Dict[Any, Dict[str, Any]]:
        # every partition's COUNT(*) over its rendered query, chunked
        # UNION ALL — exact (no per-branch limit), one row per partition
        by_part = _grouped_query_rows(
            df, spark, domain, partition_column, query, kwargs,
            count_only=True,
        )
        out: Dict[Any, Dict[str, Any]] = {}
        for part, rows in by_part.items():
            observed = int(rows[0]["__gx_n"]) if rows else 0
            vout = validate_metric_value_between(
                observed,
                kwargs.get("min_value"),
                kwargs.get("max_value"),
                bool(kwargs.get("strict_min", False)),
                bool(kwargs.get("strict_max", False)),
            )
            vout["result"]["details"] = {"query": query}
            out[part] = vout
        return out

    return CompiledJob(run=run, grouped=grouped)


QUERY_RESULT_COLLECT_CAP = 10_000


def _query_template_kwargs(kwargs: Dict[str, Any]) -> Dict[str, Any]:
    """Template variables for user SQL, covering all four reference query
    metric providers in one renderer (``query_metrics/query_column.py:70-95``
    ``{col}``; ``query_column_pair.py:49-67`` ``{column_A}/{column_B}``;
    ``query_multiple_columns.py:51-77`` ``{col_1}..{col_n}``;
    ``query_template_values.py:51-71`` ``{**template_dict}``)."""
    out: Dict[str, Any] = {}
    if kwargs.get("column") is not None:
        out["col"] = kwargs["column"]
        out["column"] = kwargs["column"]
    for key in ("column_A", "column_B"):
        if kwargs.get(key) is not None:
            out[key] = kwargs[key]
    columns = kwargs.get("columns")
    if isinstance(columns, list):
        for i, entry in enumerate(columns, 1):
            out[f"col_{i}"] = entry
    template_dict = kwargs.get("template_dict")
    if isinstance(template_dict, dict):
        out.update(template_dict)
    return out


def _run_templated_query(
    df: DataFrame, spark, domain, query: str, kwargs: Dict[str, Any]
) -> tuple:
    """Render + run user SQL against the batch; returns (rows, rendered).

    The collect is bounded (``limit(cap + 1)`` rides inside the job):
    query expectations are assertions over small result sets, and a
    user query returning table-sized output must fail clearly rather
    than OOM the driver."""
    view = _unique_view_name()
    _apply_domain(df, domain).createOrReplaceTempView(view)
    try:
        rendered = query.format(
            batch=view, active_batch=view, **_query_template_kwargs(kwargs)
        )
        rows = spark.sql(rendered).limit(QUERY_RESULT_COLLECT_CAP + 1).collect()
    finally:
        spark.catalog.dropTempView(view)
    if len(rows) > QUERY_RESULT_COLLECT_CAP:
        raise ValueError(
            f"query returned more than {QUERY_RESULT_COLLECT_CAP} rows; "
            "query expectations assert over small result sets — aggregate "
            "in the SQL itself"
        )
    return rows, rendered


# --- grouped user-SQL (validate_by_partition scale hook) -----------------
# Opaque SQL can't be restructured into one grouped aggregation, but it
# CAN be batched: render the template once per partition (each against a
# partition-filtered temp view), tag each rendered query with its
# partition literal, UNION ALL a chunk of them, and submit ONE Spark job
# per chunk.  Semantics are bit-identical to the per-partition run —
# same SQL, same view shape — while the O(partitions) scheduling term
# drops to O(partitions / chunk).  With a partition-pruned source each
# branch scans only its own files, so a chunk's total I/O equals the
# per-partition total; AQE schedules the branches concurrently inside
# the job.

QUERY_GROUPED_PARTITIONS_PER_JOB = 64
QUERY_GROUPED_PARTITION_CAP = 1_000_000

# CI plan-guard seam: when set, called with each chunk's UNION ALL
# DataFrame before it is collected, so tests can assert the physical
# plan (per-branch PartitionFilters on a pruned source) without
# re-deriving the SQL the hook actually runs.  Never set in production.
_GROUPED_SQL_PLAN_OBSERVER: Optional[Callable[[DataFrame], None]] = None


def _sql_literal(value: Any) -> str:
    """Render a partition value as a Spark SQL literal that round-trips
    through collect() to the same Python value."""
    import datetime

    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, datetime.datetime):
        return f"TIMESTAMP'{value.isoformat(sep=' ')}'"
    if isinstance(value, datetime.date):
        return f"DATE'{value.isoformat()}'"
    escaped = str(value).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{escaped}'"


def _grouped_query_rows(
    df: DataFrame,
    spark,
    domain: Optional[Column],
    partition_column: str,
    query: str,
    kwargs: Dict[str, Any],
    count_only: bool = False,
    per_branch_limit: Optional[int] = None,
) -> Dict[Any, List[Any]]:
    """Run a user-SQL template against EVERY partition in
    O(partitions / chunk) jobs; returns {partition_value: result rows}.

    ``count_only`` wraps each branch in COUNT(*) (exact, one row per
    partition, unbounded-scale).  Otherwise each branch is LIMIT-capped
    at ``per_branch_limit`` (default ``QUERY_RESULT_COLLECT_CAP + 1``) so
    a chunk's collect is bounded by chunk x cap rows; partitions that
    hit the cap are dropped from the mapping, which routes them to the
    per-partition fallback and its exact error message."""
    scoped = _apply_domain(df, domain)
    parts = [
        r[0]
        for r in scoped.select(partition_column)
        .distinct()
        .limit(QUERY_GROUPED_PARTITION_CAP + 1)
        .collect()
    ]
    if len(parts) > QUERY_GROUPED_PARTITION_CAP:
        raise ValueError(
            f"partition cardinality of {partition_column} exceeds "
            f"{QUERY_GROUPED_PARTITION_CAP}"
        )
    parts.sort(key=str)
    cap = (
        QUERY_RESULT_COLLECT_CAP + 1
        if per_branch_limit is None
        else per_branch_limit
    )
    tmpl = _query_template_kwargs(kwargs)
    out: Dict[Any, List[Any]] = {}
    pcol = f"`{partition_column}`"
    for start in range(0, len(parts), QUERY_GROUPED_PARTITIONS_PER_JOB):
        chunk = parts[start : start + QUERY_GROUPED_PARTITIONS_PER_JOB]
        views: List[str] = []
        branches: List[str] = []
        try:
            for value in chunk:
                lit = _sql_literal(value)
                view = _unique_view_name()
                cond = (
                    f"{pcol} IS NULL" if value is None else f"{pcol} <=> {lit}"
                )
                scoped.filter(cond).createOrReplaceTempView(view)
                views.append(view)
                rendered = query.format(
                    batch=view, active_batch=view, **tmpl
                )
                if count_only:
                    branches.append(
                        f"SELECT {lit} AS __gx_part, COUNT(*) AS __gx_n "
                        f"FROM ({rendered}) AS __gx_q"
                    )
                else:
                    branches.append(
                        f"SELECT {lit} AS __gx_part, __gx_q.* FROM ("
                        f"SELECT * FROM ({rendered}) AS __gx_i LIMIT {cap}"
                        f") AS __gx_q"
                    )
            union_df = spark.sql("\nUNION ALL\n".join(branches))
            if _GROUPED_SQL_PLAN_OBSERVER is not None:
                _GROUPED_SQL_PLAN_OBSERVER(union_df)
            rows = union_df.collect()
        finally:
            for view in views:
                spark.catalog.dropTempView(view)
        by_part: Dict[Any, List[Any]] = {value: [] for value in chunk}
        for r in rows:
            tag = r["__gx_part"]
            if tag in by_part:
                by_part[tag].append(r)
            # a tag that fails to round-trip to its partition value would
            # leave that partition absent -> per-partition fallback
        for value, prows in by_part.items():
            if not count_only and len(prows) >= cap:
                continue  # over cap -> per-partition fallback
            out[value] = prows
    return out


@register_query_job("expect_query_results_to_return_no_rows")
def _query_no_rows(kwargs: Dict[str, Any]) -> CompiledJob:
    """User-SQL violation check: ANY row the query returns is a violation
    (the escape hatch for checks not built in — the 'unexpected rows
    query' pattern).  Returned rows surface as unexpected samples."""
    query = kwargs["query"]
    max_rows = int(kwargs.get("max_unexpected_rows", 0))

    def _vout(rows: List[Any], rendered: str) -> Dict[str, Any]:
        sample = []
        for r in rows[:20]:
            d = r.asDict() if hasattr(r, "asDict") else dict(r)
            d.pop("__gx_part", None)
            sample.append(d)
        return {
            "success": len(rows) <= max_rows,
            "result": {
                "observed_value": len(rows),
                "unexpected_count": len(rows),
                "partial_unexpected_list": sample,
                "details": {"query": rendered},
            },
        }

    def run(df: DataFrame, spark, domain) -> Dict[str, Any]:
        rows, rendered = _run_templated_query(df, spark, domain, query, kwargs)
        return _vout(rows, rendered)

    def grouped(
        df: DataFrame, spark, domain, partition_column: str
    ) -> Dict[Any, Dict[str, Any]]:
        # chunked UNION ALL, LIMIT-capped per branch; over-cap partitions
        # fall back per-partition and raise the exact single-run error
        by_part = _grouped_query_rows(
            df, spark, domain, partition_column, query, kwargs
        )
        return {
            part: _vout(
                [r for r in rows], query
            )
            for part, rows in by_part.items()
        }

    return CompiledJob(run=run, grouped=grouped)


@register_query_job("expect_query_value_to_be_between")
def _query_value_between(kwargs: Dict[str, Any]) -> CompiledJob:
    """User SQL returning ONE scalar (first column of first row), bounded
    by min/max — covers the column / pair / multi-column / template-value
    query-metric shapes via the shared template renderer."""
    query = kwargs["query"]

    def run(df: DataFrame, spark, domain) -> Dict[str, Any]:
        rows, rendered = _run_templated_query(df, spark, domain, query, kwargs)
        if len(rows) != 1 or len(rows[0]) < 1:
            raise ValueError(
                f"expected exactly one scalar result row, got {len(rows)} "
                "rows"
            )
        observed = rows[0][0]
        out = validate_metric_value_between(
            observed,
            kwargs.get("min_value"),
            kwargs.get("max_value"),
            bool(kwargs.get("strict_min", False)),
            bool(kwargs.get("strict_max", False)),
        )
        out["result"]["details"] = {"query": rendered}
        return out

    def grouped(
        df: DataFrame, spark, domain, partition_column: str
    ) -> Dict[Any, Dict[str, Any]]:
        # one scalar per partition via chunked UNION ALL; partitions whose
        # query returns != 1 row are omitted -> per-partition fallback
        # raises the exact "expected exactly one scalar" error
        by_part = _grouped_query_rows(
            df, spark, domain, partition_column, query, kwargs,
            per_branch_limit=2,
        )
        out: Dict[Any, Dict[str, Any]] = {}
        for part, rows in by_part.items():
            if len(rows) != 1 or len(rows[0]) < 2:
                continue
            vout = validate_metric_value_between(
                rows[0][1],  # index 0 is the __gx_part tag
                kwargs.get("min_value"),
                kwargs.get("max_value"),
                bool(kwargs.get("strict_min", False)),
                bool(kwargs.get("strict_max", False)),
            )
            vout["result"]["details"] = {"query": query}
            out[part] = vout
        return out

    return CompiledJob(run=run, grouped=grouped)


@register_query_job("expect_queried_column_value_frequency_to_meet_threshold")
def _queried_value_frequency(kwargs: Dict[str, Any]) -> CompiledJob:
    """The reference's canonical QueryExpectation
    (``tests/integration/docusaurus/.../expect_queried_column_value_
    frequency_to_meet_threshold.py``): share of ``value`` in ``column``
    must be >= ``threshold``.  Default query matches the reference's."""
    column = kwargs["column"]
    value = kwargs["value"]
    threshold = float(kwargs.get("threshold", 1.0))
    query = kwargs.get("query") or (
        "SELECT {col}, CAST(COUNT({col}) AS DOUBLE) / "
        "(SELECT COUNT({col}) FROM {active_batch}) "
        "FROM {active_batch} GROUP BY {col}"
    )

    def _vout(rows: List[Any], rendered: str, offset: int = 0) -> Dict[str, Any]:
        frequency = 0.0
        for r in rows:
            if r[offset] == value:
                frequency = float(r[offset + 1])
                break
        return {
            "success": frequency >= threshold,
            "result": {
                "observed_value": frequency,
                "details": {"value": value, "query": rendered},
            },
        }

    def run(df: DataFrame, spark, domain) -> Dict[str, Any]:
        rows, rendered = _run_templated_query(df, spark, domain, query, kwargs)
        return _vout(rows, rendered)

    def grouped(
        df: DataFrame, spark, domain, partition_column: str
    ) -> Dict[Any, Dict[str, Any]]:
        # per-partition (value, frequency) rows via chunked UNION ALL;
        # column 0 is the __gx_part tag, so the lookup shifts by one
        by_part = _grouped_query_rows(
            df, spark, domain, partition_column, query, kwargs
        )
        return {
            part: _vout(rows, query, offset=1)
            for part, rows in by_part.items()
        }

    return CompiledJob(run=run, grouped=grouped)


# --- referential integrity (north rule; the reference can only express
# this as a QueryExpectation, query_metrics/query_template_values.py) -----


def distinct_key_counts(
    base: DataFrame, column: str, group_cols: Optional[List[str]] = None
) -> DataFrame:
    """Fact rows -> one row per distinct ``(group..., key)`` carrying the
    fact row count (``__gx_key``, ``__gx_cnt``).  Map-side partial
    aggregation is what makes the follow-on referential anti-join shuffle
    distinct-key-sized and skew-proof; module-level so the plan-guard
    tests can assert that shape on the exact construction the
    expectation runs."""
    return base.groupBy(
        *(group_cols or []), F.col(column).alias("__gx_key")
    ).agg(F.count(F.lit(1)).alias("__gx_cnt"))


@register_query_job("expect_column_values_to_exist_in_other_table")
def _exists_in_other_table(kwargs: Dict[str, Any]) -> CompiledJob:
    """Every non-null value of ``column`` must exist in
    ``other_table.other_column``.

    ``strategy``:

    * ``'join'`` — reference-parity LEFT ANTI join of the fact rows
      against the deduplicated referenced keys.  When the referenced
      side broadcasts this is map-side with NO shuffle of the fact
      table, which is optimal; without a broadcast it wire-shuffles
      every fact row.
    * ``'aggregate'`` — the 10^12-row path: reduce the fact side to
      distinct ``(key, row_count)`` pairs first (map-side partial
      aggregation combines a hot key per upstream partition — skew
      never concentrates on one reducer), anti-join ONLY the distinct
      keys, and weight violations by the carried counts.  The shuffle
      carries one ~16-byte row per distinct key instead of every fact
      row; for a fact table with any key repetition (lineitem→orders
      is ~4 rows/key; conversation turns → conv registry is
      turns-per-conversation) this cuts shuffle volume by both the
      repetition factor and the row width.
    * ``'auto'`` (default) — ``'join'`` when the referenced side
      broadcasts (nothing beats a shuffle-free map-side anti-join),
      ``'aggregate'`` otherwise (a big-big anti-join must shuffle, so
      shuffle the smallest exact reduction of the data).

    A Bloom prefilter is deliberately NOT offered here: bloom false
    positives would *hide* missing keys (the filter answers "might
    exist", so an absent key can pass), which is also why Spark's own
    runtime bloom-filter injection skips anti-joins.
    """
    column = kwargs["column"]
    other = kwargs["other_table"]  # DataFrame or table name
    other_column = kwargs["other_column"]
    mostly = float(kwargs.get("mostly", 1.0))
    broadcast_other = kwargs.get("broadcast_other")
    strategy = str(kwargs.get("strategy", "auto"))
    if strategy not in ("auto", "join", "aggregate"):
        raise ValueError(
            "strategy must be 'auto', 'join' or 'aggregate', got "
            f"{strategy!r}"
        )

    def _keys_side(spark) -> tuple:
        """(deduplicated referenced keys, was_broadcast)."""
        other_df = other if isinstance(other, DataFrame) else spark.table(other)
        keys = other_df.select(
            F.col(other_column).alias("__gx_key")
        ).dropDuplicates(["__gx_key"])
        small = broadcast_other or (
            broadcast_other is None and _estimate_small(keys)
        )
        return (F.broadcast(keys) if small else keys), bool(small)

    def _expand_partial(rows: List[Any], limit: int) -> List[Any]:
        """Key rows with counts -> value list with multiplicity (the
        shape the row-level anti-join produces), capped at limit."""
        vals: List[Any] = []
        for r in rows:
            take = min(int(r["__gx_cnt"]), limit - len(vals))
            vals.extend([r["__gx_key"]] * take)
            if len(vals) >= limit:
                break
        return vals

    def run(
        df: DataFrame,
        spark,
        domain,
        result_format: Optional[dict] = None,
    ) -> Dict[str, Any]:
        result_format = parse_result_format(result_format or "BASIC")
        scoped = _apply_domain(df, domain)
        keys, small = _keys_side(spark)
        use_agg = strategy == "aggregate" or (
            strategy == "auto" and not small
        )
        base = scoped.filter(F.col(column).isNotNull())
        counts = scoped.agg(
            F.count(F.lit(1)).alias("element_count"),
            F.count(F.col(column)).alias("nonnull_count"),
        ).first()
        unexpected_list: List[Any] = []
        if use_agg:
            fk = distinct_key_counts(base, column)
            missing_keys = fk.join(keys, "__gx_key", "left_anti")
            row = missing_keys.agg(
                F.coalesce(F.sum("__gx_cnt"), F.lit(0)).alias("u")
            ).first()
            unexpected_count = int(row["u"])
            if (
                unexpected_count
                and result_format["result_format"] != "BOOLEAN_ONLY"
            ):
                limit = (
                    unexpected_count
                    if result_format["result_format"] == "COMPLETE"
                    else result_format["partial_unexpected_count"]
                )
                unexpected_list = _expand_partial(
                    missing_keys.select("__gx_key", "__gx_cnt")
                    .limit(limit)
                    .collect(),
                    limit,
                )
            return format_map_output(
                result_format,
                success=map_expectation_success(
                    int(counts["element_count"]),
                    int(counts["nonnull_count"]),
                    unexpected_count,
                    mostly,
                ),
                element_count=int(counts["element_count"]),
                nonnull_count=int(counts["nonnull_count"]),
                unexpected_count=unexpected_count,
                unexpected_list=unexpected_list,
            )
        missing = base.join(
            keys, base[column] == keys["__gx_key"], "left_anti"
        )
        unexpected_count = missing.count()
        if (
            unexpected_count
            and result_format["result_format"] != "BOOLEAN_ONLY"
        ):
            limit = (
                unexpected_count
                if result_format["result_format"] == "COMPLETE"
                else result_format["partial_unexpected_count"]
            )
            unexpected_list = [
                r[column]
                for r in missing.select(column).limit(limit).collect()
            ]
        element_count = int(counts["element_count"])
        nonnull_count = int(counts["nonnull_count"])
        success = map_expectation_success(
            element_count, nonnull_count, unexpected_count, mostly
        )
        return format_map_output(
            result_format,
            success=success,
            element_count=element_count,
            nonnull_count=nonnull_count,
            unexpected_count=unexpected_count,
            unexpected_list=unexpected_list,
        )

    def grouped(
        df: DataFrame, spark, domain, partition_column: str
    ) -> Dict[Any, Dict[str, Any]]:
        """All partitions in TWO jobs: one grouped count pass, one grouped
        anti-join — job count is independent of partition count.  Under
        ``strategy='aggregate'`` (or auto without a broadcast) the
        anti-join shuffles distinct ``(partition, key, count)`` triples
        instead of fact rows, same as the ungrouped path."""
        result_format = parse_result_format("BASIC")
        scoped = _apply_domain(df, domain)
        keys, small = _keys_side(spark)
        use_agg = strategy == "aggregate" or (
            strategy == "auto" and not small
        )
        counts = {
            r[partition_column]: r
            for r in scoped.groupBy(partition_column).agg(
                F.count(F.lit(1)).alias("element_count"),
                F.count(F.col(column)).alias("nonnull_count"),
            ).collect()
        }
        base = scoped.filter(F.col(column).isNotNull())
        if use_agg:
            fk = distinct_key_counts(base, column, [partition_column])
            missing = {
                r[partition_column]: int(r["u"])
                for r in fk.join(keys, "__gx_key", "left_anti")
                .groupBy(partition_column)
                .agg(F.sum("__gx_cnt").alias("u"))
                .collect()
            }
        else:
            missing = {
                r[partition_column]: int(r["u"])
                for r in base.join(
                    keys, base[column] == keys["__gx_key"], "left_anti"
                )
                .groupBy(partition_column)
                .agg(F.count(F.lit(1)).alias("u"))
                .collect()
            }
        out: Dict[Any, Dict[str, Any]] = {}
        for part, row in counts.items():
            element_count = int(row["element_count"])
            nonnull_count = int(row["nonnull_count"])
            unexpected_count = missing.get(part, 0)
            success = map_expectation_success(
                element_count, nonnull_count, unexpected_count, mostly
            )
            out[part] = format_map_output(
                result_format,
                success=success,
                element_count=element_count,
                nonnull_count=nonnull_count,
                unexpected_count=unexpected_count,
                unexpected_list=[],
            )
        return out

    return CompiledJob(run=run, grouped=grouped)


@register_query_job("expect_column_distribution_to_match_sketched_history")
def _match_sketched_history(kwargs: Dict[str, Any]) -> CompiledJob:
    """Continuous drift gate against ACCUMULATED history: the baseline is
    the checkpoint sketch store's merged histogram (every partition ever
    validated, never re-scanned), the batch is binned in one aggregation,
    and the suite judges PSI / chi-square p thresholds.  The reference's
    KL/chi² expectations compare against a STATIC partition_object; here
    the baseline grows with each checkpointed run, which is the shape a
    10^12-row daily pipeline actually needs (reference
    ``expectations/core/expect_column_kl_divergence_to_be_less_than.py``
    for the static counterpart).

    kwargs: ``column``; ``store_dir`` (the run_checkpoint checkpoint
    dir); ``max_psi`` and/or ``min_chi2_p`` (at least one);
    ``histogram_edges`` optional (defaults to the edges the stored
    records agree on).
    """
    column = kwargs["column"]
    store_dir = kwargs["store_dir"]
    max_psi = kwargs.get("max_psi")
    min_chi2_p = kwargs.get("min_chi2_p")
    edges = kwargs.get("histogram_edges")
    if max_psi is None and min_chi2_p is None:
        raise ValueError(
            "expect_column_distribution_to_match_sketched_history needs "
            "max_psi and/or min_chi2_p"
        )

    def _store():
        from great_expectations_spark.checkpoint.sketches import (
            PartitionSketchStore,
        )

        return PartitionSketchStore(
            store_dir,
            histogram_edges={column: edges} if edges else None,
        )

    def _judge(out: Dict[str, Any]) -> Dict[str, Any]:
        success = True
        if max_psi is not None and out["psi"] > float(max_psi):
            success = False
        if min_chi2_p is not None and out["chi2_p"] < float(min_chi2_p):
            success = False
        return {
            "success": success,
            "result": {
                "observed_value": out["psi"],
                "details": {
                    k: out[k]
                    for k in (
                        "psi", "kl", "chi2", "chi2_p", "edges",
                        "history_counts", "new_counts",
                    )
                },
            },
        }

    def run(df: DataFrame, spark, domain) -> Dict[str, Any]:
        return _judge(
            _store().drift_vs_history(_apply_domain(df, domain), column)
        )

    def grouped(
        df: DataFrame, spark, domain, partition_column: str
    ) -> Dict[Any, Dict[str, Any]]:
        """Every partition's drift vs the shared history in ONE grouped
        binning job (validate_by_partition's O(1)-jobs contract)."""
        per_part = _store().drift_vs_history_by_group(
            _apply_domain(df, domain), partition_column, column
        )
        return {part: _judge(out) for part, out in per_part.items()}

    return CompiledJob(run=run, grouped=grouped)


@register_query_job("expect_corpus_substring_duplication_to_be_less_than")
def _substring_duplication(kwargs: Dict[str, Any]) -> CompiledJob:
    """Corpus-level ExactSubstr duplication gate (no reference analog —
    Lee et al. 2021's dedup criterion expressed as an expectation): the
    fraction of words covered by an n-gram span occurring >= min_count
    times corpus-wide must stay below ``threshold``.

    ``observed_value`` is the duplicated-word fraction; ``details``
    carries the raw totals.  Two Spark jobs: one narrow word-count agg,
    one ``functions.dedup.repeated_spans`` pass (see its docstring for
    the 10^12-token plan shape).  Without ``id_column`` each row is its
    own document via ``monotonically_increasing_id`` — valid because
    ``keep='none'`` span semantics don't depend on id values."""
    column = kwargs.get("column", "text")
    id_column = kwargs.get("id_column")
    n = int(kwargs.get("n", 50))
    min_count = int(kwargs.get("min_count", 2))
    threshold = float(kwargs["threshold"])

    def run(df: DataFrame, spark, domain) -> Dict[str, Any]:
        from great_expectations_spark.functions.dedup import repeated_spans
        from great_expectations_spark.functions.text import normalize_text

        scoped = _apply_domain(df, domain)
        if id_column is not None:
            d, did = scoped.select(id_column, column), id_column
        else:
            d, did = (
                scoped.select(
                    F.monotonically_increasing_id().alias("__gx_doc"),
                    column,
                ),
                "__gx_doc",
            )
        text = F.col(column)
        word_n = F.when(
            text.isNull() | (F.length(normalize_text(text)) == 0), F.lit(0)
        ).otherwise(F.size(F.split(normalize_text(text), " ")))
        total = d.agg(F.sum(word_n).alias("t")).first()["t"] or 0
        dup_row = (
            repeated_spans(
                d, doc_id=did, text_column=column, n=n, min_count=min_count
            )
            .agg(
                F.coalesce(F.sum("n_dup_words"), F.lit(0)).alias("d"),
                F.count(F.lit(1)).alias("docs"),
            )
            .first()
        )
        dup, docs = int(dup_row["d"]), int(dup_row["docs"])
        observed = (dup / total) if total else 0.0
        return {
            "success": observed < threshold,
            "result": {
                "observed_value": round(observed, 6),
                "details": {
                    "n": n,
                    "min_count": min_count,
                    "duplicated_words": dup,
                    "total_words": int(total),
                    "documents_with_duplicates": docs,
                },
            },
        }

    return CompiledJob(run=run)


def _estimate_small(df: DataFrame, threshold_rows: int = 5_000_000) -> bool:
    """Cheap broadcastability heuristic without an action: trust AQE unless
    the plan statistics clearly exceed the threshold."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return stats.sizeInBytes() <= 64 * 1024 * 1024
    except Exception:
        return False


def compile_query_job_expectation(
    expectation_type: str, kwargs: Dict[str, Any]
) -> CompiledJob:
    try:
        compiler = QUERY_JOB_COMPILERS[expectation_type]
    except KeyError:
        raise KeyError(f"no job compiler for {expectation_type!r}")
    return compiler(kwargs)
