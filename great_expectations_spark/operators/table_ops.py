"""Schema-only and cross-table expectations — no scan of the batch needed
for the schema family (reference resolves these from ``df.schema``:
``table_column_types.py:79-140``, ``expect_column_values_to_be_of_type.py:
418-439``).
"""

from __future__ import annotations

from typing import Any, Callable, Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as sparktypes

from great_expectations_spark.plans.specs import (
    CompiledJob,
    CompiledSchemaCheck,
    group_key,
)

SCHEMA_COMPILERS: Dict[str, Callable[[Dict[str, Any]], CompiledSchemaCheck]] = {}
JOB_COMPILERS: Dict[str, Callable[[Dict[str, Any]], CompiledJob]] = {}


def register_schema(name: str):
    def deco(fn):
        SCHEMA_COMPILERS[name] = fn
        return fn

    return deco


def register_job(name: str):
    def deco(fn):
        JOB_COMPILERS[name] = fn
        return fn

    return deco


def flattened_column_types(schema: sparktypes.StructType) -> Dict[str, Any]:
    """Walk the schema recursively flattening nested struct children into
    dotted names (reference ``table_column_types.py:79-140``)."""
    out: Dict[str, Any] = {}

    def walk(prefix: str, struct: sparktypes.StructType) -> None:
        for field in struct.fields:
            name = f"{prefix}{field.name}"
            out[name] = field.dataType
            if isinstance(field.dataType, sparktypes.StructType):
                walk(f"{name}.", field.dataType)

    walk("", schema)
    return out


@register_schema("expect_column_to_exist")
def _column_to_exist(kwargs: Dict[str, Any]) -> CompiledSchemaCheck:
    column = kwargs["column"]
    column_index = kwargs.get("column_index")

    def validate(df: DataFrame) -> Dict[str, Any]:
        columns = list(flattened_column_types(df.schema))
        if column not in columns:
            return {"success": False, "result": {}}
        if column_index is not None and (
            column_index >= len(df.columns)
            or df.columns[column_index] != column
        ):
            return {"success": False, "result": {}}
        return {"success": True, "result": {}}

    return CompiledSchemaCheck(validate=validate)


@register_schema("expect_table_columns_to_match_set")
def _columns_match_set(kwargs: Dict[str, Any]) -> CompiledSchemaCheck:
    column_set = set(kwargs.get("column_set") or [])
    exact_match = kwargs.get("exact_match", True)

    def validate(df: DataFrame) -> Dict[str, Any]:
        observed = list(df.columns)
        observed_set = set(observed)
        if exact_match in (None, True):
            success = observed_set == column_set
        else:
            success = column_set <= observed_set
        details: Dict[str, Any] = {}
        unexpected = sorted(observed_set - column_set)
        missing = sorted(column_set - observed_set)
        if unexpected or missing:
            details = {
                "mismatched": {
                    "unexpected": unexpected,
                    "missing": missing,
                }
            }
        result: Dict[str, Any] = {"observed_value": observed}
        if details:
            result["details"] = details
        return {"success": bool(success), "result": result}

    return CompiledSchemaCheck(validate=validate)


@register_schema("expect_table_columns_to_match_ordered_list")
def _columns_match_ordered(kwargs: Dict[str, Any]) -> CompiledSchemaCheck:
    vacuous = kwargs.get("column_list") is None
    column_list = list(kwargs.get("column_list") or [])

    def validate(df: DataFrame) -> Dict[str, Any]:
        observed = list(df.columns)
        if vacuous:
            return {"success": True, "result": {"observed_value": observed}}
        success = observed == column_list
        result: Dict[str, Any] = {"observed_value": observed}
        if not success:
            mismatched = [
                {"Expected Column Position": i, "Expected": exp, "Found": got}
                for i, (exp, got) in enumerate(
                    zip(
                        column_list + [None] * max(0, len(observed) - len(column_list)),
                        observed + [None] * max(0, len(column_list) - len(observed)),
                    )
                )
                if exp != got
            ]
            result["details"] = {"mismatched": mismatched}
        return {"success": success, "result": result}

    return CompiledSchemaCheck(validate=validate)


@register_schema("expect_table_column_count_to_equal")
def _column_count_equal(kwargs: Dict[str, Any]) -> CompiledSchemaCheck:
    value = int(kwargs["value"])

    def validate(df: DataFrame) -> Dict[str, Any]:
        observed = len(df.columns)
        return {"success": observed == value, "result": {"observed_value": observed}}

    return CompiledSchemaCheck(validate=validate)


@register_schema("expect_table_column_count_to_be_between")
def _column_count_between(kwargs: Dict[str, Any]) -> CompiledSchemaCheck:
    from great_expectations_spark.core.result_format import (
        validate_metric_value_between,
    )

    min_value, max_value = kwargs.get("min_value"), kwargs.get("max_value")
    for name, v in (("min_value", min_value), ("max_value", max_value)):
        if v is not None and (isinstance(v, bool) or not isinstance(v, int)):
            raise ValueError(f"{name} must be an integer")
    if min_value is not None and max_value is not None and min_value > max_value:
        raise ValueError(
            "Minimum Threshold cannot be larger than Maximum Threshold"
        )

    def validate(df: DataFrame) -> Dict[str, Any]:
        return validate_metric_value_between(
            len(df.columns),
            kwargs.get("min_value"),
            kwargs.get("max_value"),
            bool(kwargs.get("strict_min", False)),
            bool(kwargs.get("strict_max", False)),
        )

    return CompiledSchemaCheck(validate=validate)


_NATIVE_TYPE_MAP = {
    # python/pandas-ish names → Spark type classes (reference
    # expect_column_values_to_be_of_type.py:626-647)
    "str": sparktypes.StringType,
    "string": sparktypes.StringType,
    "int": sparktypes.LongType,
    "int64": sparktypes.LongType,
    "int32": sparktypes.IntegerType,
    "float": sparktypes.DoubleType,
    "float64": sparktypes.DoubleType,
    "bool": sparktypes.BooleanType,
    "datetime64": sparktypes.TimestampType,
    "datetime": sparktypes.TimestampType,
    "date": sparktypes.DateType,
}


def _resolve_type_class(name: str):
    cls = getattr(sparktypes, name, None)
    if isinstance(cls, type) and issubclass(cls, sparktypes.DataType):
        return cls
    return _NATIVE_TYPE_MAP.get(name.lower())


def _type_check(df: DataFrame, column: str, type_names: List[str]) -> Dict[str, Any]:
    types = flattened_column_types(df.schema)
    if column not in types:
        return {"success": False, "result": {"observed_value": None}}
    actual = types[column]
    observed = type(actual).__name__
    if not type_names or all(t is None for t in type_names):
        return {"success": True, "result": {"observed_value": observed}}
    success = False
    for name in type_names:
        if name is None:
            continue
        cls = _resolve_type_class(name)
        if cls is not None and isinstance(actual, cls):
            success = True
            break
    return {"success": success, "result": {"observed_value": observed}}


@register_schema("expect_column_values_to_be_of_type")
def _of_type(kwargs: Dict[str, Any]) -> CompiledSchemaCheck:
    column, type_ = kwargs["column"], kwargs.get("type_")

    def validate(df: DataFrame) -> Dict[str, Any]:
        return _type_check(df, column, [type_])

    return CompiledSchemaCheck(validate=validate)


@register_schema("expect_column_values_to_be_in_type_list")
def _in_type_list(kwargs: Dict[str, Any]) -> CompiledSchemaCheck:
    column = kwargs["column"]
    type_list = list(kwargs.get("type_list") or [])

    def validate(df: DataFrame) -> Dict[str, Any]:
        return _type_check(df, column, type_list)

    return CompiledSchemaCheck(validate=validate)


# --- cross-table (reference skips on Spark, sparkdf_execution_engine.py:
# 505-509 / self_check/util.py:2060 — ours supports it natively) ----------


@register_job("expect_table_row_count_to_equal_other_table")
def _row_count_equal_other(kwargs: Dict[str, Any]) -> CompiledJob:
    # DataFrame or table/view name; ``other_table_name`` is the reference's
    # kwarg spelling (expectations/core/expect_table_row_count_to_equal_
    # other_table.py — sqlalchemy-only there, native here)
    other = kwargs.get("other_table", kwargs.get("other_table_name"))
    if other is None:
        raise ValueError("other_table (DataFrame or table name) is required")

    def evaluate(df: DataFrame, spark, domain, group_by, result_format):
        # every group's row count in one job, the other table's in one
        other_df = other if isinstance(other, DataFrame) else spark.table(other)
        other_count = other_df.count()
        return {
            group_key(r, group_by): {
                "success": r["count"] == other_count,
                "result": {
                    "observed_value": {
                        "self": r["count"],
                        "other": other_count,
                    }
                },
            }
            for r in df.groupBy(*group_by).count().collect()
        }

    return CompiledJob(evaluate=evaluate)


def table_head(
    df: DataFrame,
    n_rows: int = 5,
    fetch_all: bool = False,
    domain=None,
) -> List[Dict[str, Any]]:
    """First rows of the batch as dicts (reference
    ``table_metrics/table_head.py:195-224``: ``fetch_all`` collects
    everything; negative ``n_rows`` counts from the end, pandas-style).
    ``df.limit(n)`` keeps the fetch a single partial scan — no sort, no
    full materialization."""
    if domain is not None:
        df = df.filter(domain)
    if fetch_all:
        rows = df.collect()
    elif n_rows >= 0:
        rows = df.limit(n_rows).collect()
    else:
        total = df.count()
        rows = df.limit(max(total + n_rows, 0)).collect()
    return [r.asDict() for r in rows]


def compile_schema_expectation(
    expectation_type: str, kwargs: Dict[str, Any]
) -> CompiledSchemaCheck:
    return SCHEMA_COMPILERS[expectation_type](kwargs)


def compile_job_expectation(
    expectation_type: str, kwargs: Dict[str, Any]
) -> CompiledJob:
    return JOB_COMPILERS[expectation_type](kwargs)
