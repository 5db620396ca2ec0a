"""Driver-built DataFrames that start no Python worker.

``spark.createDataFrame(list_of_tuples)`` pickles the rows into a Python
RDD (``Scan ExistingRDD``), so the first action over it forks the PySpark
daemon and its workers — a process start that costs far more than the
few rows it carries.  A ``pyarrow.Table`` handed to ``createDataFrame``
travels to the JVM as Arrow batches instead and is scanned there
(``LocalTableScan``): no Python process starts, and the cost is the
bytes sent.  Every frame the package builds from driver-side values (the
sketch store's merges, the result logs) goes through :func:`arrow_frame`.
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence, Union

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string


def arrow_frame(
    spark: SparkSession,
    columns: Mapping[str, Sequence[Any]],
    schema: Union[str, StructType],
) -> DataFrame:
    """``{column: values}`` -> DataFrame typed by ``schema`` (a DDL
    string or a ``StructType`` naming the same columns).  Every column
    holds one value per row, ``None`` for null; struct values are dicts
    keyed by field name."""
    struct = (
        schema
        if isinstance(schema, StructType)
        else _parse_datatype_string(schema)
    )
    arrow_schema = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [
            pa.array(list(columns[f.name]), type=arrow_schema.field(i).type)
            for i, f in enumerate(struct.fields)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def arrow_rows_frame(
    spark: SparkSession,
    rows: Sequence[Sequence[Any]],
    schema: Union[str, StructType],
) -> DataFrame:
    """Row tuples -> DataFrame through :func:`arrow_frame`."""
    struct = (
        schema
        if isinstance(schema, StructType)
        else _parse_datatype_string(schema)
    )
    return arrow_frame(
        spark,
        {f.name: [r[i] for r in rows] for i, f in enumerate(struct.fields)},
        struct,
    )
