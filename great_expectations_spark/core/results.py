"""Validation-result dataclasses.

Shape parity with the reference:
* ``ExpectationValidationResult`` — reference
  ``core/expectation_validation_result.py:84-113``
* ``ExpectationSuiteValidationResult`` (statistics + meta) — reference
  ``core/expectation_validation_result.py:494-519`` assembled at
  ``validator/validator.py:1659-1686``.
"""

from __future__ import annotations

import datetime
import json
import math
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional


def convert_to_json_serializable(value: Any) -> Any:
    """Normalize numpy / datetime / Decimal / Row-ish values so results are
    plain-JSON (reference: ``sparkdf_execution_engine.py:789-791``)."""
    import numpy as np

    if value is None or isinstance(value, (bool, str)):
        return value
    if isinstance(value, (np.bool_,)):
        return bool(value)
    if isinstance(value, (int, np.integer)):
        return int(value)
    if isinstance(value, (float, np.floating)):
        value = float(value)
        return None if math.isnan(value) else value
    if isinstance(value, (datetime.datetime, datetime.date)):
        return value.isoformat()
    if isinstance(value, datetime.timedelta):
        return value.total_seconds()
    if isinstance(value, bytes):
        return value.hex()
    if isinstance(value, dict):
        return {str(k): convert_to_json_serializable(v) for k, v in value.items()}
    if isinstance(value, (list, tuple, set)):
        return [convert_to_json_serializable(v) for v in value]
    if hasattr(value, "asDict"):  # pyspark Row
        return convert_to_json_serializable(value.asDict())
    if hasattr(value, "item"):  # 0-d numpy
        return convert_to_json_serializable(value.item())
    return value


class ExpectationConfigView(dict):
    """The stored expectation config, readable both ways: as the plain
    dict this engine serializes (``cfg["expectation_type"]``) and with
    the reference's attribute style
    (``result.expectation_config.expectation_type`` / ``.kwargs`` —
    reference ``core/expectation_configuration.py``), so code written
    against the reference's result objects runs unchanged."""

    def __getattr__(self, name: str) -> Any:
        try:
            return self[name]
        except KeyError:
            raise AttributeError(name) from None


@dataclass
class ExpectationValidationResult:
    success: bool
    expectation_config: Dict[str, Any]
    result: Dict[str, Any] = field(default_factory=dict)
    exception_info: Dict[str, Any] = field(
        default_factory=lambda: {
            "raised_exception": False,
            "exception_traceback": None,
            "exception_message": None,
        }
    )
    meta: Dict[str, Any] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if isinstance(self.expectation_config, dict) and not isinstance(
            self.expectation_config, ExpectationConfigView
        ):
            self.expectation_config = ExpectationConfigView(
                self.expectation_config
            )

    def to_json_dict(self) -> Dict[str, Any]:
        return {
            "success": bool(self.success),
            "expectation_config": convert_to_json_serializable(
                self.expectation_config
            ),
            "result": convert_to_json_serializable(self.result),
            "exception_info": convert_to_json_serializable(self.exception_info),
            "meta": convert_to_json_serializable(self.meta),
        }


@dataclass
class ExpectationSuiteValidationResult:
    success: bool
    results: List[ExpectationValidationResult]
    statistics: Dict[str, Any]
    meta: Dict[str, Any] = field(default_factory=dict)
    evaluation_parameters: Dict[str, Any] = field(default_factory=dict)

    def to_json_dict(self) -> Dict[str, Any]:
        return {
            "success": bool(self.success),
            "results": [r.to_json_dict() for r in self.results],
            "statistics": convert_to_json_serializable(self.statistics),
            "meta": convert_to_json_serializable(self.meta),
            "evaluation_parameters": convert_to_json_serializable(
                self.evaluation_parameters
            ),
        }

    def to_json(self) -> str:
        return json.dumps(self.to_json_dict(), sort_keys=True)


def suite_result(
    suite_name: str,
    results: List[ExpectationValidationResult],
    evaluation_parameters: Dict[str, Any],
    run_id: str,
    started: datetime.datetime,
    finished: datetime.datetime,
    batch_meta: Optional[Dict[str, Any]] = None,
) -> ExpectationSuiteValidationResult:
    """A suite's result: success = all, evaluated/successful/
    unsuccessful/success_percent statistics (reference:
    ``validator/validator.py:1659-1686``) and the reference meta shape
    (``batch_spec`` and ``batch_markers`` always present).  Callers with
    real lineage (fluent assets, the checkpoint runner) add or override
    meta keys through ``batch_meta``."""
    evaluated = len(results)
    successful = sum(1 for r in results if r.success)
    return ExpectationSuiteValidationResult(
        success=successful == evaluated,
        results=results,
        statistics={
            "evaluated_expectations": evaluated,
            "successful_expectations": successful,
            "unsuccessful_expectations": evaluated - successful,
            "success_percent": (
                successful / evaluated * 100 if evaluated else None
            ),
        },
        meta={
            "great_expectations_version": "gx-spark-0.1",
            "expectation_suite_name": suite_name,
            "run_id": run_id,
            "validation_time": started.isoformat(),
            "validation_duration_sec": (finished - started).total_seconds(),
            "batch_spec": {"type": "runtime_dataframe"},
            "batch_markers": {
                "ge_load_time": started.strftime("%Y%m%dT%H%M%S.%fZ")
            },
            **(batch_meta or {}),
        },
        evaluation_parameters=evaluation_parameters,
    )
