"""Independent DuckDB oracle for the benchmark's expectation suites.

Recomputes, straight from the parquet files, every expectation's
``unexpected_count`` (map and window expectations), ``observed_value``
(aggregates, drift statistics) and success flag — for the whole table, or
per partition of a SQL key (day).  ``compare`` then checks the
``digest`` of an engine ``ExpectationSuiteValidationResult`` against the
oracle row for its partition and returns the list of mismatches.

Window expectations are evaluated over whole conversations
(``PARTITION BY conv_id ORDER BY turn_idx``) and attributed to the
partition of the flagged row, which is the engine's semantics for
partitions that conversation keys nest in (days).
"""

from __future__ import annotations

import math
from typing import Any, Dict, List, Optional

import duckdb

ROLES = ("system", "user", "assistant", "tool")
TOOLS = ("search", "python", "browser")
MAX_TEXT = 20_000
# distinct-count sketches are accepted within 4 of their relative standard
# errors of the exact count, plus 2 for hash collisions at tiny counts:
# approx_count_distinct runs at rsd 0.05 (the engine's default), the
# checkpoint's HLL store at lg_k 12 (1.04 / sqrt(2^12))
APPROX_DISTINCT_RSD = 0.05
SKETCH_RSD = 1.04 / 2 ** 6
REL_TOL = 1e-9


def _in(values) -> str:
    return ", ".join(f"'{v}'" for v in values)


def connect(threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def table_view(con, table_dir: str) -> None:
    """Register ``t`` over the hive-partitioned table."""
    con.execute(
        "CREATE OR REPLACE VIEW t AS SELECT *, strftime(day, '%Y-%m-%d') "
        f"AS day_s FROM read_parquet('{table_dir}/*/*.parquet', "
        "hive_partitioning = 1)"
    )


def suite_counts(con, key: Optional[str]) -> Dict[str, Dict[str, Any]]:
    """Per-partition counts for the default transcript suite; ``key`` is a
    column of ``t`` (``None`` = one whole-table partition ``'*'``)."""
    k = key or "'*'"
    rows = con.execute(
        f"""
        WITH flagged AS (
            SELECT *,
                count(*) OVER (PARTITION BY conv_id, turn_idx) AS key_n,
                lag(ts) OVER w AS prev_ts,
                lag(turn_idx) OVER w AS prev_idx
            FROM t
            WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        )
        SELECT {k} AS part,
            count(*) AS n,
            count(conv_id) AS n_conv, count(turn_idx) AS n_turn,
            count(text) AS n_text, count(role) AS n_role,
            count(tool) AS n_tool, count(ts) AS n_ts,
            count(*) FILTER (role NOT IN ({_in(ROLES)})) AS bad_role,
            count(*) FILTER (tool NOT IN ({_in(TOOLS)})) AS bad_tool,
            count(*) FILTER (turn_idx < 0) AS bad_turn,
            count(*) FILTER (length(text) < 1 OR length(text) > {MAX_TEXT})
                AS bad_len,
            count(*) FILTER (conv_id IS NOT NULL AND turn_idx IS NOT NULL
                             AND key_n > 1) AS dup_rows,
            count(*) FILTER (prev_ts IS NOT NULL AND ts < prev_ts)
                AS bad_order,
            count(*) FILTER (turn_idx > 0 AND (prev_idx IS NULL
                             OR prev_idx < turn_idx - 1)) AS gaps,
            avg(turn_idx) AS mean_turn,
            count(DISTINCT conv_id) AS distinct_conv
        FROM flagged
        GROUP BY ALL
        """
    ).fetchall()
    cols = [d[0] for d in con.description]
    return {str(r[0]): dict(zip(cols, r)) for r in rows}


def _map_success(considered: int, unexpected: int, mostly: float) -> bool:
    if not considered:
        return True
    return (considered - unexpected) / considered >= mostly


def expected_results(c: Dict[str, Any]) -> List[Dict[str, Any]]:
    """Expected (unexpected_count | observed_value, success) per
    expectation of ``datagen``'s default suite, in suite order."""
    n = c["n"]

    def m(considered, unexpected, mostly=1.0):
        ok = True if not n else _map_success(considered, unexpected, mostly)
        return {"unexpected_count": unexpected, "success": ok}

    return [
        m(n, n - c["n_conv"]),
        m(n, n - c["n_turn"]),
        m(n, n - c["n_text"], 0.995),
        m(c["n_role"], c["bad_role"], 0.999),
        m(c["n_tool"], c["bad_tool"]),
        m(c["n_turn"], c["bad_turn"]),
        m(c["n_text"], c["bad_len"]),
        m(n, c["dup_rows"], 0.99),
        m(c["n_ts"], c["bad_order"], 0.99),
        m(c["n_turn"], c["gaps"], 0.99),
        {"observed_value": float(c["mean_turn"]), "success": True},
        {"approx_distinct": c["distinct_conv"], "success": True},
    ]


def drift_results(
    con, drift_date: str, ks_bins: List[float], ks_threshold: float,
    chi2_p: float,
) -> List[Dict[str, Any]]:
    """Whole-table two-sample KS (turn_idx, explicit bins) and chi-square
    (role) drift split at ``drift_date``, as ``expected_results`` rows."""
    side = f"day < DATE '{drift_date}'"
    n_bins = len(ks_bins) - 1
    bin_aggs = []
    for i in range(n_bins):
        lo, hi = ks_bins[i], ks_bins[i + 1]
        upper = f"turn_idx <= {hi}" if i == n_bins - 1 else f"turn_idx < {hi}"
        cond = f"turn_idx >= {lo} AND {upper}"
        bin_aggs.append(f"count(*) FILTER ({side} AND {cond})")
        bin_aggs.append(f"count(*) FILTER (NOT ({side}) AND {cond})")
    row = con.execute(
        f"SELECT count(*) FILTER ({side}), count(*) FILTER (NOT ({side})), "
        + ", ".join(bin_aggs)
        + " FROM t WHERE turn_idx IS NOT NULL"
    ).fetchone()
    n_base, n_cur = row[0], row[1]
    cdf_b = cdf_c = 0.0
    ks = 0.0
    for i in range(n_bins):
        cdf_b += row[2 + 2 * i] / (n_base or 1)
        cdf_c += row[3 + 2 * i] / (n_cur or 1)
        ks = max(ks, abs(cdf_b - cdf_c))

    cats = con.execute(
        f"SELECT role, count(*) FILTER ({side}), count(*) FILTER "
        f"(NOT ({side})) FROM t WHERE role IS NOT NULL GROUP BY role"
    ).fetchall()
    obs = [float(r[2]) for r in cats]
    exp = [float(r[1]) for r in cats]
    scale = sum(obs) / sum(exp) if sum(exp) > 0 else 1.0
    stat, dof = 0.0, -1
    for o, e in zip(obs, exp):
        if e > 0:
            e *= scale
            stat += (o - e) ** 2 / e
            dof += 1
    p = chi2_sf(stat, dof) if dof > 0 else 1.0
    return [
        {"observed_value": ks, "success": ks < ks_threshold},
        {"statistic": stat, "success": p > chi2_p},
    ]


def chi2_sf(x: float, dof: int) -> float:
    """Chi-square survival function, closed form for integer ``dof``."""
    if x <= 0:
        return 1.0
    half = x / 2.0
    if dof % 2 == 0:
        term = total = math.exp(-half)
        for i in range(1, dof // 2):
            term *= half / i
            total += term
        return total
    total = math.erfc(math.sqrt(half))
    term = math.sqrt(2.0 * x / math.pi) * math.exp(-half)
    for i in range(1, (dof + 1) // 2):
        total += term
        term *= x / (2 * i + 1)
    return total


def close(a: Any, b: Any) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-12)


def compare(got: Dict[str, Any], expected: List[Dict[str, Any]]) -> List[str]:
    """Mismatches between an engine result ``digest`` and the oracle."""
    rows = got["results"]
    if len(rows) != len(expected):
        return [f"{len(rows)} results, expected {len(expected)}"]
    out = []
    for g, e in zip(rows, expected):
        etype = g["type"]
        if g["raised"]:
            out.append(f"{etype}: raised {g['exception']}")
            continue
        if g["success"] != e["success"]:
            out.append(f"{etype}: success {g['success']} != {e['success']}")
        if "unexpected_count" in e and g["unexpected_count"] != e[
            "unexpected_count"
        ]:
            out.append(
                f"{etype}: unexpected_count {g['unexpected_count']} != "
                f"{e['unexpected_count']}"
            )
        if "observed_value" in e and not close(
            g["observed_value"], e["observed_value"]
        ):
            out.append(
                f"{etype}: observed_value {g['observed_value']} != "
                f"{e['observed_value']}"
            )
        if "approx_distinct" in e and not within_hll(
            g["observed_value"], e["approx_distinct"], APPROX_DISTINCT_RSD
        ):
            out.append(
                f"{etype}: distinct {g['observed_value']} not within the "
                f"HLL error bound of {e['approx_distinct']}"
            )
        if "statistic" in e and not close(g["statistic"], e["statistic"]):
            out.append(
                f"{etype}: statistic {g['statistic']} != {e['statistic']}"
            )
    suite_ok = all(e["success"] for e in expected)
    if got["success"] != suite_ok:
        out.append(f"suite success {got['success']} != {suite_ok}")
    return out


def within_hll(estimate: Any, exact: int, rsd: float) -> bool:
    if estimate is None:
        return False
    return abs(float(estimate) - exact) <= 4 * rsd * exact + 2


def table_stats(con) -> Dict[str, Any]:
    """Exact distinct counts and turn_idx moments of the whole table, for
    the checkpoint's merged sketch answers."""
    row = con.execute(
        "SELECT count(DISTINCT conv_id), count(DISTINCT turn_idx), "
        "count(turn_idx), avg(turn_idx), min(turn_idx), max(turn_idx) FROM t"
    ).fetchone()
    return {
        "distinct": {"conv_id": row[0], "turn_idx": row[1]},
        "moments": {
            "count": row[2], "mean": row[3], "min": row[4], "max": row[5],
        },
    }


def digest(result: Dict[str, Any]) -> Dict[str, Any]:
    """The parts of an engine result (JSON dict) the oracle checks."""
    rows = []
    for g in result["results"]:
        r = g.get("result") or {}
        rows.append({
            "type": g["expectation_config"]["expectation_type"],
            "success": bool(g["success"]),
            "raised": bool(g["exception_info"].get("raised_exception")),
            "exception": g["exception_info"].get("exception_message"),
            "unexpected_count": r.get("unexpected_count"),
            "observed_value": r.get("observed_value"),
            "statistic": (r.get("details") or {}).get("statistic"),
        })
    return {"success": bool(result["success"]), "results": rows}
