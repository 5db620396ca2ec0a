"""Seeded transcript-table generator for the benchmark.

A DuckDB port of ``great_expectations_spark.datagen.transcripts`` whose hash
recipe is salted with the benchmark seed: every hash also takes ``seed``, so
a new seed gives new rows with the same sizes, hot-key share and
planted-violation rates, and the same seed gives the same rows.  It runs
in its own process before Spark starts, so the engine only ever sees the
parquet files, DuckDB's memory never counts in the driver's peak RSS, and
the package's own generator is left untouched:

    python3 perfbench/datagen.py '{"out": DIR, "seed": N, "spec": {...},
        "cycles": C, "late_conversations": L}'

Schema: ``conv_id, turn_idx, role, text, tool, ts`` plus the hive partition
``day`` (``day=YYYY-MM-DD`` directories).

Planted violations (per hash-mod rule, as in the package generator):
NULL ``text`` (1/1000), duplicate (conv_id, turn_idx) rows where
``turn_idx % 500 == 13``, a missing turn 1 in 1/250 conversations,
``role = 'operator'`` (1/2000), a tool on a user turn (1/3000), a ts that
goes back 30 s (1/4000), and longer text with an assistant-skewed role mix
on days ``>= DRIFT_DAY``.  Hot conversations (``<prefix>_hot_*``) have
``hot_turns`` turns each at 7 s per turn, so they stay inside one day but
span most of its hours.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import duckdb

GEOMETRIC_MEAN_TURNS = 12
DAYS = 30
DRIFT_DAY = 24  # days >= 2025-01-25 are the drifted window
DRIFT_DATE = "2025-01-25"
BASE_EPOCH = 1_735_689_600  # 2025-01-01T00:00:00Z
# a hot conversation spends 7 s per turn and must stay inside its day
MAX_HOT_TURNS = 12_000


def transcripts_sql(
    seed: int,
    n_conversations: int,
    hot_conversations: int,
    hot_turns: int,
    days: int = DAYS,
    prefix: str = "conv",
    day: int | None = None,
) -> str:
    """SELECT producing the transcript rows for ``seed``, spread
    round-robin over ``days`` days from 2025-01-01; ``day`` instead pins
    every conversation to that one day number."""
    if hot_turns > MAX_HOT_TURNS:
        raise ValueError(f"hot_turns must be <= {MAX_HOT_TURNS}")
    seed, n = int(seed), int(n_conversations)
    p = 1.0 / GEOMETRIC_MEAN_TURNS
    day_no = f"{int(day)}" if day is not None else f"conv_no % {int(days)}"
    return f"""
    WITH base_convs AS (
        SELECT printf('{prefix}_%08d', i) AS conv_id, i AS conv_no
        FROM range({n}) t(i)
    ), convs AS (
        -- geometric(mean 12) turn count via inverse CDF on a per-conv
        -- uniform
        SELECT conv_id, conv_no,
               least(greatest(ceil(ln(1.0 - u) / ln({1.0 - p}))::INTEGER, 1),
                     500) AS n_turns
        FROM (SELECT *, (hash(conv_id, 1, {seed}) % 1000000007)::DOUBLE
                        / 1000000007.0 AS u
              FROM base_convs)
        UNION ALL
        SELECT printf('{prefix}_hot_%07d', i), 10000000 + i,
               {int(hot_turns)}
        FROM range({int(hot_conversations)}) t(i)
    ), turns AS (
        SELECT conv_id, conv_no, unnest(range(n_turns))::INTEGER AS turn_idx
        FROM convs
    ), hashed AS (
        SELECT *, hash(conv_id, turn_idx, {seed}) AS h,
               hash(conv_id, turn_idx, {seed}) % 12000000 AS hp,
               {day_no} AS day_no,
               {day_no} >= {DRIFT_DAY} AS is_drift
        FROM turns
        -- referential gap: drop turn 1 for ~1/250 conversations
        WHERE NOT (turn_idx = 1 AND hash(conv_id, {seed}) % 250 = 5)
    ), shaped AS (
        SELECT *,
            CASE WHEN turn_idx = 0 THEN 'system'
                 WHEN hp % 2000 = 11 THEN 'operator'
                 WHEN turn_idx % 2 = 1 THEN 'user'
                 WHEN is_drift THEN
                     CASE WHEN hp % 10 = 0 THEN 'tool' ELSE 'assistant' END
                 WHEN hp % 4 = 0 THEN 'tool'
                 ELSE 'assistant' END AS role,
            -- approx lognormal length: exp(mu + sigma * z), z ~ Irwin-Hall
            least(greatest(floor(exp(
                (CASE WHEN is_drift THEN 6.3 ELSE 5.5 END)
                + (CASE WHEN is_drift THEN 1.2 ELSE 1.0 END)
                * ((hash(h, 2, {seed}) % 1000000007
                    + hash(h, 3, {seed}) % 1000000007
                    + hash(h, 4, {seed}) % 1000000007
                    + hash(h, 5, {seed}) % 1000000007)::DOUBLE
                   / 1000000007.0 - 2.0) * 1.7320508
            ))::INTEGER, 1), 20000) AS text_len,
            lower(hex(h) || hex(hash(h, 101)) || hex(hash(h, 202))
                  || hex(hash(h, 303))) AS seedtext,
            to_timestamp({BASE_EPOCH} + day_no * 86400
                         + (conv_no % 1000) * 60 + turn_idx * 7
                         - CASE WHEN hp % 4000 = 19 THEN 30 ELSE 0 END) AS ts
        FROM hashed
    ), rows AS (
        SELECT conv_id, turn_idx, role,
            CASE WHEN hp % 1000 = 7 THEN NULL
                 ELSE substring(repeat(seedtext, text_len // 64 + 2), 1,
                                text_len) END AS text,
            CASE WHEN role = 'tool'
                     THEN ['search', 'python', 'browser']
                          [(hp % 3 + 1)::INTEGER]
                 WHEN role = 'user' AND hp % 3000 = 17 THEN 'search'
                 ELSE NULL END AS tool,
            ts,
            strftime(ts, '%Y-%m-%d') AS day
        FROM shaped
    )
    SELECT * FROM rows
    UNION ALL
    -- duplicate PK violation: re-emit rows where turn_idx % 500 == 13
    SELECT * FROM rows WHERE turn_idx % 500 = 13
    """


def write_parquet(path: str, sql: str, temp_dir: str) -> int:
    """Write ``sql``'s rows as a ``day``-partitioned parquet dataset at
    ``path``; returns the row count."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.execute("SET enable_progress_bar = false")
        con.execute(f"SET temp_directory = '{temp_dir}'")
        con.execute(
            f"COPY ({sql}) TO '{path}' "
            "(FORMAT PARQUET, PARTITION_BY (day), OVERWRITE_OR_IGNORE)"
        )
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{path}/*/*.parquet')"
        ).fetchone()[0]
    finally:
        con.close()


def generate(
    out: str, seed: int, spec: dict, cycles: int, late_conversations: int
) -> None:
    """Write ``seed``'s base table (``spec`` holds ``transcripts_sql``'s
    sizes) to ``out/table`` and ``cycles`` landing batches to
    ``out/landing<c>/{new,late}``: a new day after the last, and
    ``late_conversations`` late conversations in an old day."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    write_parquet(
        os.path.join(out, "table"), transcripts_sql(seed, **spec), tmp
    )
    days = spec["days"]
    per_day = spec["n_conversations"] // days
    for c in range(cycles):
        for kind, day, n in (
            ("new", days + c, per_day),
            ("late", (2 + 3 * c) % days, late_conversations),
        ):
            write_parquet(
                os.path.join(out, f"landing{c}", kind),
                transcripts_sql(seed, n, 0, 0, prefix=f"{kind}{c:02d}",
                                day=day),
                tmp,
            )
    shutil.rmtree(tmp)


if __name__ == "__main__":
    generate(**json.loads(sys.argv[1]))
