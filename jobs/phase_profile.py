#!/usr/bin/env python
"""Per-phase wall breakdown of a SuiteValidator pass under the
executor-scaling protocol (spark-submit + local-cluster, same confs as
jobs/executor_scaling.py).

Motivation: the 1x1 -> 4x1 scaling rounds show a ~14s term at the 4-core
level that neither parallelizes nor overlaps (Amdahl S with
job_concurrency=8 is the same as with 1).  This job attributes it: run
with job_concurrency=1 so the suite's phases serialize, time every
phase-method call, and print the breakdown for the WARMEST pass at each
level.  Whatever phase's time fails to shrink ~4x from 1x1 to 4x1 is the
non-scaling term.  ``_collect_samples`` runs as one pool task (one
top-k job), so with one worker its time is its own.

Usage: python jobs/phase_profile.py --level 1x1
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATASET = os.environ.get(
    "SPARK_GRAFT_TRANSCRIPTS", "/tmp/gx_bench_transcripts_2000000_256"
)
REPEATS = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))

PHASES = [
    "_compile",
    "_run_bundled_phase",
    "_run_window_phase",
    "_run_job_item",
    "_aggregate_values",
    "_collect_samples",
    "_fused_window_group",
    "_assemble",
]


def inner(level: str) -> None:
    from pyspark.sql import SparkSession

    import great_expectations_spark as gx
    from great_expectations_spark.datagen.transcripts import default_suite
    from great_expectations_spark.plans import planner

    calls: list = []

    def wrap(name: str) -> None:
        orig = getattr(planner.SuiteValidator, name)

        def timed(self, *a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(self, *a, **kw)
            finally:
                calls.append((name, round(time.perf_counter() - t0, 3)))

        setattr(planner.SuiteValidator, name, timed)

    for m in PHASES:
        wrap(m)

    spark = SparkSession.builder.appName("gx-phase-profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(DATASET)
    n = df.count()
    suite = default_suite()
    validator = gx.SuiteValidator(job_concurrency=1)
    passes = []
    for _ in range(REPEATS):
        calls.clear()
        t0 = time.perf_counter()
        res = validator.validate(df, suite, result_format="SUMMARY")
        wall = round(time.perf_counter() - t0, 3)
        agg: dict = {}
        for name, dur in calls:
            agg[name] = round(agg.get(name, 0.0) + dur, 3)
        passes.append({"wall": wall, "success": res.success, "phases": agg,
                       "calls": calls[:]})
    best = min(passes, key=lambda p: p["wall"])
    print(json.dumps({
        "level": level, "turns": n, "repeats": REPEATS,
        "walls": [p["wall"] for p in passes],
        "best_wall": best["wall"],
        "best_phases": best["phases"],
        "best_calls": best["calls"],
    }))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--level", default="1x1", metavar="WxC")
    ap.add_argument("--inner", action="store_true")
    args = ap.parse_args()
    if args.inner:
        inner(args.level)
        return

    from executor_scaling import build_zip, _cpu_ticks  # same dir

    w, c = (int(x) for x in args.level.split("x"))
    zip_path = "/tmp/gx_spark_pkg.zip"
    build_zip(zip_path)
    spark_submit = os.environ.get(
        "SPARK_SUBMIT",
        os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"),
                     "bin", "spark-submit"),
    )
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        spark_submit,
        "--master", f"local-cluster[{w},{c},6144]",
        "--py-files", zip_path,
        "--conf", "spark.sql.shuffle.partitions=64",
        "--conf", "spark.sql.files.maxPartitionBytes=32m",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.sql.session.timeZone=UTC",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.executor.memory=5g",
        "--conf", "spark.driver.memory=8g",
        "--conf",
        f"spark.executor.extraJavaOptions=-XX:ActiveProcessorCount={c}",
        "--conf", "spark.driver.extraJavaOptions=-XX:ActiveProcessorCount=4",
        os.path.abspath(__file__), "--inner", "--level", args.level,
    ]
    t0 = _cpu_ticks()
    try:
        out = subprocess.run(cmd, env=env, capture_output=True, text=True,
                             check=True, timeout=1800)
    except subprocess.CalledProcessError as exc:
        sys.stderr.write(exc.stderr[-4000:] if exc.stderr else "")
        raise
    t1 = _cpu_ticks()
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    r = json.loads(line)
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    r["steal_pct"] = round(100 * steal / max(busy + steal, 1), 1)
    print(json.dumps(r))


if __name__ == "__main__":
    main()
