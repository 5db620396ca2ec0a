#!/usr/bin/env python3
"""Benchmark of the great_expectations_spark validation engine.

Run from the repository root:

    python3 perfbench/run.py --workload table_suite --seed 1 --seconds 8 \\
        --trace 0

Each workload is a closed loop of one client on ``local[nproc]`` that calls
the engine's public functions from outside and waits for every answer:

* ``table_suite`` — ``SuiteValidator.validate`` of the default transcript
  suite plus two drift expectations over the whole table (SUMMARY format).
* ``partition_checkpoint`` — ``run_checkpoint`` over day partitions with
  change detection and sketches, then repeated landings of a new day plus
  late rows in an old day, each followed by an incremental re-run.

Inputs come from ``perfbench/datagen.py`` for ``--seed`` and are cached per
seed and size under ``perfbench/_work``.  Every output is checked against
the DuckDB oracle in ``perfbench/oracle.py``.  The last line of stdout is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics of a traced run
with ``--trace 1``.  The exit code is 1 when an output is wrong.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time


def _process_age() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# setup_s counts from process start, not from this line
T_PROCESS_START = time.perf_counter() - _process_age()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("table_suite", "partition_checkpoint")
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"
SHUFFLE_PARTITIONS = 8
# untimed warm calls (landing cycles) after the cold one; with the C1 JIT
# the second call is already at the steady state
WARMUP_CALLS = WARMUP_CYCLES = 1
# timed calls: at least MIN_CALLS quiet ones, at most MAX_CALLS in all; a
# call is quiet when the hypervisor stole under STEAL_LIMIT of the CPU
MIN_CALLS, MAX_CALLS = 5, 7
# landing cycles run a fixed number of times, so every run's median covers
# the same table sizes; steal only picks the samples: the median is over the
# quiet cycles when at least MIN_QUIET_CYCLES of them are
TIMED_CYCLES, MIN_QUIET_CYCLES = 4, 3
STEAL_LIMIT = 0.05
# per run: the longest total wait for a quiet host before measured calls
QUIET_BUDGET_S = 20.0
TRACED_CALLS = 3
CACHED_SEEDS = 4  # cached inputs kept per table size
PROBE_DAYS = 2  # day partitions the checkpoint-layer probe validates

# the table for table_suite: hot conversations hold
# a quarter of the turns (4 x n_conversations of 16 x n_conversations)
TABLE = {"n_conversations": 4_000, "hot_conversations": 4,
         "hot_turns": 4_000, "days": 30}
# the checkpoint table: the same rows per day over fewer days
CHECKPOINT_TABLE = {"n_conversations": 1_200, "hot_conversations": 4,
                    "hot_turns": 1_200, "days": 8}
LATE_CONVERSATIONS = 40

KS_BINS = [0, 1, 2, 4, 8, 16, 32, 64, 128, 512, 20_000]
KS_THRESHOLD = 0.05
CHI2_P = 0.05
SKETCHES = {"conv_id": ["hll"], "turn_idx": ["hll", "moments"]}

END_TO_END = {
    "setup_s": "s", "cold_validate_s": "s", "validate_p50_s": "s",
    "turns_per_s": "1/s", "driver_rss_mb": "MiB",
}
SPAN_NAMES = (
    "call", "planner.validate", "planner.compile", "runner.fingerprint",
    "manifest.read", "manifest.record", "sketches.update", "sketches.merge",
    "results.to_json",
)
COUNTERS = (
    "spark_jobs", "spark_stages", "spark_tasks", "driver_s", "task_time_s",
    "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "task_skew", "failed_tasks",
)
PER_LAYER = {
    "planner.compile_s": "s", "planner.spark_jobs": "count",
    "planner.spark_stages": "count", "planner.spark_tasks": "count",
    "planner.driver_s": "s", "planner.task_time_s": "s",
    "planner.input_bytes": "B", "planner.scans_per_call": "ratio",
    "planner.shuffle_write_bytes": "B", "planner.shuffle_read_bytes": "B",
    "planner.spill_bytes": "B", "planner.task_skew": "ratio",
    "planner.failed_tasks": "count",
    "operators.map_s": "s", "operators.window_s": "s",
    "operators.distribution_s": "s",
    "results.count": "count", "results.to_json_s": "s",
    "results.json_bytes": "B",
    "runner.partitions_validated": "count",
    "runner.partitions_skipped": "count", "runner.partition_wait_s": "s",
    "runner.concurrency_util": "ratio", "runner.fingerprint_s": "s",
    "runner.partition_p50_s": "s",
    "manifest.read_s": "s", "manifest.files": "count", "manifest.bytes": "B",
    "sketches.update_s": "s", "sketches.merge_s": "s",
    "sketches.store_bytes": "B",
    **{f"self.{n}_s": "s" for n in SPAN_NAMES},
    "trace.overhead": "ratio", "trace.spans": "count",
    "host.steal_pct": "%", "error_rate": "ratio",
}


def info(msg: str) -> None:
    print(f"# {msg}", flush=True)


def dir_bytes(path: str) -> tuple:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def partition_span(entry: dict) -> tuple:
    """(start, end) epoch seconds of a manifest entry's validation."""
    return tuple(
        datetime.datetime.fromisoformat(entry[k]).timestamp()
        for k in ("started_at", "finished_at")
    )


# -- inputs ------------------------------------------------------------------


def prepare_inputs(spec: dict, seed: int, cycles: int) -> tuple:
    """Generate (or reuse) the seed's base table and ``cycles`` landing
    batches; returns (cache dir, generation seconds).  The generator runs
    in a child process that exits before Spark starts, so its memory never
    reaches the driver's peak RSS, whether the cache was hit or not."""
    key = "_".join(f"{k}{v}" for k, v in sorted(spec.items()))
    key += f"_cycles{cycles}"
    cache = os.path.join(WORK, "data", key, f"seed{seed}")
    if os.path.exists(cache):
        return cache, 0.0
    t0 = time.perf_counter()
    # generate aside and rename, so a cache entry is always complete
    part = f"{cache}.part{os.getpid()}"
    subprocess.run(
        [sys.executable, os.path.join(HERE, "datagen.py"), json.dumps({
            "out": part, "seed": seed, "spec": spec, "cycles": cycles,
            "late_conversations": LATE_CONVERSATIONS,
        })],
        check=True,
    )
    try:
        os.rename(part, cache)
    except OSError:  # another run made it first
        shutil.rmtree(part)
    # keep the cache bounded: drop the oldest seeds of this size
    parent = os.path.dirname(cache)
    seeds = sorted(
        (os.path.join(parent, d) for d in os.listdir(parent)
         if ".part" not in d),
        key=os.path.getmtime,
    )
    for old in seeds[:-CACHED_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    return cache, time.perf_counter() - t0


def land(cache: str, cycle: int, table_dir: str) -> None:
    """Copy one landing cycle's files into the run's table."""
    for kind in ("new", "late"):
        src = os.path.join(cache, f"landing{cycle}", kind)
        for part in sorted(os.listdir(src)):
            os.makedirs(os.path.join(table_dir, part), exist_ok=True)
            for name in os.listdir(os.path.join(src, part)):
                shutil.copyfile(
                    os.path.join(src, part, name),
                    os.path.join(table_dir, part, f"{kind}{cycle}_{name}"),
                )


# -- Spark -------------------------------------------------------------------


def start_spark(run_dir: str):
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so pin both
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{NPROC}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.default.parallelism", str(NPROC))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.extraJavaOptions",
            # a fixed heap and young generation, so peak RSS depends neither
            # on when the heap grew nor on G1's adaptive young sizing; C1
            # only, because C2 keeps speeding calls up for 8 to 15 calls,
            # more than a run can afford to warm up (see README.md)
            f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc.poll() is None:
        gateway.shutdown()
        gateway.proc.terminate()
        gateway.proc.wait(timeout=60)


# -- suites ------------------------------------------------------------------


def default_suite():
    from great_expectations_spark.datagen.transcripts import default_suite

    return default_suite()


def drift_suite():
    """default_suite plus two-sample KS (turn_idx) and chi-square (role)
    drift split at the drift day."""
    suite = default_suite()
    suite.expectation_suite_name = "perfbench.table_suite"
    drift = f"day < '{datagen.DRIFT_DATE}'"
    suite.add(
        "expect_column_two_sample_ks_to_be_less_than",
        column="turn_idx", baseline_condition=drift,
        threshold=KS_THRESHOLD, bins=KS_BINS,
    )
    suite.add(
        "expect_column_two_sample_chisquare_p_to_be_greater_than",
        column="role", baseline_condition=drift, p=CHI2_P,
    )
    return suite


def families(suite) -> dict:
    """The suite split by operator family: bundled-scan map and aggregate
    expectations, window expectations, distribution (drift) jobs — the
    last taken from ``drift_suite`` when ``suite`` has none."""
    from great_expectations_spark.core.suite import ExpectationSuite
    from great_expectations_spark.plans.planner import compile_expectation
    from great_expectations_spark.plans.specs import (
        CompiledJob,
        CompiledWindow,
    )

    configs = {"map": [], "window": [], "distribution": []}
    for config in suite.expectations:
        compiled = compile_expectation(config)
        configs[
            "window" if isinstance(compiled, CompiledWindow)
            else "distribution" if isinstance(compiled, CompiledJob)
            else "map"
        ].append(config)
    if not configs["distribution"]:
        configs["distribution"] = drift_suite().expectations[-2:]
    out = {}
    for family, members in configs.items():
        sub = ExpectationSuite(f"{suite.expectation_suite_name}.{family}")
        sub.expectations = members
        out[family] = sub
    return out


# -- the run -----------------------------------------------------------------


class Run:
    """One benchmark run: a workload's calls, their timings and outputs."""

    def __init__(self, args) -> None:
        self.args = args
        self.workload = args.workload
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.table_dir = os.path.join(self.run_dir, "table")
        self.ckpt_dir = os.path.join(self.run_dir, "checkpoint")
        self.attempted = 0
        self.failures: list = []  # "label: what went wrong"
        self.steal: list = []  # steal share during each call
        self.warm: list = []  # (seconds, steal) of each timed call
        self.digests: list = []  # (label, {partition: digest})
        self.summaries: list = []  # (label, run_checkpoint summary)
        self.layer: dict = {}
        self.tracer = tracing.Tracer()
        self.traced_calls: list = []  # (label, seconds, stage counters)
        self.cycles = 0
        self.quiet_left = QUIET_BUDGET_S

    def measure(self, label: str, fn, *args):
        """One engine call: timed, steal-sampled; a raise is a failure."""
        self.attempted += 1
        ticks = tracing.cpu_ticks()
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as exc:  # noqa: BLE001
            self.failures.append(f"{label}: raised {exc!r}")
            out = None
        seconds = time.perf_counter() - t0
        self.steal.append(tracing.steal_share(ticks, tracing.cpu_ticks()))
        return out, seconds

    def wait_quiet(self) -> None:
        """Before a measured call, unless the last call was quiet, wait for
        half a second of low steal, out of the run's QUIET_BUDGET_S: a
        burst of another tenant's load then passes instead of landing in a
        sample."""
        if self.steal and self.steal[-1] < STEAL_LIMIT:
            return
        while self.quiet_left > 0:
            ticks = tracing.cpu_ticks()
            time.sleep(0.5)
            self.quiet_left -= 0.5
            if tracing.steal_share(ticks, tracing.cpu_ticks()) < STEAL_LIMIT:
                return

    def warm_p50(self, min_quiet: int) -> float:
        """Median timed call, over the quiet calls when there are enough:
        a call slowed by another tenant's load says nothing about the
        engine."""
        quiet = [s for s, st in self.warm if st < STEAL_LIMIT]
        return statistics.median(
            quiet if len(quiet) >= min_quiet else [s for s, _ in self.warm]
        )

    def main(self) -> int:
        checkpoint = self.workload == "partition_checkpoint"
        t_prep = time.perf_counter()
        self.cache, gen_s = prepare_inputs(
            CHECKPOINT_TABLE if checkpoint else TABLE, self.args.seed,
            WARMUP_CYCLES + TIMED_CYCLES + TRACED_CALLS if checkpoint else 0,
        )
        # run directories of runs that were killed
        for name in os.listdir(WORK):
            if name.startswith("run-") and not os.path.exists(
                f"/proc/{name[4:]}"
            ):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
        os.makedirs(self.run_dir)
        shutil.copytree(os.path.join(self.cache, "table"), self.table_dir)
        prep_s = time.perf_counter() - t_prep

        # setup: process start until Spark is up, the package imported and
        # the input opened and counted, without the input preparation
        spark = start_spark(self.run_dir)
        try:
            return self.run(spark, prep_s, gen_s)
        finally:
            stop_spark(spark)
            shutil.rmtree(self.run_dir, ignore_errors=True)

    def run(self, spark, prep_s: float, gen_s: float) -> int:
        import great_expectations_spark as gx

        if not os.path.abspath(gx.__file__).startswith(ROOT + os.sep):
            raise SystemExit(f"imported {gx.__file__}, not the checkout's")
        self.gx, self.spark = gx, spark
        df = spark.read.parquet(self.table_dir)
        turns = df.count()
        setup_s = time.perf_counter() - T_PROCESS_START - prep_s
        info(
            f"env spark={spark.version} java="
            f"{spark._jvm.System.getProperty('java.version')} "
            f"master=local[{NPROC}] driver_heap={DRIVER_MEMORY} (fixed) "
            f"young_gen={YOUNG_GEN} "
            "jit=C1 "
            f"shuffle_partitions={SHUFFLE_PARTITIONS} "
            f"python={sys.version.split()[0]} workload={self.workload} "
            f"seed={self.args.seed} turns={turns}"
        )
        info(f"inputs generation_s={gen_s:.3f} prepare_s={prep_s:.3f}")

        self.validator = gx.SuiteValidator(job_concurrency=NPROC)
        if self.workload == "partition_checkpoint":
            cold_s = self.checkpoint_workload(df)
            self.p50_s = self.warm_p50(MIN_QUIET_CYCLES)
            turns_per_s = turns / cold_s
        else:
            cold_s = self.loop_workload(df)
            self.p50_s = self.warm_p50(MIN_CALLS)
            turns_per_s = turns / self.p50_s
        rss_mb = tracing.peak_rss_mb(
            [os.getpid()] + tracing.descendants(os.getpid())
        )
        if self.args.trace:
            self.tracer.dump(os.path.join(
                WORK, f"spans-{self.workload}-seed{self.args.seed}.jsonl"
            ))
            self.layer_metrics()

        self.check()
        failed = len({f.split(":")[0] for f in self.failures})
        for f in self.failures[:20]:
            info(f"FAIL {f}")
        info(
            "samples warm_s=" + ",".join(f"{s:.4f}" for s, _ in self.warm)
            + " steal=" + ",".join(f"{s:.4f}" for s in self.steal)
        )
        if self.args.trace:
            self.layer["error_rate"] = failed / self.attempted
            metrics, units = self.layer, PER_LAYER
        else:
            metrics = {
                "setup_s": setup_s,
                "cold_validate_s": cold_s,
                "validate_p50_s": self.p50_s,
                "turns_per_s": turns_per_s,
                "driver_rss_mb": rss_mb,
            }
            units = END_TO_END
        print(json.dumps({
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {
                k: {"value": float(metrics[k]), "unit": u}
                for k, u in units.items()
            },
        }), flush=True)
        return 1 if self.failures else 0

    # -- table_suite -------------------------------------------------------

    def validate(self, frame, suite) -> dict:
        """{partition: result} of one whole-table validate ("*")."""
        return {"*": self.validator.validate(
            frame, suite, result_format="SUMMARY"
        )}

    def loop_workload(self, df) -> float:
        suite = drift_suite()

        # a call ends with the result serialised, as a job persisting it
        # would
        def call(frame):
            return {
                p: r.to_json() for p, r in self.validate(frame, suite).items()
            }

        self.wait_quiet()
        cold_s = self.loop_call("cold", call, df)
        for i in range(WARMUP_CALLS):
            self.loop_call(f"warmup{i}", call, df)
        # timed calls until --seconds have passed and MIN_CALLS were quiet
        t0 = time.perf_counter()
        while len(self.warm) < MAX_CALLS and (
            time.perf_counter() - t0 < self.args.seconds
            or sum(st < STEAL_LIMIT for _, st in self.warm) < MIN_CALLS
        ):
            self.wait_quiet()
            seconds = self.loop_call(f"warm{len(self.warm)}", call, df)
            self.warm.append((seconds, self.steal[-1]))
        if self.args.trace:
            self.start_trace()
            for i in range(TRACED_CALLS):
                self.loop_call(f"traced{i}", call, df, traced=True)
            self.operator_families(suite, df)
            self.checkpoint_probe(df)
        return cold_s

    def loop_call(self, label: str, call, df, traced: bool = False) -> float:
        out, seconds = (self.traced if traced else self.measure)(
            label, call, df
        )
        if out is not None:
            results = {p: json.loads(j) for p, j in out.items()}
            self.digests.append((label, {
                p: oracle.digest(r) for p, r in results.items()
            }))
            if traced:
                self.layer["results.count"] = sum(
                    len(r["results"]) for r in results.values()
                )
                self.layer["results.json_bytes"] = sum(
                    len(j) for j in out.values()
                )
        return seconds

    # -- partition_checkpoint --------------------------------------------

    def run_checkpoint(self, frame):
        return self.gx.run_checkpoint(
            frame, default_suite(), "day", self.ckpt_dir,
            validator=self.validator, max_concurrency=NPROC,
            detect_changes=True, sketch_columns=SKETCHES,
        )

    def checkpoint_workload(self, df) -> float:
        self.wait_quiet()
        summary, cold_s = self.measure("initial", self.run_checkpoint, df)
        if summary is not None:
            self.check_summary("initial", summary, None)
            self.layer["runner.partition_p50_s"] = statistics.median(
                b - a for a, b in map(partition_span, summary["entries"])
            )
        for _ in range(WARMUP_CYCLES):
            self.cycle(traced=False)
        for _ in range(TIMED_CYCLES):
            self.wait_quiet()
            seconds = self.cycle(traced=False)[1]
            self.warm.append((seconds, self.steal[-1]))
        if self.args.trace:
            self.start_trace()
            runs = []
            for _ in range(TRACED_CALLS):
                label = f"cycle{self.cycles}"
                summary, seconds = self.cycle(traced=True)
                if summary is not None:
                    runs.append((label, seconds, summary))
            self.runner_layers(runs)
            if runs:
                # the expectation results the last re-run stored
                paths = [e["result_path"] for e in runs[-1][2]["entries"]]
                count = 0
                for path in paths:
                    with open(path) as f:
                        count += len(json.load(f)["results"])
                self.layer["results.count"] = count
                self.layer["results.json_bytes"] = sum(
                    os.path.getsize(path) for path in paths
                )
            # operator families on the unit of work here: one partition
            one_day = df.filter(df["day"] == df.select("day").first()[0])
            self.operator_families(default_suite(), one_day)
        return cold_s

    def cycle(self, traced: bool) -> tuple:
        """Land one cycle's rows, re-open the table and re-run."""
        label = f"cycle{self.cycles}"
        land(self.cache, self.cycles, self.table_dir)
        self.cycles += 1
        df = self.spark.read.parquet(self.table_dir)
        summary, seconds = (self.traced if traced else self.measure)(
            label, self.run_checkpoint, df
        )
        if summary is not None:
            # the re-run must validate the new day and the late day only
            self.check_summary(label, summary, 2)
        return summary, seconds

    def check_summary(self, label: str, summary: dict, expect) -> None:
        self.summaries.append((label, summary))
        if summary["failures"]:
            self.failures.append(f"{label}: failed {summary['failures']}")
        validated = summary["partitions_validated_now"]
        if expect is not None and validated != expect:
            self.failures.append(
                f"{label}: validated {validated} partitions, expected {expect}"
            )

    # -- traced phase ------------------------------------------------------

    def start_trace(self) -> None:
        tracing.install(self.tracer)
        self.counters = tracing.StageCounters(self.spark)

    def traced(self, label: str, fn, *args):
        """One call with spans on and its Spark stages counted."""
        mark = self.counters.mark()
        self.tracer.enabled = True
        wall0 = time.time()
        out, seconds = self.measure(
            label, lambda *a: self.tracer.call(label, fn, *a), *args
        )
        wall1 = time.time()
        self.tracer.enabled = False
        self.traced_calls.append(
            (label, seconds, self.counters.since(mark, (wall0, wall1)))
        )
        return out, seconds

    def operator_families(self, suite, df) -> None:
        """Each operator family's sub-suite validated alone."""
        for family, sub in families(suite).items():
            label = f"family.{family}"
            out, seconds = self.measure(label, self.validate, df, sub)
            for p, res in (out or {}).items():
                for r in res.results:
                    if r.exception_info.get("raised_exception"):
                        self.failures.append(
                            f"{label}: [{p}] "
                            f"{r.exception_info['exception_message']}"
                        )
            self.layer[f"operators.{family}_s"] = seconds

    def checkpoint_probe(self, df) -> None:
        """table_suite never calls the checkpoint layers; one traced
        run_checkpoint over the first days of the same table measures them
        on the workload's input."""
        days = sorted(r[0] for r in df.select("day").distinct().collect())
        probe = df.filter(df["day"].isin(days[:PROBE_DAYS]))
        summary, seconds = self.traced("probe", self.run_checkpoint, probe)
        self.traced_calls.pop()  # not a workload call
        if summary is not None:
            self.check_summary("probe", summary, PROBE_DAYS)
            self.runner_layers([("probe", seconds, summary)])
            self.layer["runner.partition_p50_s"] = statistics.median(
                b - a for a, b in map(partition_span, summary["entries"])
            )

    def runner_layers(self, runs: list) -> None:
        """runner, manifest and sketch metrics of traced checkpoint runs."""
        waits, utils = [], []
        for label, seconds, summary in runs:
            spans = [partition_span(e) for e in summary["entries"]]
            # partitions queue for the pool once fingerprinting is done
            fp = self.tracer.of_run(label, "runner.fingerprint")
            if fp:
                pool_start = max(s["end"] for s in fp)
                waits.extend(max(0.0, a - pool_start) for a, _ in spans)
            utils.append(sum(b - a for a, b in spans) / (seconds * NPROC))
        self.layer["runner.partitions_validated"] = statistics.median(
            s["partitions_validated_now"] for _, _, s in runs
        )
        self.layer["runner.partitions_skipped"] = statistics.median(
            s["partitions_skipped_resume"] for _, _, s in runs
        )
        self.layer["runner.partition_wait_s"] = statistics.median(waits)
        self.layer["runner.concurrency_util"] = statistics.median(utils)
        for metric, name in (
            ("runner.fingerprint_s", "runner.fingerprint"),
            ("manifest.read_s", "manifest.read"),
            ("sketches.update_s", "sketches.update"),
            ("sketches.merge_s", "sketches.merge"),
        ):
            self.layer[metric] = statistics.median(
                self.tracer.total(label, name) for label, _, _ in runs
            )
        files = [
            dir_bytes(os.path.join(self.ckpt_dir, d))
            for d in ("manifest", "results")
        ]
        self.layer["manifest.files"] = sum(f for f, _ in files)
        self.layer["manifest.bytes"] = sum(b for _, b in files)
        self.layer["sketches.store_bytes"] = dir_bytes(
            os.path.join(self.ckpt_dir, "sketches")
        )[1]

    def layer_metrics(self) -> None:
        calls = self.traced_calls
        labels = [label for label, _, _ in calls]
        for key in COUNTERS:
            self.layer[f"planner.{key}"] = statistics.median(
                c[key] for _, _, c in calls
            )
        table_bytes = dir_bytes(self.table_dir)[1]
        self.layer["planner.scans_per_call"] = (
            self.layer["planner.input_bytes"] / table_bytes
        )
        for metric, name in (
            ("planner.compile_s", "planner.compile"),
            ("results.to_json_s", "results.to_json"),
        ):
            self.layer[metric] = statistics.median(
                self.tracer.total(label, name) for label in labels
            )
        # self times per traced call; layers only the probe reached take
        # the probe's
        self_times = {
            run: self.tracer.self_times(run) for run in labels + ["probe"]
        }
        for name in SPAN_NAMES:
            values = [
                self_times[label][name] for label in labels
                if name in self_times[label]
            ] or [self_times["probe"].get(name, 0.0)]
            self.layer[f"self.{name}_s"] = statistics.median(values)
        self.layer["trace.overhead"] = (
            statistics.median(s for _, s, _ in calls)
            / self.p50_s - 1.0
        )
        self.layer["trace.spans"] = len(self.tracer.spans)
        self.layer["host.steal_pct"] = 100.0 * statistics.median(self.steal)

    # -- correctness ---------------------------------------------------------

    def check(self) -> None:
        """Every output against the DuckDB oracle."""
        con = oracle.connect(NPROC, os.path.join(self.run_dir, "tmp"))
        try:
            if self.workload == "partition_checkpoint":
                self.check_checkpoint(con)
            else:
                self.check_loop(con)
                if self.args.trace:
                    self.check_results_dir(con, self.ckpt_dir)
        finally:
            con.close()

    def check_loop(self, con) -> None:
        oracle.table_view(con, self.table_dir)
        counts = oracle.suite_counts(con, None)
        expected = {p: oracle.expected_results(c) for p, c in counts.items()}
        expected["*"] += oracle.drift_results(
            con, datagen.DRIFT_DATE, KS_BINS, KS_THRESHOLD, CHI2_P
        )
        for label, parts in self.digests:
            if set(parts) != set(expected):
                self.failures.append(
                    f"{label}: {len(parts)} partitions, expected "
                    f"{len(expected)}"
                )
            for p in sorted(set(parts) & set(expected)):
                for m in oracle.compare(parts[p], expected[p]):
                    self.failures.append(f"{label}: [{p}] {m}")

    def check_results_dir(self, con, ckpt_dir: str) -> None:
        """The checkpoint's stored per-day results and manifest records."""
        from great_expectations_spark.checkpoint.manifest import (
            CheckpointManifest,
        )

        labels = {s["run_id"]: label for label, s in self.summaries}
        oracle.table_view(con, self.table_dir)
        counts = oracle.suite_counts(con, "day_s")
        entries = CheckpointManifest(ckpt_dir).all_entries()
        if not entries:
            self.failures.append("checkpoint: empty manifest")
        for e in entries:
            label = labels.get(e.run_id, "checkpoint")
            if e.status != "done" or e.partition_id not in counts:
                self.failures.append(
                    f"{label}: [{e.partition_id}] status {e.status}"
                )
                continue
            with open(e.result_path) as f:
                got = oracle.digest(json.load(f))
            expected = oracle.expected_results(counts[e.partition_id])
            mismatches = oracle.compare(got, expected)
            if e.success != got["success"]:
                mismatches.append(
                    f"manifest success {e.success} != {got['success']}"
                )
            for m in mismatches:
                self.failures.append(f"{label}: [{e.partition_id}] {m}")

    def check_checkpoint(self, con) -> None:
        self.check_results_dir(con, self.ckpt_dir)
        # merged sketch answers: the initial run saw the base table, the
        # last run the table as it is now
        checks = [(os.path.join(self.cache, "table"), self.summaries[:1])]
        checks.append((self.table_dir, self.summaries[-1:]))
        for table_dir, summaries in checks:
            if not summaries:
                continue
            label, summary = summaries[0]
            oracle.table_view(con, table_dir)
            exact = oracle.table_stats(con)
            for col, n in exact["distinct"].items():
                est = summary.get("distinct_estimates", {}).get(col)
                if not oracle.within_hll(est, n, oracle.SKETCH_RSD):
                    self.failures.append(
                        f"{label}: distinct({col}) {est} vs exact {n}"
                    )
            moments = summary.get("stats_estimates", {}).get("turn_idx", {})
            for k, v in exact["moments"].items():
                if not oracle.close(moments.get(k), v):
                    self.failures.append(
                        f"{label}: turn_idx {k} {moments.get(k)} vs {v}"
                    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(
        os.path.join(ROOT, "great_expectations_spark", "__init__.py")
    ):
        print(
            f"no great_expectations_spark package under {ROOT}",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    return Run(args).main()


if __name__ == "__main__":
    sys.exit(main())
