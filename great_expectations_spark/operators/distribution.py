"""Distributional / drift expectations.

Spark computes histograms and category counts (single bundled agg each);
the driver computes the divergence statistic — same split as the reference
(``expect_column_kl_divergence_to_be_less_than.py:215-640``: Spark resolves
``column.histogram`` / ``column.value_counts``, then scipy-style entropy on
the driver).  p-values come from numpy-only implementations in
``functions/stats.py`` since scipy isn't available.

Partition objects use the reference's dict shapes
(``execution_engine/util.py:17-75``):
  continuous:  {"bins": [...], "weights": [...], "tail_weights": [lo, hi]?}
  categorical: {"values": [...], "weights": [...]}

The histogram is computed with the reference's closed-last-bin convention
(values equal to the final bin edge count in the final bin,
``column_histogram.py:229-304``) as ONE ``df.agg`` of per-bucket
conditional sums — no Bucketizer pass, no extra shuffle.

The two-sample drift checks (KS / PSI / chi²) are ours (the reference's KS
test is pandas-only and bootstraps, ``self_check/util.py:2072``): both
windows are measured in a single pass using conditional aggregation on a
boolean split column — turn-length and role-mix drift at transcript scale.
"""

from __future__ import annotations

import math
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from great_expectations_spark.core.domain import domain_gate, parse_row_condition
from great_expectations_spark.functions import stats as gxstats
from great_expectations_spark.plans.specs import (
    CompiledJob,
    each_group,
    group_filter,
    group_key,
    rows_by_group,
)

DIST_COMPILERS: Dict[str, Callable[[Dict[str, Any]], CompiledJob]] = {}


def register_dist(name: str):
    def deco(fn):
        DIST_COMPILERS[name] = fn
        return fn

    return deco


def _apply_domain(df: DataFrame, domain: Optional[Column]) -> DataFrame:
    return df if domain is None else df.filter(domain_gate(domain))


def is_valid_categorical_partition_object(partition: Any) -> bool:
    return (
        isinstance(partition, dict)
        and "values" in partition
        and "weights" in partition
        and len(partition["values"]) == len(partition["weights"])
        and abs(sum(partition["weights"]) - 1.0) < 1e-6
    )


def is_valid_continuous_partition_object(partition: Any) -> bool:
    if not isinstance(partition, dict) or "bins" not in partition or "weights" not in partition:
        return False
    if len(partition["bins"]) != len(partition["weights"]) + 1:
        return False
    total = sum(partition["weights"]) + sum(partition.get("tail_weights", []))
    return abs(total - 1.0) < 1e-6


# --- Spark-side measurement ----------------------------------------------


def histogram_counts(
    df: DataFrame,
    column: str,
    bins: List[float],
    domain: Optional[Column] = None,
    include_min_max: bool = False,
    group_by: Sequence[str] = (),
) -> Dict[tuple, Dict[str, Any]]:
    """One-pass histogram per ``group_by`` key: per-bucket conditional
    sums + tail counts + nonnull count (+ optional min/max) in a single
    ``groupBy(*group_by).agg``.  Without a prefix that is one global agg
    and the one ``()`` key; with one, one fixed-width row per group on
    the driver."""
    col = F.col(column)
    scoped = _apply_domain(df, domain).filter(col.isNotNull())
    aggs = [
        F.count(F.lit(1)).alias("nonnull_count"),
        F.sum(F.when(col < F.lit(bins[0]), 1).otherwise(0)).alias("below"),
        F.sum(F.when(col > F.lit(bins[-1]), 1).otherwise(0)).alias("above"),
    ]
    if include_min_max:
        aggs.append(F.min(col).alias("min"))
        aggs.append(F.max(col).alias("max"))
    n = len(bins) - 1
    for i in range(n):
        lo, hi = bins[i], bins[i + 1]
        if i == n - 1:
            cond = (col >= F.lit(lo)) & (col <= F.lit(hi))  # closed last bin
        else:
            cond = (col >= F.lit(lo)) & (col < F.lit(hi))
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"b{i}"))
    out: Dict[tuple, Dict[str, Any]] = {}
    for row in scoped.groupBy(*group_by).agg(*aggs).collect():
        stats = {
            "nonnull_count": int(row["nonnull_count"] or 0),
            "below": int(row["below"] or 0),
            "above": int(row["above"] or 0),
            "counts": [int(row[f"b{i}"] or 0) for i in range(n)],
        }
        if include_min_max:
            stats["min"] = None if row["min"] is None else float(row["min"])
            stats["max"] = None if row["max"] is None else float(row["max"])
        out[group_key(row, group_by)] = stats
    return out


def build_continuous_partition_object(
    df: DataFrame,
    column: str,
    bins: int = 10,
    method: str = "uniform",
    domain: Optional[Column] = None,
    accuracy: int = 10_000,
) -> Dict[str, Any]:
    """Compute a continuous partition object from data (reference analogue:
    ``column.partition`` metric, ``column_partition.py:59-120``)."""
    col = F.col(column)
    scoped = _apply_domain(df, domain).filter(col.isNotNull())
    if method == "uniform":
        row = scoped.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
        if row["lo"] is None:
            raise ValueError(f"no non-null rows for {column!r}")
        edges = gxstats.histogram_edges(float(row["lo"]), float(row["hi"]), bins)
    elif method in ("quantile", "ntile"):
        probs = [i / bins for i in range(bins + 1)]
        row = scoped.agg(
            F.percentile_approx(col, F.lit(probs), accuracy).alias("q")
        ).first()
        edges = [float(v) for v in row["q"]]
        # dedupe degenerate edges
        edges = sorted(set(edges))
        if len(edges) < 2:
            edges = [edges[0], edges[0] + 1.0]
    else:
        raise ValueError(f"unknown partition method {method!r}")
    hist = histogram_counts(df, column, edges, domain)[()]
    total = hist["nonnull_count"] or 1
    return {
        "bins": edges,
        "weights": [c / total for c in hist["counts"]],
        "tail_weights": [hist["below"] / total, hist["above"] / total],
    }


def build_categorical_partition_object(
    df: DataFrame, column: str, domain: Optional[Column] = None
) -> Dict[str, Any]:
    observed = categorical_partitions(df, column, domain)[()]
    if isinstance(observed, Exception):
        raise observed
    return {"values": observed["values"], "weights": observed["weights"]}


def categorical_partitions(
    df: DataFrame,
    column: str,
    domain: Optional[Column] = None,
    group_by: Sequence[str] = (),
) -> Dict[tuple, Any]:
    """Categorical partition objects per ``group_by`` key (``values`` in
    Spark's order, ``weights`` and the non-null count ``n``) from ONE
    ``groupBy(*group_by, column).count()`` job; a group over the
    categorical cap maps to the cap's ValueError
    (:func:`_categories_by_group`)."""

    def partition(rows: List[Any]) -> Dict[str, Any]:
        n = sum(r["count"] for r in rows)
        return {
            "values": [r[column] for r in rows],
            "weights": [r["count"] / (n or 1) for r in rows],
            "n": n,
        }

    return each_group(
        _categories_by_group(
            _apply_domain(df, domain)
            .filter(F.col(column).isNotNull())
            .groupBy(*group_by, column)
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(*group_by, column),
            column,
            group_by,
        ),
        partition,
    )


# --- KL divergence (ref: expect_column_kl_divergence_to_be_less_than.py:
# 378-640 — tail_weight_holdout split across tails, internal_weight_holdout
# over zero-weight internal bins) -----------------------------------------


@register_dist("expect_column_kl_divergence_to_be_less_than")
def _kl_divergence(kwargs: Dict[str, Any]) -> CompiledJob:
    column = kwargs["column"]
    partition = kwargs.get("partition_object")
    threshold = kwargs.get("threshold")
    tail_holdout = float(kwargs.get("tail_weight_holdout", 0.0))
    internal_holdout = float(kwargs.get("internal_weight_holdout", 0.0))
    if not 0 <= tail_holdout <= 1:
        raise ValueError("tail_weight_holdout must be between 0 and 1")
    if not 0 <= internal_holdout <= 1:
        raise ValueError("internal_weight_holdout must be between 0 and 1")
    if partition is not None and is_valid_categorical_partition_object(
        partition
    ) and internal_holdout > 0:
        raise ValueError(
            "internal_weight_holdout is not defined for categorical "
            "partitions"
        )
    if partition is not None and is_valid_continuous_partition_object(
        partition
    ):
        bins0 = float(partition["bins"][0])
        bins1 = float(partition["bins"][-1])
        has_inf = math.isinf(bins0) or math.isinf(bins1)
        if has_inf and "tail_weights" in partition:
            raise ValueError(
                "There can be no tail weights for partitions with one or "
                "both endpoints at infinity"
            )
        if (
            tail_holdout > 0
            and math.isinf(bins0)
            and math.isinf(bins1)
        ):
            raise ValueError(
                "tail_weight_holdout cannot be used for partitions with "
                "infinite endpoints."
            )
        if tail_holdout > 0 and "tail_weights" in partition:
            raise ValueError(
                "tail_weight_holdout is not defined for partitions that "
                "carry explicit tail_weights"
            )

    def _result(kl: float, observed_detail: Dict[str, Any]) -> Dict[str, Any]:
        if threshold is None:
            # null threshold: informational run, always succeeds
            success = True
        else:
            # reference compares inclusively despite the name
            success = bool(
                not math.isinf(kl) and not math.isnan(kl) and kl <= threshold
            )
        return {
            "success": success,
            "result": {
                "observed_value": None if math.isinf(kl) else kl,
                "details": observed_detail,
            },
        }

    def finish_categorical(
        observed: Dict[str, Any], partition: Dict[str, Any]
    ) -> Dict[str, Any]:
        expected_map = dict(zip(partition["values"], partition["weights"]))
        values = list(observed["values"])
        pk = list(observed["weights"])
        # membership, not weight magnitude, decides known vs unknown:
        # the reference scales EVERY known expected weight by
        # (1 - holdout) and gives each unknown category an equal share
        # of the holdout (kl_divergence...py:480-485)
        known = [v in expected_map for v in values]
        n_unknown = sum(1 for k in known if not k)
        if tail_holdout > 0 and n_unknown > 0:
            qk = [
                expected_map[v] * (1.0 - tail_holdout)
                if k
                else tail_holdout / n_unknown
                for v, k in zip(values, known)
            ]
        else:
            qk = [expected_map[v] if k else 0.0 for v, k in zip(values, known)]
        kl = gxstats.kl_divergence(pk, qk)
        return _result(
            kl,
            {
                "observed_partition": {
                    "values": observed["values"],
                    "weights": observed["weights"],
                },
                "expected_partition": partition,
            },
        )

    def finish_continuous(
        hist: Dict[str, Any], partition: Dict[str, Any]
    ) -> Dict[str, Any]:
        # mirrors the reference's holdout/tail algebra exactly
        # (expect_column_kl_divergence_to_be_less_than.py:525-700)
        bins = [float(b) for b in partition["bins"]]
        total = hist["nonnull_count"] or 1
        observed = [c / total for c in hist["counts"]]
        below = hist["below"] / total
        above = hist["above"] / total
        expected = [
            w * (1.0 - tail_holdout - internal_holdout)
            for w in partition["weights"]
        ]
        if internal_holdout > 0:
            zero_bins = sum(1 for q in expected if q == 0.0)
            if zero_bins:
                expected = [
                    q if q > 0 else internal_holdout / zero_bins
                    for q in expected
                ]
        lo_inf, hi_inf = math.isinf(bins[0]), math.isinf(bins[-1])
        if lo_inf and hi_inf:
            exp_tails = [expected[0], expected[-1]]
            expected = expected[1:-1]
            obs_tails = [observed[0], observed[-1]]
            observed = observed[1:-1]
            detail_bins = bins[1:-1]
        elif lo_inf:
            exp_tails = [expected[0], tail_holdout]
            expected = expected[1:]
            obs_tails = [observed[0], above]
            observed = observed[1:]
            detail_bins = bins[1:]
        elif hi_inf:
            exp_tails = [tail_holdout, expected[-1]]
            expected = expected[:-1]
            obs_tails = [below, observed[-1]]
            observed = observed[:-1]
            detail_bins = bins[:-1]
        else:
            if "tail_weights" in partition:
                exp_tails = list(partition["tail_weights"])
            else:
                exp_tails = [tail_holdout / 2, tail_holdout / 2]
            obs_tails = [below, above]
            detail_bins = bins
        kl = gxstats.kl_divergence(
            observed + obs_tails, expected + exp_tails
        )
        return _result(
            kl,
            {
                "observed_partition": {
                    "bins": detail_bins,
                    "weights": observed,
                    "tail_weights": obs_tails,
                },
                "expected_partition": {
                    "bins": detail_bins,
                    "weights": expected,
                    "tail_weights": exp_tails,
                },
            },
        )

    def evaluate(df: DataFrame, spark, domain, group_by, result_format):
        # no partition_object: auto-profile the expected partition from
        # the data itself (reference 'auto' partition support), once over
        # ``df``, so every group is scored against the same bin edges
        expected = partition
        if expected is None:
            expected = build_continuous_partition_object(
                df, column, bins=10, method="quantile", domain=domain
            )
        if is_valid_categorical_partition_object(expected):
            observed = categorical_partitions(df, column, domain, group_by)
            finish = finish_categorical
        elif is_valid_continuous_partition_object(expected):
            bins = [float(b) for b in expected["bins"]]
            observed = histogram_counts(
                df, column, bins, domain, group_by=group_by
            )
            finish = finish_continuous
        else:
            raise ValueError("invalid partition_object")
        return each_group(observed, lambda obs: finish(obs, expected))

    return CompiledJob(evaluate=evaluate)


# --- chi-square goodness-of-fit (pandas-only in the reference,
# self_check/util.py:2070; ours runs on Spark counts) ---------------------


@register_dist("expect_column_chisquare_test_p_value_to_be_greater_than")
def _chisquare(kwargs: Dict[str, Any]) -> CompiledJob:
    column = kwargs["column"]
    partition = kwargs["partition_object"]
    p_threshold = float(kwargs.get("p", 0.05))
    tail_holdout = float(kwargs.get("tail_weight_holdout", 0.0))

    def finish(observed: Dict[str, Any], n: int) -> Dict[str, Any]:
        obs_map = dict(zip(observed["values"], observed["weights"]))
        all_values = list(
            dict.fromkeys(list(partition["values"]) + list(observed["values"]))
        )
        exp_map = dict(zip(partition["values"], partition["weights"]))
        obs = [obs_map.get(v, 0.0) for v in all_values]
        exp = [exp_map.get(v, 0.0) for v in all_values]
        if tail_holdout > 0:
            # categories seen in data but absent from the expected partition
            # share the holdout mass; known categories scale down
            novel = [i for i, v in enumerate(all_values) if v not in exp_map]
            if novel:
                exp = [
                    (e * (1.0 - tail_holdout)) if v in exp_map
                    else tail_holdout / len(novel)
                    for e, v in zip(exp, all_values)
                ]
        # scale to counts for the chi2 statistic
        test = gxstats.chi2_test([o * n for o in obs], [e * n for e in exp])
        return {
            "success": bool(test["p_value"] > p_threshold),
            "result": {
                "observed_value": test["p_value"],
                "details": {
                    "observed_partition": {
                        "values": observed["values"],
                        "weights": observed["weights"],
                    },
                    "expected_partition": partition,
                    "statistic": test["statistic"],
                },
            },
        }

    def evaluate(df: DataFrame, spark, domain, group_by, result_format):
        if not is_valid_categorical_partition_object(partition):
            raise ValueError("chisquare test needs a categorical partition_object")
        return each_group(
            categorical_partitions(df, column, domain, group_by),
            lambda obs: finish(obs, obs["n"]),
        )

    return CompiledJob(evaluate=evaluate)


# --- bootstrapped KS vs an expected continuous partition (reference
# column_bootstrapped_ks_test_p_value.py:26-133, pandas-only there).
# Scale split: the DISTRIBUTED part is one histogram agg (below / per-bin
# / above / min / max in a single pass); the bootstrap itself resamples
# from that binned empirical distribution DRIVER-SIDE with a seeded RNG —
# the reference's np.random.choice over the raw column would require
# collecting the column, which does not survive 100 TB.  Within-bin
# placement is uniform (piecewise-linear ECDF inverse), which matches the
# reference's value-level resampling up to bin resolution — the same
# resolution the partition object itself imposes. ------------------------


@register_dist("expect_column_bootstrapped_ks_test_p_value_to_be_greater_than")
def _ks_test(kwargs: Dict[str, Any]) -> CompiledJob:
    column = kwargs["column"]
    partition = kwargs["partition_object"]
    p_threshold = float(kwargs.get("p", 0.05))

    def _validate_partition() -> List[float]:
        import math as _math

        if not is_valid_continuous_partition_object(partition):
            raise ValueError("Invalid continuous partition object.")
        bins = [float(b) for b in partition["bins"]]
        # reference parity: bootstrapping against an unbounded or
        # tail-weighted partition is ill-defined
        if _math.isinf(bins[0]) or _math.isinf(bins[-1]):
            raise ValueError("Partition endpoints must be finite.")
        if sum(partition.get("tail_weights") or []) > 0:
            raise ValueError(
                "Partition cannot have tail weights -- endpoints must "
                "be finite."
            )
        return bins

    def finish(hist: Dict[str, Any], bins: List[float]) -> Dict[str, Any]:
        import numpy as np

        weights = [float(w) for w in partition["weights"]]
        n_samples = int(kwargs.get("bootstrap_samples") or 1000)
        sample_size = int(
            kwargs.get("bootstrap_sample_size") or 2 * len(weights)
        )
        total = hist["nonnull_count"]
        if total == 0:
            return {
                "success": False,
                "result": {
                    "observed_value": None,
                    "details": {"element_count": 0},
                },
            }

        # piecewise-linear empirical sampler: segments are [min, bins[0])
        # below-mass, each partition bin, (bins[-1], max] above-mass
        seg_lo = ([hist["min"]] if hist["below"] else []) + bins[:-1] + (
            [bins[-1]] if hist["above"] else []
        )
        seg_hi = ([bins[0]] if hist["below"] else []) + bins[1:] + (
            [hist["max"]] if hist["above"] else []
        )
        seg_n = (
            ([hist["below"]] if hist["below"] else [])
            + hist["counts"]
            + ([hist["above"]] if hist["above"] else [])
        )
        seg_p = np.asarray(seg_n, dtype=float) / total

        test_cdf = np.append([0.0], np.cumsum(weights))
        rng = np.random.default_rng(int(kwargs.get("seed", 874991)))
        segs = rng.choice(len(seg_p), size=(n_samples, sample_size), p=seg_p)
        u = rng.random((n_samples, sample_size))
        lo = np.asarray(seg_lo)[segs]
        hi = np.asarray(seg_hi)[segs]
        samples = np.sort(lo + u * (hi - lo), axis=1)

        # one-sample KS of each bootstrap sample vs the interpolated
        # partition CDF (0 below, 1 above — reference estimated_cdf)
        cdf_at = np.clip(
            np.interp(samples, bins, test_cdf, left=0.0, right=1.0), 0, 1
        )
        i = np.arange(1, sample_size + 1) / sample_size
        d_plus = np.max(np.abs(cdf_at - i), axis=1)
        d_minus = np.max(
            np.abs(cdf_at - (np.arange(sample_size) / sample_size)), axis=1
        )
        stats_ = np.maximum(d_plus, d_minus)
        p_values = np.asarray(
            [gxstats.ks_p_value(float(s), sample_size) for s in stats_]
        )
        test_result = (1 + int((p_values >= p_threshold).sum())) / (
            n_samples + 1
        )

        # full-sample sup-statistic on the bin grid, kept for diagnostics
        weights_f = weights
        ecdf, cdf = [hist["below"] / total], [0.0]
        run_obs, run_exp = ecdf[0], 0.0
        for c, w in zip(hist["counts"], weights_f):
            run_obs += c / total
            run_exp += w
            ecdf.append(run_obs)
            cdf.append(run_exp)
        sup = gxstats.ks_two_sample_from_cdfs(
            ecdf, cdf, total, float("inf")
        )["statistic"]

        return {
            "success": bool(test_result > p_threshold),
            "result": {
                "observed_value": test_result,
                "details": {
                    "statistic": sup,
                    "bootstrap_samples": n_samples,
                    "bootstrap_sample_size": sample_size,
                    "expected_partition": {
                        "bins": bins,
                        "weights": weights,
                    },
                    "observed_partition": {
                        "bins": (
                            ([hist["min"]] if hist["below"] else [])
                            + bins
                            + ([hist["max"]] if hist["above"] else [])
                        ),
                        "weights": [n / total for n in seg_n],
                    },
                },
            },
        }

    def evaluate(df: DataFrame, spark, domain, group_by, result_format):
        bins = _validate_partition()
        hists = histogram_counts(
            df, column, bins, domain, include_min_max=True, group_by=group_by
        )
        return each_group(hists, lambda h: finish(h, bins))

    return CompiledJob(evaluate=evaluate)


# --- two-sample drift (ours; north-star KS/PSI on turn length & role mix).
# Both windows measured in ONE pass via conditional aggregation on the
# baseline split predicate — no second scan. ------------------------------


def split_histograms(
    df: DataFrame,
    column: str,
    baseline: Column,
    bins: List[float],
    domain: Optional[Column],
    group_by: Sequence[str] = (),
) -> Dict[tuple, Tuple[List[int], List[int], int, int]]:
    """Two-sample histograms ``(base, cur, n_base, n_cur)`` per
    ``group_by`` key in ONE ``groupBy(*group_by)`` conditional-agg job
    over the baseline split.  Driver transfer is one fixed-width row per
    group — 2 + 2·n_bins longs — so 10^5 partitions x 20 bins is a few
    MB."""
    col = F.col(column)
    scoped = _apply_domain(df, domain).filter(col.isNotNull())
    side = domain_gate(baseline)
    aggs = [
        F.sum(F.when(side, 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(~side, 1).otherwise(0)).alias("n_cur"),
    ]
    n = len(bins) - 1
    for i in range(n):
        lo, hi = bins[i], bins[i + 1]
        in_bin = (
            (col >= F.lit(lo)) & ((col <= F.lit(hi)) if i == n - 1 else (col < F.lit(hi)))
        )
        aggs.append(F.sum(F.when(side & in_bin, 1).otherwise(0)).alias(f"p{i}"))
        aggs.append(F.sum(F.when(~side & in_bin, 1).otherwise(0)).alias(f"q{i}"))
    return {
        group_key(row, group_by): (
            [int(row[f"p{i}"] or 0) for i in range(n)],
            [int(row[f"q{i}"] or 0) for i in range(n)],
            int(row["n_base"] or 0),
            int(row["n_cur"] or 0),
        )
        for row in scoped.groupBy(*group_by).agg(*aggs).collect()
    }


def _resolve_split(kwargs: Dict[str, Any]) -> Column:
    return parse_row_condition(
        kwargs["baseline_condition"],
        kwargs.get("condition_parser", "spark"),
    )


def _drift_bins(
    df: DataFrame, column: str, kwargs: Dict[str, Any], domain: Optional[Column]
) -> List[float]:
    if kwargs.get("bins"):
        return [float(b) for b in kwargs["bins"]]
    n_bins = int(kwargs.get("n_bins", 20))
    partition = build_continuous_partition_object(
        df, column, bins=n_bins, method=kwargs.get("method", "quantile"),
        domain=domain,
    )
    return partition["bins"]


def _two_sample_job(
    kwargs: Dict[str, Any], vout: Callable[..., Dict[str, Any]]
) -> CompiledJob:
    """A binned two-sample drift check: bins resolved ONCE over the
    evaluator's ``df`` (shared edges make per-group statistics
    comparable), every group's two histograms in one job, ``vout(base,
    cur, n_base, n_cur, bins)`` per group."""
    column = kwargs["column"]

    def evaluate(df: DataFrame, spark, domain, group_by, result_format):
        bins = _drift_bins(df, column, kwargs, domain)
        hists = split_histograms(
            df, column, _resolve_split(kwargs), bins, domain, group_by
        )
        return each_group(hists, lambda h: vout(*h, bins))

    return CompiledJob(evaluate=evaluate)


@register_dist("expect_column_two_sample_ks_to_be_less_than")
def _two_sample_ks(kwargs: Dict[str, Any]) -> CompiledJob:
    threshold = float(kwargs["threshold"])

    def _vout(
        base: List[int], cur: List[int], n_base: int, n_cur: int,
        bins: List[float],
    ) -> Dict[str, Any]:
        tb, tc = (n_base or 1), (n_cur or 1)
        ecdf_b, ecdf_c, rb, rc = [], [], 0.0, 0.0
        for pb, pc in zip(base, cur):
            rb += pb / tb
            rc += pc / tc
            ecdf_b.append(rb)
            ecdf_c.append(rc)
        test = gxstats.ks_two_sample_from_cdfs(ecdf_b, ecdf_c, n_base, n_cur)
        return {
            "success": bool(test["statistic"] < threshold),
            "result": {
                "observed_value": test["statistic"],
                "details": {
                    "p_value": test["p_value"],
                    "n_baseline": n_base,
                    "n_current": n_cur,
                    "bins": bins,
                },
            },
        }

    return _two_sample_job(kwargs, _vout)


@register_dist("expect_column_two_sample_psi_to_be_less_than")
def _two_sample_psi(kwargs: Dict[str, Any]) -> CompiledJob:
    threshold = float(kwargs["threshold"])

    def _vout(
        base: List[int], cur: List[int], n_base: int, n_cur: int,
        bins: List[float],
    ) -> Dict[str, Any]:
        value = gxstats.psi(base, cur)
        return {
            "success": bool(value < threshold),
            "result": {
                "observed_value": value,
                "details": {
                    "n_baseline": n_base,
                    "n_current": n_cur,
                    "bins": bins,
                },
            },
        }

    return _two_sample_job(kwargs, _vout)


CATEGORICAL_COLLECT_CAP = 10_000
# a grouped call collects (group, category) rows — bounded by groups x
# categories, so its total cap is proportionally higher; at the
# 10^5-partition design point with <=5 categories this is 5x10^5 rows of
# four scalars (~tens of MB on the driver)
GROUPED_CATEGORICAL_COLLECT_CAP = 1_000_000


def _categories_by_group(
    frame: DataFrame, what: str, group_by: Sequence[str]
) -> Dict[tuple, Any]:
    """Collect a per-(group, category) aggregate with a hard cardinality
    cap: ``{group key tuple: rows}``, a group over
    ``CATEGORICAL_COLLECT_CAP`` categories mapping to the cap's
    ValueError.

    ``limit(total + 1)`` bounds the driver transfer in the SAME job (no
    extra scan — the limit rides after the aggregation), and one overflow
    row is enough to prove the column isn't categorical-scale and fail
    clearly instead of OOMing the driver.  The total is the per-group cap
    without a prefix, ``GROUPED_CATEGORICAL_COLLECT_CAP`` with one.
    Mirrors ``EXACT_KS_COLLECT_CAP``.
    """

    def capped(cap: int) -> ValueError:
        return ValueError(
            f"cardinality of {what} exceeds the categorical cap "
            f"{cap}; these tests are for categorical "
            "columns — bucketize continuous data first"
        )

    # late-bound module attrs so tests (and users) can lower the caps
    cap = CATEGORICAL_COLLECT_CAP
    total = GROUPED_CATEGORICAL_COLLECT_CAP if group_by else cap
    rows = frame.limit(total + 1).collect()
    if len(rows) > total:
        raise capped(total)
    return {
        key: part if len(part) <= cap else capped(cap)
        for key, part in rows_by_group(rows, group_by).items()
    }


def _category_order(rows: List[Any], column: str) -> List[Any]:
    """Rows sorted by category value (by its text when values of mixed
    types do not compare), so the details list categories the same way
    on every path."""
    try:
        return sorted(rows, key=lambda r: r[column])
    except TypeError:
        return sorted(rows, key=lambda r: str(r[column]))


@register_dist("expect_column_two_sample_chisquare_p_to_be_greater_than")
def _two_sample_chi2(kwargs: Dict[str, Any]) -> CompiledJob:
    """Categorical homogeneity drift (role mix): chi² of current counts vs
    baseline-proportioned expectations, both sides counted in one
    groupBy pass."""
    column = kwargs["column"]
    p_threshold = float(kwargs.get("p", 0.05))

    def _vout(rows: List[Any]) -> Dict[str, Any]:
        obs = [float(r["n_cur"]) for r in rows]
        exp = [float(r["n_base"]) for r in rows]
        test = gxstats.chi2_test(obs, exp)
        return {
            "success": bool(test["p_value"] > p_threshold),
            "result": {
                "observed_value": test["p_value"],
                "details": {
                    "statistic": test["statistic"],
                    "categories": [r[column] for r in rows],
                    "baseline_counts": exp,
                    "current_counts": obs,
                },
            },
        }

    def evaluate(df: DataFrame, spark, domain, group_by, result_format):
        # one (group, category) counting job; the capped collect bounds
        # groups x categories rows on the driver
        side = domain_gate(_resolve_split(kwargs))
        groups = _categories_by_group(
            _apply_domain(df, domain)
            .filter(F.col(column).isNotNull())
            .groupBy(*group_by, column)
            .agg(
                F.sum(F.when(side, 1).otherwise(0)).alias("n_base"),
                F.sum(F.when(~side, 1).otherwise(0)).alias("n_cur"),
            ),
            column,
            group_by,
        )
        return each_group(
            groups, lambda rows: _vout(_category_order(rows, column))
        )

    return CompiledJob(evaluate=evaluate)


def _reference_category_codes(
    values: List[Any],
    counts: Dict[Any, int],
    has_null: bool,
    numeric: bool,
    bins: Optional[List[Any]],
    n_bins: Optional[int],
) -> Dict[Any, Optional[str]]:
    """Port of the reference's binning for Cramér's φ
    (``dataset/pandas_dataset.py:558-633`` ``get_binned_values``) at the
    distinct-value level: maps each non-null distinct value to its
    category label.  ``None`` label = row dropped (pandas Categorical
    code -1, i.e. a value below user-provided bins).  Nulls map to
    "(missing)" at the call site.

    Numeric columns are ALWAYS binned (equal-width ``n_bins`` edges via
    ``np.histogram_bin_edges``, default 10, max nudged into the last
    bin); categorical columns keep their top-``n_bins`` values and fold
    the rest into "(other)" — unless user ``bins`` (list of value
    groups) provide the mapping.  Tie-break for equal counts is
    (count desc, value asc) — deterministic, and matches pandas
    ``value_counts`` first-occurrence order on sorted fixture data."""
    import numpy as np

    if numeric:
        vals = np.array(sorted(float(v) for v in values), dtype=float)
        nb = 10 if n_bins is None else int(n_bins)
        if bins is not None:
            edges = np.array(sorted({float(x) for x in bins}), dtype=float)
            # reference: np.min(series) is NaN when nulls exist, so the
            # extend-to-cover-min/max step silently no-ops there
            if not has_null and vals.size:
                if vals.min() < edges[0]:
                    edges = np.concatenate(([vals.min()], edges))
                if vals.max() > edges[-1]:
                    edges = np.concatenate((edges, [vals.max()]))
        elif vals.size:
            edges = np.histogram_bin_edges(vals, bins=nb)
        else:
            edges = np.linspace(0.0, 1.0, nb + 1)
        edges = edges.astype(float).copy()
        edges[-1] = np.nextafter(edges[-1], edges[-1] + 1)
        n_interval_labels = len(edges) - 1
        codes = np.digitize(vals, bins=edges) - 1
        mapping: Dict[Any, Optional[str]] = {}
        for v, code in zip(sorted(values, key=float), codes):
            if code < 0:
                mapping[v] = None  # below provided bins -> dropped row
            elif code < n_interval_labels:
                mapping[v] = f"bin_{int(code)}"
            elif has_null and code == n_interval_labels:
                # overflow above provided bins digitizes into the extra
                # "(missing)" slot exactly as pandas from_codes does
                mapping[v] = "(missing)"
            else:
                raise ValueError(
                    f"value {v} falls outside the provided bins"
                )
        return mapping
    if bins is not None:
        replace: Dict[Any, str] = {}
        for group in bins:
            label = ", ".join(str(x) for x in group)
            for member in group:
                replace[member] = label
        return {v: replace.get(v, v) for v in values}
    nb = 10 if n_bins is None else int(n_bins)
    if len(values) < nb + 1:
        return {v: v for v in values}
    ranked = sorted(values, key=lambda v: (-counts[v], str(v)))
    keep = set(ranked[:nb])
    return {v: (v if v in keep else "(other)") for v in values}


@register_dist("expect_column_pair_cramers_phi_value_to_be_less_than")
def _cramers_phi(kwargs: Dict[str, Any]) -> CompiledJob:
    """Cramér's φ (association) between two columns from ONE contingency
    groupBy — pandas-only in the reference (``self_check/util.py:2073``;
    ``dataset/dataset.py:4379-4449``).  Reference-parity semantics:
    numeric columns are binned (``bins_A/bins_B`` value lists or
    ``n_bins_A/n_bins_B`` equal-width, default 10), nulls count as a
    "(missing)" category, χ² uses the Yates continuity correction on 2×2
    tables (scipy ``chi2_contingency`` default), the denominator is the
    FULL row count, φ is clamped to [0, 1], and success is φ ≤ threshold."""
    column_a, column_b = kwargs["column_A"], kwargs["column_B"]
    threshold = float(kwargs.get("threshold", 0.1))
    bins_a, bins_b = kwargs.get("bins_A"), kwargs.get("bins_B")
    n_bins_a, n_bins_b = kwargs.get("n_bins_A"), kwargs.get("n_bins_B")

    def _is_numeric(df: DataFrame, column: str) -> bool:
        from pyspark.sql import types as T

        dt = df.schema[column].dataType
        # pandas bins only int/float dtypes; decimals/booleans/strings
        # take the categorical path there (object/bool dtype)
        return isinstance(
            dt,
            (
                T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType,
            ),
        )

    def finish(
        rows: List[Any], numeric_a: bool, numeric_b: bool
    ) -> Dict[str, Any]:
        import numpy as np

        if not rows:
            return {"success": True, "result": {"observed_value": 0.0}}
        total_n = sum(int(r["n"]) for r in rows)

        def codes_for(column, numeric, bins, n_bins):
            counts: Dict[Any, int] = {}
            has_null = False
            for r in rows:
                v = r[column]
                if v is None:
                    has_null = True
                else:
                    counts[v] = counts.get(v, 0) + int(r["n"])
            return (
                _reference_category_codes(
                    list(counts), counts, has_null, numeric, bins, n_bins
                ),
                has_null,
            )

        map_a, _ = codes_for(column_a, numeric_a, bins_a, n_bins_a)
        map_b, _ = codes_for(column_b, numeric_b, bins_b, n_bins_b)
        cells: Dict[Any, int] = {}
        for r in rows:
            la = "(missing)" if r[column_a] is None else map_a[r[column_a]]
            lb = "(missing)" if r[column_b] is None else map_b[r[column_b]]
            if la is None or lb is None:
                continue  # dropped rows still count toward total_n
            cells[(la, lb)] = cells.get((la, lb), 0) + int(r["n"])
        if not cells:
            return {"success": True, "result": {"observed_value": 0.0}}
        a_labels = sorted({a for a, _ in cells}, key=str)
        b_labels = sorted({b for _, b in cells}, key=str)
        table = np.zeros((len(a_labels), len(b_labels)))
        ai = {v: i for i, v in enumerate(a_labels)}
        bi = {v: i for i, v in enumerate(b_labels)}
        for (a, b), n in cells.items():
            table[ai[a], bi[b]] = n
        # crosstab's pivot drops all-NaN rows/cols, so empty categories
        # never reach chi2; cells-only construction is equivalent
        t_sum = table.sum()
        expected = np.outer(table.sum(axis=1), table.sum(axis=0)) / t_sum
        if (expected == 0).any():
            raise ValueError(
                "the internally computed table of expected frequencies "
                "has a zero element"
            )
        dof = (len(a_labels) - 1) * (len(b_labels) - 1)
        observed = table.astype(float)
        if dof == 1:
            # Yates continuity correction, scipy chi2_contingency default
            observed = observed + 0.5 * np.sign(expected - observed)
        chi2 = float(((observed - expected) ** 2 / expected).sum())
        k = min(len(a_labels), len(b_labels))
        phi = (
            max(min(math.sqrt(chi2 / total_n / (k - 1)), 1.0), 0.0)
            if k > 1 and total_n > 0
            else 0.0
        )
        return {
            "success": bool(phi <= threshold),
            "result": {
                "observed_value": phi,
                "details": {"chi2": chi2, "n": int(total_n)},
            },
        }

    def evaluate(df: DataFrame, spark, domain, group_by, result_format):
        # every group's contingency table from ONE count job; nulls stay
        # in the groupBy: they form the "(missing)" category
        numeric_a = _is_numeric(df, column_a)
        numeric_b = _is_numeric(df, column_b)
        groups = _categories_by_group(
            _apply_domain(df, domain)
            .groupBy(*group_by, column_a, column_b)
            .agg(F.count(F.lit(1)).alias("n")),
            f"({column_a}, {column_b})",
            group_by,
        )
        return each_group(
            groups, lambda rows: finish(rows, numeric_a, numeric_b)
        )

    return CompiledJob(evaluate=evaluate)


def _make_cdf(distribution: str, params: Any):
    """CDF callable from scipy-style params (dict with GE names, or the
    positional tuple scipy.cdf would take — reference conventions in
    ``execution_engine/util.py:194-330``)."""
    if isinstance(params, dict):
        p = dict(params)
        loc = float(p.get("loc", 0.0))
        scale = float(p.get("scale", 1.0))
        if distribution == "norm":
            args = (float(p["mean"]), float(p["std_dev"]))
        elif distribution == "beta":
            args = (float(p["alpha"]), float(p["beta"]), loc, scale)
        elif distribution == "gamma":
            args = (float(p["alpha"]), loc, scale)
        elif distribution == "uniform":
            args = (float(p["min"]), float(p["max"]))
        elif distribution == "chi2":
            args = (float(p["df"]), loc, scale)
        elif distribution in ("expon", "exponential"):
            args = (loc, scale)
        else:
            raise AttributeError(
                f"unsupported distribution {distribution!r}"
            )
    else:
        args = tuple(float(v) for v in params)

    if distribution == "norm":
        mean, std = args[0], args[1]
        return lambda x: gxstats.norm_cdf(x, mean, std)
    if distribution == "beta":
        a, b = args[0], args[1]
        loc = args[2] if len(args) > 2 else 0.0
        scale = args[3] if len(args) > 3 else 1.0
        return lambda x: gxstats.beta_cdf(x, a, b, loc, scale)
    if distribution == "gamma":
        alpha = args[0]
        loc = args[1] if len(args) > 1 else 0.0
        scale = args[2] if len(args) > 2 else 1.0
        return lambda x: gxstats.gamma_cdf(x, alpha, loc, scale)
    if distribution == "uniform":
        # scipy uniform positional convention: (loc, scale)
        lo, width = args[0], args[1] or 1.0
        return lambda x: min(1.0, max(0.0, (x - lo) / width))
    if distribution == "chi2":
        dof = args[0]
        loc = args[1] if len(args) > 1 else 0.0
        scale = args[2] if len(args) > 2 else 1.0
        return lambda x: gxstats.gamma_cdf(x, dof / 2.0, loc, 2.0 * scale)
    if distribution in ("expon", "exponential"):
        loc = args[0] if len(args) > 0 else 0.0
        scale = args[1] if len(args) > 1 else 1.0
        return lambda x: (
            0.0 if x < loc else 1.0 - math.exp(-(x - loc) / scale)
        )
    raise AttributeError(f"unsupported distribution {distribution!r}")


EXACT_KS_COLLECT_CAP = 1_000_000


EXACT_KS_BUCKETS = 128


def _exact_ks(
    scoped: DataFrame, column: str, group_by: Sequence[str], cdf
) -> Dict[tuple, Tuple[float, int]]:
    """Exact one-sample KS statistic per ``group_by`` key at ANY scale,
    no driver collect of values: ``{group key tuple: (statistic, n)}``.
    Over the one-column projection (plus the group key):

    1. per-group count in one agg; without a prefix the same agg takes
       equi-depth cut points (``percentile_approx`` sketch) that spread
       the one group over ``EXACT_KS_BUCKETS`` buckets — the cuts only
       BALANCE the buckets, the statistic never depends on their
       accuracy.  With a prefix every group is one bucket: the groups
       already spread the rows over tasks;
    2. with cuts, exact per-bucket counts (bucket = number of cuts < x, a
       pure deterministic function of the value — no reliance on
       physical partition ids, which range-repartition re-samples per
       job and AQE may re-coalesce), prefix-summed into global rank
       offsets;
    3. hash-partition by (group, bucket), sort within partitions by
       (group, bucket, x), stream Arrow batches through the CDF with a
       running rank per (group, bucket): i = offset[bucket] +
       rank-in-bucket; reduce to one (group, sup) row per group.

    Groups reach the Python side as ``to_json(struct(*group_by))`` text,
    so NULL and typed keys survive the round trip.  The per-row formula
    max(|i/n - F(x_i)|, |(i-1)/n - F(x_i)|) over each group's sorted
    sequence is exact including ties, and bit-identical to the
    driver-side sorted-collect path (same float ops, same scalar CDF per
    element via ``np.frompyfunc``)."""
    import numpy as np

    gk = ["__gk"] if group_by else []
    vals = scoped.select(
        *group_by,
        *([F.to_json(F.struct(*group_by)).alias("__gk")] if group_by else []),
        F.col(column).cast("double").alias("__x"),
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    if not group_by:
        probs = [i / EXACT_KS_BUCKETS for i in range(1, EXACT_KS_BUCKETS)]
        aggs.append(
            F.percentile_approx("__x", F.lit(probs), 10_000).alias("q")
        )
    rows = vals.groupBy(*group_by, *gk).agg(*aggs).collect()
    keys = {(r["__gk"] if gk else ""): group_key(r, group_by) for r in rows}
    n_by = {(r["__gk"] if gk else ""): int(r["n"]) for r in rows}
    if not group_by and not n_by[""]:
        return {(): (0.0, 0)}
    cuts = [] if group_by else sorted({float(c) for c in (rows[0]["q"] or [])})
    bucket = (
        F.size(F.filter(F.lit(cuts), lambda c: c < F.col("__x")))
        if cuts
        else F.lit(0)
    )
    tagged = vals.select(*gk, "__x", bucket.alias("__b"))
    offsets: Dict[tuple, int] = {}
    if cuts:
        counts = {
            int(r["__b"]): int(r["cnt"])
            for r in tagged.groupBy("__b")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        acc = 0
        for b in sorted(counts):
            offsets[("", b)] = acc
            acc += counts[b]

    def compute(batches):
        import pandas as pd

        cdf_vec = np.frompyfunc(cdf, 1, 1)
        carry: Dict[tuple, int] = {}
        best: Dict[str, float] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            frame = pd.DataFrame(
                {
                    "g": pdf["__gk"] if gk else "",
                    "b": pdf["__b"].to_numpy(dtype=np.int64),
                }
            )
            cells = frame.groupby(["g", "b"], sort=False)
            sizes = cells.size()
            # stable within-batch rank per (group, bucket), offset by the
            # bucket's global offset and the rows of that (group, bucket)
            # seen in earlier batches
            base = np.asarray(
                [offsets.get(k, 0) + carry.get(k, 0) for k in sizes.index],
                dtype=np.int64,
            )
            i = cells.cumcount().to_numpy() + base[cells.ngroup().to_numpy()] + 1
            n = frame["g"].map(n_by).to_numpy(dtype=np.int64)
            fx = cdf_vec(pdf["__x"].to_numpy(dtype=float)).astype(float)
            d = np.maximum(np.abs(i / n - fx), np.abs((i - 1) / n - fx))
            for g, dg in pd.Series(d).groupby(frame["g"], sort=False).max().items():
                best[g] = max(best.get(g, 0.0), float(dg))
            for k, c in sizes.items():
                carry[k] = carry.get(k, 0) + int(c)
        out = {"d": list(best.values())}
        if gk:
            out = {"__gk": list(best), **out}
        yield pd.DataFrame(out)

    sup = (
        tagged.repartition(*gk, "__b")
        .sortWithinPartitions(*gk, "__b", "__x")
        .mapInPandas(compute, ("__gk string, " if gk else "") + "d double")
        .groupBy(*gk)
        .agg(F.max("d").alias("d"))
        .collect()
    )
    return {
        keys[r["__gk"] if gk else ""]: (
            float(r["d"] or 0.0), n_by[r["__gk"] if gk else ""]
        )
        for r in sup
    }


@register_dist(
    "expect_column_parameterized_distribution_ks_test_p_value_to_be_greater_than"
)
def _parameterized_ks(kwargs: Dict[str, Any]) -> CompiledJob:
    """One-sample KS against a named parametric distribution
    (norm/uniform/expon/beta/gamma/chi2) — pandas-only in the reference
    (``self_check/util.py:2071``).  ``method`` kwarg:

    - ``auto`` (default): every group (the whole column for ``validate``)
      of ≤1e6 non-null values gets the exact KS statistic; larger ones
      use the quantile-grid sup-distance (mergeable percentile sketch,
      one agg).  The choice is made per group from its own count, so
      ``validate`` of a slice and a grouped call choose alike.
    - ``exact``: distributed exact statistic at ANY scale via
      bucketed global ranks (``_exact_ks``) — no value ever reaches the
      driver; costs two shuffles of the one-column projection.
    - ``grid``: force the quantile-grid path (one combined agg)."""
    column = kwargs["column"]
    distribution = kwargs.get("distribution", "norm")
    p_threshold = float(kwargs.get("p_value", kwargs.get("p", 0.05)))
    method = str(kwargs.get("method", "auto")).lower()
    if method not in ("auto", "exact", "grid"):
        raise ValueError(
            f"method must be auto|exact|grid, got {method!r}"
        )
    params = kwargs.get("params")
    if params is None:
        raise ValueError(
            "params (dict or scipy positional tuple) is required"
        )
    cdf = _make_cdf(distribution, params)

    def grid(scoped: DataFrame, group_by) -> Dict[tuple, Tuple[float, int]]:
        """Per-group count + approx quantile grid in ONE agg; the
        statistic is the grid's sup-distance to the CDF."""
        grid_n = 200
        probs = [i / grid_n for i in range(1, grid_n)]
        rows = (
            scoped.groupBy(*group_by)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.percentile_approx(column, F.lit(probs), 10_000).alias("q"),
            )
            .collect()
        )
        return {
            group_key(r, group_by): (
                max(abs(p - cdf(float(x))) for p, x in zip(probs, r["q"]))
                if r["n"]
                else 0.0,
                int(r["n"]),
            )
            for r in rows
        }

    def auto(scoped: DataFrame, group_by) -> Dict[tuple, Tuple[float, int]]:
        """Exact for every group of at most ``EXACT_KS_COLLECT_CAP``
        non-null values, grid above, so a group's method depends on its
        own count alone.  An ungrouped exact group is a sorted collect;
        grouped, the exact groups take :func:`_exact_ks` (bit-identical
        statistic, no collect)."""
        n_by = {
            group_key(r, group_by): int(r["count"])
            for r in scoped.groupBy(*group_by).count().collect()
        }
        small = [k for k, n in n_by.items() if n <= EXACT_KS_COLLECT_CAP]
        large = [k for k in n_by if k not in small]
        out: Dict[tuple, Tuple[float, int]] = {}
        if large:
            out.update(grid(_only(scoped, group_by, large, n_by), group_by))
        if small and group_by:
            out.update(
                _exact_ks(
                    _only(scoped, group_by, small, n_by), column, group_by, cdf
                )
            )
        elif small:
            n = n_by[()]
            values = sorted(
                r[0]
                for r in scoped.select(F.col(column).cast("double")).collect()
            )
            statistic = 0.0
            for i, x in enumerate(values):
                fx = cdf(float(x))
                statistic = max(
                    statistic, abs((i + 1) / n - fx), abs(i / n - fx)
                )
            out[()] = (statistic, n)
        return out

    def evaluate(df: DataFrame, spark, domain, group_by, result_format):
        scoped = _apply_domain(df, domain).filter(F.col(column).isNotNull())
        if method == "exact":
            stats = _exact_ks(scoped, column, group_by, cdf)
        else:
            stats = (grid if method == "grid" else auto)(scoped, group_by)
        return {key: _finish(*s) for key, s in stats.items()}

    def _finish(statistic: float, n: int) -> Dict[str, Any]:
        if n == 0:
            return {"success": True, "result": {"observed_value": 1.0}}
        p_value = gxstats.ks_p_value(statistic, n)
        return {
            "success": bool(p_value > p_threshold),
            "result": {
                "observed_value": p_value,
                "details": {
                    "statistic": statistic,
                    "distribution": distribution,
                },
            },
        }

    return CompiledJob(evaluate=evaluate)


def _only(
    scoped: DataFrame,
    group_by: Sequence[str],
    keys: List[tuple],
    all_keys: Dict[tuple, Any],
) -> DataFrame:
    """``scoped`` narrowed to the groups ``keys`` (unfiltered when they
    are all of ``all_keys``)."""
    if len(keys) == len(all_keys):
        return scoped
    return scoped.filter(group_filter(group_by, keys))


def compile_distribution_expectation(
    expectation_type: str, kwargs: Dict[str, Any]
) -> CompiledJob:
    try:
        compiler = DIST_COMPILERS[expectation_type]
    except KeyError:
        raise KeyError(f"no distribution compiler for {expectation_type!r}")
    return compiler(kwargs)
