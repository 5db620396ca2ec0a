"""Per-partition mergeable sketches for incremental table stats.

The 10^12-row problem this solves: table-level statistics (distinct
count, mean/stddev, min/max, hot values) must re-scan EVERY partition on
every run, so a resumed/incremental validation pays the whole table
again for a handful of numbers.  This store computes ONE bounded sketch
per (partition, column) for partitions it has not seen — in one grouped
Spark job — persists them next to the checkpoint manifest (same
atomic-rename one-file-per-partition layout, object-store safe), and
answers table-level questions by MERGING stored sketches, never
re-scanning validated data.  Four mergeable kinds:

* ``hll`` — DataSketches HLL (Spark 4 ``hll_sketch_agg`` /
  ``hll_union_agg``): distinct count.  Exact while a partition stays in
  sparse mode, ~1.6%/sqrt(2^lg_k) beyond.
* ``moments`` — (count, mean, M2, min, max, sum) per column; merged with
  the Chan et al. parallel-variance combine (numerically stable — no
  sum-of-squares cancellation).  Exact.
* ``topk`` — ``approx_top_k_accumulate`` frequent-items state; merged
  with ``approx_top_k_combine``.  Exact while true cardinality fits
  ``topk_max_items``.
* ``histogram`` — counts below, inside and above fixed
  ``histogram_edges`` per column; merged by integer vector addition.
  Exact; feeds :meth:`PartitionSketchStore.merged_quantiles` and the
  drift comparisons.

Moments and histograms merge as driver arithmetic.  HLL and top-k
states merge in ONE Spark job per call: the stored blobs reach Spark as
one Arrow table that the JVM scans (``core/frames.py``), so no Python
worker starts and the cost is the bytes of the states.  The records
are still read on the driver (:meth:`PartitionSketchStore._scan_records`):
that read decides which records are live (folded files, corrupt or
partial records) and lets a merge refuse mixed ``lg_k`` before any job.

This is the north star's "single-pass combine of per-partition sketches
(count/sum/M2, distinct, heavy hitters)" made RESUMABLE: the sketch is
the checkpoint.  Reference analogue: none (the reference recomputes
from scratch per run); the resume design follows
``checkpoint/manifest.py``.
"""

from __future__ import annotations

import base64
import hashlib
import json
import math
import os
from typing import Any, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DataType,
    StructField,
    StructType,
    _parse_datatype_string,
)

from great_expectations_spark.checkpoint.manifest import _safe
from great_expectations_spark.core.frames import arrow_frame

KINDS = ("hll", "moments", "topk", "histogram")

# Partitions per grouped backfill job in PartitionSketchStore.update():
# bounds the driver-side collect to chunk_size rows (each carrying that
# partition's sketch states) no matter how many partitions a cold
# backfill covers, and makes the backfill kill-resumable — records land
# per chunk, so a killed run resumes from the first unwritten chunk.
DEFAULT_BACKFILL_CHUNK_SIZE = 256

# CI plan-guard seam: when set, called with each backfill chunk's
# grouped-agg DataFrame before it is collected, so tests can assert the
# todo filter reaches the source as a PartitionFilter on a partitioned
# table.  Never set in production.
_UPDATE_PLAN_OBSERVER = None


class EmptyBatchError(ValueError):
    """A drift judgement was asked of a batch with no non-null rows.

    Subclasses ValueError for backwards compatibility; raised distinctly
    so ``foreach_batch_drift_monitor`` can skip empty batches WITHOUT
    also swallowing persistent configuration errors (e.g. stored
    histogram edges disagreeing with the store's) — those must reach the
    alerting path."""


class NoHistoryError(ValueError):
    """The store has no accumulated histogram for the column yet (first
    batch of a fresh monitor).  Subclasses ValueError for backwards
    compatibility; see :class:`EmptyBatchError` for why it is typed."""

# hll_sketch_agg accepts these Spark SQL types natively; anything else is
# cast to string first (stable distinct-by-representation semantics)
_NATIVE_TYPES = {"int", "bigint", "string", "binary"}

_NUMERIC_TYPES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
}


def _quote(column: str) -> str:
    return "`" + column.replace("`", "``") + "`"


def _sketch_input(df: DataFrame, column: str):
    dtype = dict(df.dtypes).get(column)
    if dtype is None:
        raise ValueError(f"column {column!r} not in DataFrame")
    col = F.col(_quote(column))
    return col if dtype in _NATIVE_TYPES else col.cast("string")


def _check_numeric(df: DataFrame, column: str) -> None:
    dtype = dict(df.dtypes).get(column)
    if dtype is None:
        raise ValueError(f"column {column!r} not in DataFrame")
    if dtype not in _NUMERIC_TYPES and not dtype.startswith("decimal"):
        raise ValueError(
            f"moments sketch needs a numeric column, {column!r} is {dtype}"
        )


def _null_safe_isin(column, values: Sequence[Any]):
    """Partition membership that keeps a NULL partition addressable
    (plain ``isin`` drops NULL) without building a per-value
    ``eqNullSafe`` OR-chain — at the 10^5-partition design point a
    chained boolean tree that deep stalls or overflows Catalyst's
    recursive transforms, while ``isin`` stays one In-node (and
    pushdown-friendly) regardless of list size."""
    non_null = [v for v in values if v is not None]
    cond = column.isin(non_null) if non_null else F.lit(False)
    if any(v is None for v in values):
        cond = cond | column.isNull()
    return cond


def _merge_moments(
    a: Optional[Dict[str, float]], b: Dict[str, float]
) -> Dict[str, float]:
    """Chan et al. pairwise combine of (count, mean, M2, min, max, sum)."""
    if a is None or not a.get("count"):
        return dict(b)
    if not b.get("count"):
        return dict(a)
    na, nb = a["count"], b["count"]
    n = na + nb
    delta = b["mean"] - a["mean"]
    return {
        "count": n,
        "mean": a["mean"] + delta * nb / n,
        "m2": a["m2"] + b["m2"] + delta * delta * na * nb / n,
        "min": min(a["min"], b["min"]),
        "max": max(a["max"], b["max"]),
        "sum": a["sum"] + b["sum"],
    }


# NOTE the approx_top_k state struct carries the item type in its SCHEMA
# (the itemDataType field's type; its value is always null), so the
# struct DDL must be captured per column at accumulate time and replayed
# exactly at combine time — a fixed DDL deserializes garbage.


class _LocalRecordFS:
    """Record files on the local filesystem: temp + atomic rename."""

    def __init__(self, directory: str) -> None:
        self.directory = directory
        os.makedirs(directory, exist_ok=True)

    def join(self, name: str) -> str:
        return os.path.join(self.directory, name)

    def list_names(self) -> List[str]:
        return sorted(os.listdir(self.directory))

    def read(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write(self, path: str, payload: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(payload)
        os.replace(tmp, path)

    def unlink(self, name: str) -> None:
        try:
            os.unlink(self.join(name))
        except OSError:
            pass


class _HadoopRecordFS:
    """Record files through Spark's Hadoop FileSystem — any scheme the
    session reaches (hdfs:// s3a:// abfss:// gs:// file://), zero
    cloud-SDK dependencies (the ``functions/_hadoop_io.py`` model).
    ``create(overwrite)`` is one atomic PUT on object stores, which is
    all the record protocol needs (same argument as the manifest's
    one-file-per-partition design).  Requires an active SparkSession.

    ``hadoop_conf`` layers PER-STORE configuration over the session conf
    (credentials for a results bucket that differs from the data's —
    e.g. ``fs.s3a.bucket.<b>.assumed.role.arn`` or an abfss SAS token
    provider); when set, the store uses its own uncached
    ``FileSystem.newInstance`` so overrides beat the process-wide FS
    cache."""

    def __init__(
        self,
        directory: str,
        hadoop_conf: Optional[Dict[str, str]] = None,
    ) -> None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"a {directory.split('://', 1)[0]}:// sketch store needs "
                "an active SparkSession for Hadoop FileSystem access"
            )
        from great_expectations_spark.checkpoint._hadoopfs import (
            filesystem_for,
        )

        self._jvm = spark._jvm
        self.directory = directory.rstrip("/")
        self._fs, self._conf, self._owns_fs = filesystem_for(
            spark, self.directory, hadoop_conf
        )
        self._fs.mkdirs(
            self._jvm.org.apache.hadoop.fs.Path(self.directory)
        )

    def _fs_path(self, path: str):
        return self._fs, self._jvm.org.apache.hadoop.fs.Path(path)

    def close(self) -> None:
        """Release the per-store FileSystem (uncached ``newInstance``
        exists only under ``hadoop_conf`` overrides); idempotent."""
        from great_expectations_spark.checkpoint._hadoopfs import (
            close_quietly,
        )

        close_quietly(self._fs, getattr(self, "_owns_fs", False))
        self._owns_fs = False

    def join(self, name: str) -> str:
        return f"{self.directory}/{name}"

    def list_names(self) -> List[str]:
        fs, p = self._fs_path(self.directory)
        return sorted(
            st.getPath().getName() for st in fs.listStatus(p)
        )

    def read(self, path: str) -> str:
        fs, p = self._fs_path(path)
        stream = fs.open(p)
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def write(self, path: str, payload: str) -> None:
        fs, p = self._fs_path(path)
        out = fs.create(p, True)
        try:
            out.write(bytearray(payload.encode("utf-8")))
        finally:
            out.close()

    def unlink(self, name: str) -> None:
        fs, p = self._fs_path(self.join(name))
        try:
            fs.delete(p, False)
        except Exception:  # noqa: BLE001 — GC best-effort, like local
            pass


def _hist_add(
    acc: Optional[Dict[str, Any]], h: Dict[str, Any], column: str
) -> Dict[str, Any]:
    """Accumulate one stored histogram dict into ``acc`` (exact integer
    vector addition); the ONE definition shared by merged_histogram and
    compact so their merge semantics cannot drift."""
    if acc is None:
        return {
            "edges": list(h["edges"]),
            "counts": list(h["counts"]),
            "below": int(h["below"]),
            "above": int(h["above"]),
        }
    if h["edges"] != acc["edges"]:
        raise ValueError(
            f"stored histograms for {column!r} disagree on edges — "
            "rebuild the sketch store"
        )
    acc["counts"] = [a + b for a, b in zip(acc["counts"], h["counts"])]
    acc["below"] += int(h["below"])
    acc["above"] += int(h["above"])
    return acc


def _hll_states(
    records: Sequence[Dict[str, Any]], columns: Sequence[str]
) -> Dict[str, List[Optional[bytes]]]:
    """One decoded HLL blob per record (``None`` where the record lacks
    the column) for each column some record holds."""
    return {
        c: [
            base64.b64decode(r["hll"][c]) if c in r.get("hll", {}) else None
            for r in records
        ]
        for c in columns
        if any(c in r.get("hll", {}) for r in records)
    }


def _topk_states(
    records: Sequence[Dict[str, Any]], columns: Sequence[str]
) -> Dict[str, Tuple[int, str, List[Optional[Dict[str, Any]]]]]:
    """``(max_items, state DDL, one state per record or None)`` for each
    column some record holds a top-k state for.  Records that disagree
    on ``max_items`` or on the item type (a column whose type changed
    between runs) raise: their states cannot be combined."""
    out: Dict[str, Tuple[int, str, List[Optional[Dict[str, Any]]]]] = {}
    for c in columns:
        meta: Optional[Tuple[int, str]] = None
        states: List[Optional[Dict[str, Any]]] = []
        for r in records:
            st = r.get("topk", {}).get(c)
            if not st:
                states.append(None)
                continue
            if meta is None:
                meta = (int(st["max_items"]), st["state_ddl"])
            if meta != (int(st["max_items"]), st["state_ddl"]):
                raise ValueError(
                    f"stored topk states for {c!r} disagree on max_items "
                    "or on the item type — the column's type changed "
                    "between runs; rebuild the sketch store"
                )
            states.append(
                {
                    "sketch": base64.b64decode(st["sketch"]),
                    "maxItemsTracked": int(st["max_items"]),
                    # itemDataType: always null, the type lives in the DDL
                    "itemDataType": None,
                    "itemDataTypeDDL": st["item_ddl"],
                }
            )
        if meta is not None:
            out[c] = (meta[0], meta[1], states)
    return out


def _merge_job(
    spark: SparkSession,
    frame: Dict[str, Tuple[DataType, List[Any]]],
    aggs: Dict[str, str],
) -> Tuple[Any, StructType]:
    """ONE Spark job over stored sketch states -> (row, schema).
    ``frame`` maps a column to its type and one value per record;
    ``aggs`` maps an output column to its SQL aggregate.  The states
    reach Spark as one Arrow table, scanned in the JVM, so the merge
    starts no Python worker.  ``coalesce(1)``: a zero-row task would
    hand ``approx_top_k_combine`` an empty partial buffer whose item
    type is still null, which its serializer cannot represent
    (MatchError in Spark 4.1) — one partition of a handful of states
    sidesteps it for free."""
    df = arrow_frame(
        spark,
        {n: values for n, (_, values) in frame.items()},
        StructType([StructField(n, t) for n, (t, _) in frame.items()]),
    ).coalesce(1)
    out = df.agg(*[F.expr(sql).alias(a) for a, sql in aggs.items()])
    return out.first(), out.schema


def _combine_sql(column: str, max_items: int) -> str:
    # approx_top_k_combine fails on a null state; records lacking the
    # column are null in its frame column
    return (
        f"approx_top_k_combine({column}, {int(max_items)}) "
        f"FILTER (WHERE {column} IS NOT NULL)"
    )


def _normalize_plan(
    columns: Any, kinds: Sequence[str]
) -> Dict[str, tuple]:
    """``columns`` list + shared ``kinds``, or ``{column: kinds}``
    mapping -> validated ``{column: (kinds...)}`` plan."""
    from collections.abc import Mapping as _Mapping

    if isinstance(columns, _Mapping):
        plan = {str(c): tuple(ks) for c, ks in columns.items()}
    else:
        plan = {str(c): tuple(kinds) for c in columns}
    bad = sorted({k for ks in plan.values() for k in ks if k not in KINDS})
    if bad:
        raise ValueError(f"unknown sketch kinds {bad}; pick from {KINDS}")
    if not plan:
        raise ValueError("empty column plan")
    return plan


def drift_from_vectors(
    hist_vec: List[int], new_vec: List[int], edges: List[float]
) -> Dict[str, Any]:
    """PSI / chi² (+p) / KL between two aligned bin-count vectors —
    driver math shared by the whole-table and per-partition drift."""
    from great_expectations_spark.functions import stats as _stats

    chi2 = _stats.chi2_test(new_vec, hist_vec)
    return {
        "edges": edges,
        "history_counts": list(hist_vec),
        "new_counts": list(new_vec),
        "psi": _stats.psi(hist_vec, new_vec),
        "kl": _stats.kl_divergence(new_vec, hist_vec),
        "chi2": chi2["statistic"],
        "chi2_p": chi2["p_value"],
    }


def _record_fs(
    directory: str, hadoop_conf: Optional[Dict[str, str]] = None
):
    scheme = directory.split("://", 1)[0] if "://" in directory else ""
    if scheme:
        return _HadoopRecordFS(directory, hadoop_conf=hadoop_conf)
    if hadoop_conf:
        raise ValueError(
            "hadoop_conf only applies to scheme'd checkpoint dirs "
            "(file:// hdfs:// s3a:// abfss:// gs://); a plain local "
            "path would silently ignore it"
        )
    return _LocalRecordFS(directory)


class PartitionSketchStore:
    """One JSON record per partition under ``<checkpoint_dir>/sketches/``,
    holding the partition's sketch blobs per column; write-to-temp +
    atomic rename (local) or single-PUT create (Hadoop schemes: hdfs://
    s3a:// abfss:// gs://), resume by listing — the manifest's
    coordination-free model.  A later ``update`` asking for
    kinds/columns a stored record lacks recomputes just those
    partitions."""

    def __init__(
        self,
        checkpoint_dir: str,
        lg_k: int = 12,
        topk_max_items: int = 10_000,
        histogram_edges: Optional[Dict[str, List[float]]] = None,
        hadoop_conf: Optional[Dict[str, str]] = None,
    ) -> None:
        if not 4 <= int(lg_k) <= 21:
            raise ValueError(f"lg_k must be in [4, 21], got {lg_k}")
        self.lg_k = int(lg_k)
        self.topk_max_items = int(topk_max_items)
        self.histogram_edges: Dict[str, List[float]] = {}
        for c, edges in (histogram_edges or {}).items():
            e = [float(x) for x in edges]
            if len(e) < 2 or any(b <= a for a, b in zip(e, e[1:])):
                raise ValueError(
                    f"histogram_edges[{c!r}] must be >=2 strictly "
                    "increasing values"
                )
            self.histogram_edges[c] = e
        if "://" in checkpoint_dir:
            sketch_dir = checkpoint_dir.rstrip("/") + "/sketches"
        else:
            sketch_dir = os.path.join(checkpoint_dir, "sketches")
        self._fs = _record_fs(sketch_dir, hadoop_conf=hadoop_conf)
        self.directory = self._fs.directory

    def close(self) -> None:
        """Release the store's per-store Hadoop FileSystem if one exists
        (``hadoop_conf`` overrides create an uncached instance); no-op
        for local-directory stores.  Idempotent."""
        closer = getattr(self._fs, "close", None)
        if closer is not None:
            closer()

    def _name(self, partition_id: str) -> str:
        # readable sanitized prefix + hash of the RAW id: two partition
        # values differing only in sanitized-away characters ('a b' vs
        # 'a?b') must not clobber each other's records — a collision here
        # silently drops one partition's stats and makes resume ping-pong
        digest = hashlib.sha1(str(partition_id).encode()).hexdigest()[:8]
        return f"{_safe(partition_id)}__{digest}.json"

    def _path(self, partition_id: str) -> str:
        return self._fs.join(self._name(partition_id))

    # -- records ---------------------------------------------------------

    def _scan_records(self) -> Dict[str, Dict[str, Any]]:
        """{filename: record} for every LIVE record — files named in any
        compacted record's ``folded`` list are ignored even before they
        are garbage-collected, which is what makes compaction
        crash-safe (see :meth:`compact`)."""
        out: Dict[str, Dict[str, Any]] = {}
        for name in self._fs.list_names():
            if not name.endswith(".json"):
                continue
            try:
                data = json.loads(self._fs.read(self._fs.join(name)))
                if "partition_id" not in data:
                    continue
                out[name] = data
            except Exception:  # noqa: BLE001 — partial/corrupt/raced
                continue  # record: treat as not-stored
        folded: set = set()
        for data in out.values():
            folded.update(data.get("folded", []))
        return {n: d for n, d in out.items() if n not in folded}

    def _raw_records(self) -> Dict[str, Dict[str, Any]]:
        return {
            d["partition_id"]: d for d in self._scan_records().values()
        }

    def stored_partitions(self) -> Dict[str, str]:
        """{partition_id: record path} for every readable record."""
        return {
            pid: self._path(pid) for pid in self._raw_records()
        }

    def load(self, partition_id: str) -> Dict[str, bytes]:
        """HLL blobs per column for one partition (legacy-shaped API)."""
        data = json.loads(self._fs.read(self._path(partition_id)))
        if int(data["lg_k"]) != self.lg_k:
            raise ValueError(
                f"stored sketch for {partition_id!r} has lg_k="
                f"{data['lg_k']}, store expects {self.lg_k} — sketches "
                "with different lg_k must not be silently merged"
            )
        return {
            c: base64.b64decode(b) for c, b in data.get("hll", {}).items()
        }

    def _record(self, partition_id: str, payload: Dict[str, Any]) -> None:
        payload = dict(payload)
        payload["partition_id"] = str(partition_id)
        payload["lg_k"] = self.lg_k
        payload["topk_max_items"] = self.topk_max_items
        self._fs.write(
            self._path(str(partition_id)),
            json.dumps(payload, sort_keys=True),
        )

    def _covers(
        self,
        record: Dict[str, Any],
        plan: Dict[str, tuple],
    ) -> bool:
        """Does a stored record already answer the (column -> kinds)
        plan?  An empty-partition record covers everything (there was no
        data when it was sketched; partitions are immutable in this
        model, like the manifest's).  A top-k state built with a
        different ``max_items`` does NOT cover — treating it as covered
        would let every partition validate and then fail in
        ``merged_topk``.  A record written by a store with a DIFFERENT
        ``lg_k`` never covers: a partial update that reused its payload
        would relabel HLL blobs built at the old precision as the new
        one (``_record`` re-stamps ``lg_k``), silently defeating the
        mixed-precision guard in :meth:`load` / :meth:`merged_distinct`
        — so the whole record is recomputed instead."""
        if int(record.get("lg_k", self.lg_k)) != self.lg_k:
            return False
        if record.get("empty"):
            return True
        for c, kinds in plan.items():
            for kind in kinds:
                bag = record.get(kind, {})
                if c not in bag:
                    return False
                if (
                    kind == "topk"
                    and int(bag[c].get("max_items", -1))
                    != self.topk_max_items
                ):
                    return False
                if kind == "histogram" and bag[c].get(
                    "edges"
                ) != self.histogram_edges.get(c):
                    # edges changed between runs: the old counts answer a
                    # different question — recompute
                    return False
        return True

    # -- compute ---------------------------------------------------------

    def _build_aggs(
        self, df: DataFrame, plan: Dict[str, tuple]
    ) -> List[Any]:
        def cols_of(kind: str) -> List[str]:
            return [c for c, ks in plan.items() if kind in ks]

        aggs: List[Any] = []
        aggs += [
            F.hll_sketch_agg(_sketch_input(df, c), self.lg_k).alias(
                f"__hll_{c}"
            )
            for c in cols_of("hll")
        ]
        for c in cols_of("moments"):
            _check_numeric(df, c)
            x = F.col(_quote(c)).cast("double")
            aggs += [
                F.count(x).alias(f"__n_{c}"),
                F.avg(x).alias(f"__mean_{c}"),
                (F.var_pop(x) * F.count(x)).alias(f"__m2_{c}"),
                F.min(x).alias(f"__min_{c}"),
                F.max(x).alias(f"__max_{c}"),
                F.sum(x).alias(f"__sum_{c}"),
            ]
        aggs += [
            F.expr(
                f"approx_top_k_accumulate({_quote(c)}, "
                f"{self.topk_max_items})"
            ).alias(f"__tk_{c}")
            for c in cols_of("topk")
        ]
        for c in cols_of("histogram"):
            _check_numeric(df, c)
            edges = self.histogram_edges.get(c)
            if not edges:
                raise ValueError(
                    f"histogram kind needs histogram_edges[{c!r}] at "
                    "store construction"
                )
            aggs += self._bin_aggs(
                c, edges,
                b_alias=f"__hb_{c}",
                c_prefix=f"__h_{c}_",
                a_alias=f"__ha_{c}",
            )
        return aggs

    @staticmethod
    def _topk_ddls(
        agg_df: DataFrame, plan: Dict[str, tuple]
    ) -> Dict[str, str]:
        return {
            c: agg_df.schema[f"__tk_{c}"].dataType.simpleString()
            for c, ks in plan.items()
            if "topk" in ks
        }

    def _merge_row_into_payload(
        self,
        payload: Dict[str, Any],
        r: Any,
        plan: Dict[str, tuple],
        topk_ddl: Dict[str, str],
    ) -> None:
        def cols_of(kind: str) -> List[str]:
            return [c for c, ks in plan.items() if kind in ks]

        if cols_of("hll"):
            payload.setdefault("hll", {}).update(
                {
                    c: base64.b64encode(bytes(r[f"__hll_{c}"])).decode()
                    for c in cols_of("hll")
                    if r[f"__hll_{c}"] is not None
                }
            )
        if cols_of("moments"):
            payload.setdefault("moments", {}).update(
                {
                    c: {
                        "count": int(r[f"__n_{c}"]),
                        "mean": float(r[f"__mean_{c}"] or 0.0),
                        "m2": float(r[f"__m2_{c}"] or 0.0),
                        "min": (
                            None
                            if r[f"__min_{c}"] is None
                            else float(r[f"__min_{c}"])
                        ),
                        "max": (
                            None
                            if r[f"__max_{c}"] is None
                            else float(r[f"__max_{c}"])
                        ),
                        "sum": float(r[f"__sum_{c}"] or 0.0),
                    }
                    for c in cols_of("moments")
                }
            )
        if cols_of("topk"):
            payload.setdefault("topk", {}).update(
                {
                    c: {
                        "sketch": base64.b64encode(
                            bytes(r[f"__tk_{c}"]["sketch"])
                        ).decode(),
                        "max_items": int(r[f"__tk_{c}"]["maxItemsTracked"]),
                        "item_ddl": r[f"__tk_{c}"]["itemDataTypeDDL"],
                        "state_ddl": topk_ddl[c],
                    }
                    for c in cols_of("topk")
                    if r[f"__tk_{c}"] is not None
                }
            )
        if cols_of("histogram"):
            payload.setdefault("histogram", {}).update(
                {
                    c: {
                        "edges": self.histogram_edges[c],
                        "below": int(r[f"__hb_{c}"] or 0),
                        "counts": [
                            int(r[f"__h_{c}_{i}"] or 0)
                            for i in range(
                                len(self.histogram_edges[c]) - 1
                            )
                        ],
                        "above": int(r[f"__ha_{c}"] or 0),
                    }
                    for c in cols_of("histogram")
                }
            )

    def update(
        self,
        df: DataFrame,
        partition_column: str,
        columns: Sequence[str],
        partitions: Optional[Sequence[Any]] = None,
        kinds: Sequence[str] = ("hll",),
        fingerprints: Optional[Dict[str, str]] = None,
        chunk_size: int = DEFAULT_BACKFILL_CHUNK_SIZE,
    ) -> List[str]:
        """Compute + persist the requested sketch kinds for partitions
        whose stored record does not already cover them.  Returns the
        partition ids computed this call (empty on a fully-resumed run —
        zero Spark jobs touch the data then).

        The todo set runs in grouped jobs of ``chunk_size`` partitions
        each (daily-incremental runs fit in one job; a cold backfill
        over 10^4-10^5 partitions becomes ceil(todo/chunk_size) jobs):
        every collect is bounded to ``chunk_size`` rows of sketch state
        regardless of backfill width — with the default top-k budget a
        single row can be hundreds of KB, so an unchunked 10^5-partition
        collect would pull GBs into the driver in one action.  Records
        are durable per chunk, so a killed backfill resumes from the
        first unwritten chunk, and ``fingerprints`` are re-honoured on
        resume: a partition that changed between the kill and the rerun
        is recomputed from scratch, never merged stale+fresh.

        ``columns`` is either a list (every column gets ``kinds``) or a
        mapping ``{column: kinds}`` for per-column kinds — the mapping
        form computes a heterogeneous sketch set in the SAME single
        grouped job instead of one job per kind-group (the fixed
        plan+collect cost per job is what dominates short walls).

        ``fingerprints`` (from :func:`runner.partition_fingerprints`)
        opts into change detection: a stored record whose fingerprint no
        longer matches is recomputed from scratch — its OTHER kinds are
        dropped too, since they sketched the old data."""
        from great_expectations_spark.checkpoint.runner import (
            _collect_partition_values,
        )

        plan = _normalize_plan(columns, kinds)
        if int(chunk_size) < 1:
            raise ValueError(f"chunk_size must be >= 1, got {chunk_size}")
        chunk_size = int(chunk_size)
        parts = (
            list(partitions)
            if partitions is not None
            else _collect_partition_values(df, partition_column)
        )
        records = self._raw_records()

        def _stale(pid: str) -> bool:
            return (
                fingerprints is not None
                and records.get(pid, {}).get("fingerprint")
                != fingerprints.get(pid)
            )

        def _fresh_start(pid: str) -> bool:
            # kinds not recomputed this call sketched the OLD data
            # (fingerprint moved) or the old PRECISION (lg_k moved) —
            # either way they must not survive into the new record
            rec = records.get(pid, {})
            return _stale(pid) or (
                int(rec.get("lg_k", self.lg_k)) != self.lg_k
            )

        todo = [
            p
            for p in parts
            if str(p) not in records
            or _stale(str(p))
            or not self._covers(records[str(p)], plan)
        ]
        if not todo:
            return []

        part = F.col(_quote(partition_column))
        for start in range(0, len(todo), chunk_size):
            chunk = todo[start : start + chunk_size]
            agg_df = (
                df.filter(_null_safe_isin(part, chunk))
                .groupBy(part)
                .agg(*self._build_aggs(df, plan))
            )
            topk_ddl = self._topk_ddls(agg_df, plan)
            if _UPDATE_PLAN_OBSERVER is not None:
                _UPDATE_PLAN_OBSERVER(agg_df)
            seen = set()
            for r in agg_df.collect():
                pid = str(r[partition_column])
                payload: Dict[str, Any] = (
                    {} if _fresh_start(pid) else dict(records.get(pid, {}))
                )
                payload.pop("empty", None)
                if fingerprints is not None and pid in fingerprints:
                    payload["fingerprint"] = fingerprints[pid]
                self._merge_row_into_payload(payload, r, plan, topk_ddl)
                self._record(pid, payload)
                seen.add(pid)
            # a partition whose rows are all filtered away still gets an
            # (empty) record so resume never recomputes it
            for p in chunk:
                if str(p) not in seen:
                    self._record(str(p), {"empty": True})
        return [str(p) for p in todo]

    # -- streaming accumulation ------------------------------------------

    def accumulate_batch(
        self,
        batch_df: DataFrame,
        partition_column: str,
        columns: Sequence[str],
        batch_id: Any,
        kinds: Sequence[str] = ("hll",),
        chunk_size: Optional[int] = None,
    ) -> List[str]:
        """Streaming entry point (call from ``foreachBatch``): persist
        THIS micro-batch's per-partition sketches under composite ids
        ``<partition>@@b<batch_id>``.  A replayed batch atomically
        overwrites its own records, so the store stays exact under
        Structured Streaming's at-least-once ``foreachBatch`` contract;
        ``merged_*`` already unions every stored record, so stream
        contributions need no merge code at all.  Record count grows by
        partitions-per-batch each epoch — run :meth:`compact`
        periodically to fold it back to one.

        The driver collect here is one sketch-state row per partition
        PRESENT IN THIS MICRO-BATCH — bounded by the trigger, not the
        table, so the default single-job path is safe for ordinary
        streams.  For sources whose batches can span very many
        partitions (e.g. ``availableNow`` over a deep backlog), pass
        ``chunk_size`` to cap it: the batch's distinct partition ids are
        collected first (tiny rows) and the sketch aggregation runs in
        chunks of that many partitions, same shape as :meth:`update`'s
        backfill chunking.

        Do NOT mix with fingerprinted batch :meth:`update` calls in the
        same store: batch records re-sketch whole partitions, which
        would double-count the stream's contribution."""
        plan = _normalize_plan(columns, kinds)
        part = F.col(_quote(partition_column))
        chunks: List[Optional[List[Any]]]
        if chunk_size is None:
            chunks = [None]  # one grouped job over the whole batch
        else:
            if int(chunk_size) < 1:
                raise ValueError(
                    f"chunk_size must be >= 1, got {chunk_size}"
                )
            pids = [
                r[0]
                for r in batch_df.select(part)
                .distinct()
                .collect()
            ]
            chunks = [
                pids[i : i + int(chunk_size)]
                for i in range(0, len(pids), int(chunk_size))
            ]
        written: List[str] = []
        for chunk in chunks:
            src = (
                batch_df
                if chunk is None
                else batch_df.filter(_null_safe_isin(part, chunk))
            )
            agg_df = src.groupBy(part).agg(
                *self._build_aggs(batch_df, plan)
            )
            topk_ddl = self._topk_ddls(agg_df, plan)
            for r in agg_df.collect():
                pid = f"{r[partition_column]}@@b{batch_id}"
                payload: Dict[str, Any] = {}
                self._merge_row_into_payload(payload, r, plan, topk_ddl)
                self._record(pid, payload)
                written.append(pid)
        return written

    def foreach_batch_writer(
        self,
        partition_column: str,
        columns: Sequence[str],
        kinds: Sequence[str] = ("hll",),
        compact_every: Optional[int] = None,
    ):
        """``writeStream.foreachBatch(store.foreach_batch_writer(...))``
        — accumulates every micro-batch, compacting after every
        ``compact_every`` batches to bound record count."""

        def process(batch_df: DataFrame, batch_id: int) -> None:
            self.accumulate_batch(
                batch_df, partition_column, columns, batch_id, kinds
            )
            if compact_every and batch_id and batch_id % compact_every == 0:
                self.compact(batch_df.sparkSession)

        return process

    def foreach_batch_drift_monitor(
        self,
        column: str,
        on_result,
        accumulate: bool = True,
        partition_column: Optional[str] = None,
        columns: Optional[Sequence[Any]] = None,
        kinds: Sequence[str] = ("histogram",),
    ):
        """``writeStream.foreachBatch(...)`` hook: judge every
        micro-batch's distribution against the ACCUMULATED history
        (:meth:`drift_vs_history`), hand the metrics dict (plus
        ``batch_id``) to ``on_result``, then — with ``accumulate`` —
        fold the batch into the store so the baseline keeps growing.
        Judging happens BEFORE accumulation, so a batch is never
        compared against itself.  An empty batch is skipped (no
        distribution to judge, nothing to accumulate).  ``on_result``
        errors propagate (they are the alerting path — swallowing them
        would un-alert the alert).  Without ``partition_column`` the
        batch accumulates as one record under a constant pseudo-
        partition (grouping by the monitored column itself would mint a
        record per distinct value).

        Only the two EXPECTED skip conditions — an empty/all-null batch
        (:class:`EmptyBatchError`) and no accumulated history yet
        (:class:`NoHistoryError`, the first batch) — are suppressed.
        Any other error (e.g. stored histogram edges disagreeing with
        the store's ``histogram_edges``, which recurs every batch)
        propagates and fails the query: suppressing it would silently
        disable alerting forever while accumulation kept writing."""

        def process(batch_df: DataFrame, batch_id: int) -> None:
            try:
                out = self.drift_vs_history(batch_df, column)
            except (EmptyBatchError, NoHistoryError):
                out = None
            if out is not None:
                out["batch_id"] = batch_id
                on_result(out)
            if accumulate:
                if partition_column is None:
                    acc_df = batch_df.withColumn("__mon", F.lit("stream"))
                    part_col = "__mon"
                else:
                    acc_df, part_col = batch_df, partition_column
                self.accumulate_batch(
                    acc_df,
                    part_col,
                    columns or [column],
                    batch_id,
                    kinds=kinds,
                )

        return process

    def compact(self, spark: SparkSession) -> int:
        """Fold every live record into ONE compacted record; returns how
        many records were folded (0 = nothing to do).

        Crash-safe by construction: the compacted record carries the
        FILENAMES it folded, and readers ignore folded files whether or
        not they have been deleted yet — so the atomic write of the
        compacted record is the commit point, and file deletion is mere
        garbage collection.  Intended for streaming-accumulation stores;
        fingerprints do not survive (a ``detect_changes`` batch store
        re-sketches folded partitions on its next update, double-counting
        the compacted data — keep the two modes in separate stores).
        Moments and histograms fold on the driver; every HLL and top-k
        column folds in one Spark job."""
        live = self._scan_records()
        if len(live) <= 1:
            return 0
        records = list(live.values())
        moments: Dict[str, Optional[Dict[str, float]]] = {}
        hists: Dict[str, Dict[str, Any]] = {}
        for rec in records:
            for c, m in rec.get("moments", {}).items():
                if m.get("count"):
                    moments[c] = _merge_moments(moments.get(c), m)
            for c, h in rec.get("histogram", {}).items():
                hists[c] = _hist_add(hists.get(c), h, c)
        hll = _hll_states(
            records, sorted({c for r in records for c in r.get("hll", {})})
        )
        topk = _topk_states(
            records, sorted({c for r in records for c in r.get("topk", {})})
        )
        payload: Dict[str, Any] = {}
        if hll or topk:
            # every HLL and top-k column merges in the same one job
            hn = {c: f"h{i}" for i, c in enumerate(hll)}
            tn = {c: f"t{i}" for i, c in enumerate(topk)}
            frame: Dict[str, Tuple[DataType, List[Any]]] = {
                hn[c]: (BinaryType(), blobs) for c, blobs in hll.items()
            }
            aggs = {hn[c]: f"hll_union_agg({hn[c]})" for c in hll}
            for c, (max_items, ddl, states) in topk.items():
                frame[tn[c]] = (_parse_datatype_string(ddl), states)
                aggs[tn[c]] = _combine_sql(tn[c], max_items)
            row, schema = _merge_job(spark, frame, aggs)
            if hll:
                payload["hll"] = {
                    c: base64.b64encode(bytes(row[hn[c]])).decode()
                    for c in hll
                }
            if topk:
                payload["topk"] = {
                    c: {
                        "sketch": base64.b64encode(
                            bytes(row[tn[c]]["sketch"])
                        ).decode(),
                        "max_items": int(row[tn[c]]["maxItemsTracked"]),
                        "item_ddl": row[tn[c]]["itemDataTypeDDL"],
                        "state_ddl": schema[tn[c]].dataType.simpleString(),
                    }
                    for c in topk
                }
        if moments:
            payload["moments"] = {c: m for c, m in moments.items() if m}
        if hists:
            payload["histogram"] = hists
        # TRANSITIVE folded set: the new record must keep tombstoning
        # every file the folded records tombstoned — if compact#1 crashed
        # between unlinks, a surviving ghost would otherwise resurrect
        # once compact#2 deletes compact#1's record (double-count)
        folded_names = set(live)
        for rec in live.values():
            folded_names.update(rec.get("folded", []))
        payload["folded"] = sorted(folded_names)
        cid = "__compacted__" + hashlib.sha1(
            json.dumps(payload["folded"]).encode()
        ).hexdigest()[:12]
        self._record(cid, payload)  # commit point
        for name in live:  # garbage collection, safe to crash anywhere
            self._fs.unlink(name)
        return len(live)

    # -- merge -----------------------------------------------------------

    def merged_distinct(
        self, spark: SparkSession, columns: Sequence[str]
    ) -> Dict[str, int]:
        """Union every stored partition's HLL sketches -> table-level
        distinct estimate per column.  One tiny Spark job over one blob
        per stored partition and column, for every column at once; the
        data itself is never re-scanned.  A column no record holds reads
        0.  Records are read through the same single directory
        scan the other merges use (one open+parse per file — per-pid
        ``load()`` calls would double that, which matters when the
        checkpoint dir is an object store)."""
        records = list(self._raw_records().values())
        for record in records:
            if int(record.get("lg_k", self.lg_k)) != self.lg_k:
                raise ValueError(
                    f"stored sketch for {record.get('partition_id')!r} "
                    f"has lg_k={record.get('lg_k')}, store expects "
                    f"{self.lg_k} — sketches with different lg_k must "
                    "not be silently merged"
                )
        hll = _hll_states(records, columns)
        if not hll:
            return {c: 0 for c in columns}
        names = {c: f"h{i}" for i, c in enumerate(hll)}
        row, _ = _merge_job(
            spark,
            {names[c]: (BinaryType(), blobs) for c, blobs in hll.items()},
            {
                names[c]: f"hll_sketch_estimate(hll_union_agg({names[c]}))"
                for c in hll
            },
        )
        return {
            c: int(row[names[c]] or 0) if c in names else 0 for c in columns
        }

    def merged_moments(
        self, columns: Sequence[str]
    ) -> Dict[str, Dict[str, float]]:
        """Driver-side Chan combine of stored moments -> per-column
        {count, sum, mean, min, max, stddev (population), variance}.
        Exact; no Spark job at all."""
        acc: Dict[str, Optional[Dict[str, float]]] = {c: None for c in columns}
        for record in self._raw_records().values():
            for c in columns:
                m = record.get("moments", {}).get(c)
                if m and m["count"]:
                    acc[c] = _merge_moments(acc[c], m)
        out: Dict[str, Dict[str, float]] = {}
        for c in columns:
            m = acc[c]
            if m is None:
                out[c] = {
                    "count": 0, "sum": 0.0, "mean": None, "min": None,
                    "max": None, "variance": None, "stddev": None,
                }
                continue
            var = m["m2"] / m["count"] if m["count"] else None
            out[c] = {
                "count": int(m["count"]),
                "sum": m["sum"],
                "mean": m["mean"],
                "min": m["min"],
                "max": m["max"],
                "variance": var,
                "stddev": math.sqrt(var) if var is not None else None,
            }
        return out

    def merged_histogram(
        self, columns: Sequence[str]
    ) -> Dict[str, Optional[Dict[str, Any]]]:
        """Vector-sum of stored per-partition histograms -> table-level
        ``{edges, counts, below, above}`` per column.  EXACT (integer
        addition over identical fixed edges); pure driver math, no Spark
        job.  Records whose edges differ from the store's raise — counts
        over different bins must not be silently added."""
        out: Dict[str, Optional[Dict[str, Any]]] = {c: None for c in columns}
        for record in self._raw_records().values():
            for c in columns:
                h = record.get("histogram", {}).get(c)
                if not h:
                    continue
                edges = self.histogram_edges.get(c)
                if edges is not None and h["edges"] != edges:
                    raise ValueError(
                        f"stored histogram for {c!r} used different edges "
                        "than this store — rebuild or match "
                        "histogram_edges"
                    )
                out[c] = _hist_add(out[c], h, c)
        return out

    def merged_quantiles(
        self, columns: Sequence[str], qs: Sequence[float]
    ) -> Dict[str, List[Optional[float]]]:
        """Quantile estimates from the merged histogram, by numpy's
        default (linear) definition: quantile ``q`` interpolates between
        order statistics ``floor(h)`` and ``floor(h) + 1``, where
        ``h = q * (n - 1)``.  Each order statistic is placed inside its
        bin at the midpoint of its rank slot (the minimum at its bin's
        lower edge), so for data inside the edge range the error is
        bounded by the width of the bin holding the true quantile.  Mass
        below the first edge / above the last clamps to that edge (the
        histogram cannot see past its range; pick edges from a min/max
        or moments pass if that matters)."""
        hists = self.merged_histogram(columns)
        out: Dict[str, List[Optional[float]]] = {}
        for c in columns:
            h = hists[c]
            if h is None:
                out[c] = [None for _ in qs]
                continue
            edges, counts = h["edges"], h["counts"]
            below = h["below"]
            total = below + sum(counts) + h["above"]

            def order_stat(k: int) -> float:
                if k < below:
                    return edges[0]
                cum = below
                for i, n in enumerate(counts):
                    if k < cum + n:
                        slot = 0.0 if k == 0 else (k - cum + 0.5) / n
                        return edges[i] + slot * (edges[i + 1] - edges[i])
                    cum += n
                return edges[-1]

            vals: List[Optional[float]] = []
            for q in qs:
                if not 0.0 <= q <= 1.0:
                    raise ValueError(f"quantile {q} outside [0, 1]")
                if total == 0:
                    vals.append(None)
                    continue
                pos = q * (total - 1)
                j = int(pos)
                lo = order_stat(j)
                frac = pos - j
                if frac == 0.0:
                    vals.append(lo)
                    continue
                vals.append(lo + frac * (order_stat(j + 1) - lo))
            out[c] = vals
        return out

    def _bin_aggs(
        self,
        column: str,
        edges: List[float],
        b_alias: str = "__b",
        c_prefix: str = "__c",
        a_alias: str = "__a",
    ) -> List[Any]:
        """below/bin.../above conditional-sum aggregates for ``column``
        (closed last bin — the store's histogram convention).  The ONE
        definition of the bin conditions: the histogram kind and the
        drift binning both call this, so the convention cannot drift
        between stored counts and comparisons."""
        x = F.col(_quote(column)).cast("double")
        aggs = [F.sum(F.when(x < edges[0], 1).otherwise(0)).alias(b_alias)]
        for i in range(len(edges) - 1):
            hi_ok = (
                x <= edges[i + 1]
                if i == len(edges) - 2
                else x < edges[i + 1]
            )
            aggs.append(
                F.sum(
                    F.when((x >= edges[i]) & hi_ok, 1).otherwise(0)
                ).alias(f"{c_prefix}{i}")
            )
        aggs.append(
            F.sum(F.when(x > edges[-1], 1).otherwise(0)).alias(a_alias)
        )
        return aggs

    @staticmethod
    def _row_vec(r: Any, n_bins: int) -> List[int]:
        return (
            [int(r["__b"] or 0)]
            + [int(r[f"__c{i}"] or 0) for i in range(n_bins)]
            + [int(r["__a"] or 0)]
        )

    def _history_hist_and_edges(self, column: str):
        hist = self.merged_histogram([column])[column]
        if hist is None:
            raise NoHistoryError(
                f"no stored histogram for {column!r} — update the store "
                "with kinds=('histogram',) first"
            )
        return hist, self.histogram_edges.get(column) or hist["edges"]

    def drift_vs_history(
        self, df_new: DataFrame, column: str
    ) -> Dict[str, Any]:
        """Distribution drift of NEW data against everything the store
        has seen: ONE global aggregation over ``df_new`` bins it on the
        store's edges (plus below/above overflow mass), the historical
        side comes from :meth:`merged_histogram` with zero re-scan, and
        the comparison (PSI, chi-square + p, KL) is driver math over the
        two count vectors.  The operational loop at 10^12 rows: sketch
        each partition as it validates, then answer "is today's data
        shaped like history?" for the cost of scanning today only."""
        hist, edges = self._history_hist_and_edges(column)
        r = df_new.agg(*self._bin_aggs(column, edges)).first()
        new_vec = self._row_vec(r, len(edges) - 1)
        if sum(new_vec) == 0:
            # an empty/all-null batch has NO distribution: chi² would
            # degenerate to p=1.0 (always passes) and PSI would compare
            # history to a fabricated epsilon-uniform — either verdict
            # masks a pipeline outage.  Fail loudly instead.
            raise EmptyBatchError(
                f"new batch has no non-null {column!r} rows — a drift "
                "verdict on an empty distribution would be meaningless"
            )
        hist_vec = [hist["below"]] + hist["counts"] + [hist["above"]]
        return drift_from_vectors(hist_vec, new_vec, edges)

    def drift_vs_history_by_group(
        self, df_new: DataFrame, partition_column: str, column: str
    ) -> Dict[Any, Dict[str, Any]]:
        """Per-partition drift vs the merged history in ONE grouped job
        (bin every partition simultaneously; PSI/chi²/KL is driver math
        per partition) — job count independent of partition count, the
        ``validate_by_partition`` shape."""
        hist, edges = self._history_hist_and_edges(column)
        hist_vec = [hist["below"]] + hist["counts"] + [hist["above"]]
        rows = (
            df_new.groupBy(F.col(_quote(partition_column)))
            .agg(*self._bin_aggs(column, edges))
            .collect()
        )
        out: Dict[Any, Dict[str, Any]] = {}
        for r in rows:
            vec = self._row_vec(r, len(edges) - 1)
            if sum(vec) == 0:
                # all-null partition: no distribution to judge — leave it
                # out so the caller's per-partition fallback raises for
                # just that partition (same contract as drift_vs_history)
                continue
            out[r[partition_column]] = drift_from_vectors(
                hist_vec, vec, edges
            )
        return out

    def suggest_histogram_edges(
        self, column: str, bins: int = 20
    ) -> List[float]:
        """Equi-width edges over the column's stored [min, max] — the
        bootstrap for the drift workflow: run 1 stores moments, edges
        derive from them, histograms accumulate from run 2 on.  Pure
        driver math over the merged moments (no scan)."""
        if bins < 1:
            raise ValueError(f"bins must be >= 1, got {bins}")
        m = self.merged_moments([column])[column]
        if not m["count"] or m["min"] is None:
            raise ValueError(
                f"no stored moments for {column!r} — update the store "
                "with kinds=('moments',) first"
            )
        lo, hi = float(m["min"]), float(m["max"])
        if lo == hi:
            # a constant column still gets a valid 1-bin histogram
            hi = lo + max(abs(lo), 1.0) * 1e-9
        step = (hi - lo) / bins
        raw = [lo + i * step for i in range(bins)] + [hi]
        # strict monotonicity under float rounding: a tiny range at a
        # large magnitude can collapse adjacent edges (step < ulp(lo)),
        # and the store's edge validation rightly rejects duplicates —
        # drop collapsed edges; [lo, hi] 1-bin is the worst-case result
        edges = [raw[0]]
        for v in raw[1:]:
            if v > edges[-1]:
                edges.append(v)
        if len(edges) < 2:
            edges = [lo, lo + max(abs(lo), 1.0) * 1e-9]
        return edges

    def merged_topk(
        self, spark: SparkSession, columns: Sequence[str], k: int = 10
    ) -> Dict[str, List[Tuple[Any, int]]]:
        """Combine stored frequent-items states -> top-k (value, count)
        per column.  One tiny Spark job for every column at once; exact
        while true cardinality fits ``topk_max_items``.  A column no
        record holds reads ``[]``."""
        topk = _topk_states(list(self._raw_records().values()), columns)
        for c, (max_items, _, _) in topk.items():
            if max_items != self.topk_max_items:
                raise ValueError(
                    f"stored topk for {c!r} used max_items={max_items}, "
                    f"store expects {self.topk_max_items}"
                )
        if not topk:
            return {c: [] for c in columns}
        names = {c: f"t{i}" for i, c in enumerate(topk)}
        row, _ = _merge_job(
            spark,
            {
                names[c]: (_parse_datatype_string(ddl), states)
                for c, (_, ddl, states) in topk.items()
            },
            {
                names[c]: "approx_top_k_estimate("
                f"{_combine_sql(names[c], self.topk_max_items)}, {int(k)})"
                for c in topk
            },
        )
        return {
            c: [(e["item"], int(e["count"])) for e in row[names[c]] or []]
            if c in names
            else []
            for c in columns
        }
