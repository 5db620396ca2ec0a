"""Training-corpus curation operators: benchmark decontamination,
PII detection / redaction, and deterministic mixture resampling.

These are the three curation steps a large-scale LLM training-data
pipeline runs between dedup and tokenization:

* **Decontamination** — drop training documents that share long word
  n-grams with an evaluation benchmark (the GPT-3 appendix-C /
  PaLM-style 13-gram overlap rule; public papers: Brown et al. 2020
  §4 "Measuring and Preventing Memorization", Chowdhery et al. 2022).
* **PII scrubbing** — detect and redact e-mail addresses, phone
  numbers, IPs, SSN-shaped ids and (Luhn-validated) payment-card
  numbers before text enters a training corpus.
* **Mixture resampling** — deterministically subsample per-domain so
  the output corpus matches target domain weights (the "data mixture"
  step; e.g. The Pile / DoReMi-style fixed mixture weights).

Engine policy (same as the rest of ``functions/``): every hot-path
expression is JVM-side (``pyspark.sql.functions`` regexp / array /
aggregate expressions inside whole-stage codegen) — **zero Python in
the per-row path**, including the Luhn checksum, which is a pure SQL
``aggregate(sequence(...))`` fold.  At 10^12-row scale:

* the benchmark n-gram side of decontamination is DISTINCT'd and
  explicitly broadcast (benchmarks are ≤10^6 grams — megabytes);
  the document side never shuffles for the join, and the per-doc
  match count groupBy moves only matched grams (a vanishing fraction);
* PII detection/redaction is a single projection — no shuffle at all;
* mixture resampling is one tiny group-count agg + a broadcast-map
  filter — one scan, no repartition, byte-identical keep/drop
  decisions on any cluster size (md5-threshold hashing, the same
  trick as ``sources/splitters.py`` md5-parity sampling).

There is no reference-repo analog for these (Great Expectations
validates, it does not curate) — closest surfaces are the reference's
hash samplers (``execution_engine/split_and_sample/sparkdf_data_sampler.py:142``)
which the mixture sampler generalizes to weighted per-group rates.
"""

from __future__ import annotations

from typing import Any, Dict, List, Optional, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from great_expectations_spark.functions._exprutil import array_lit_f64
from great_expectations_spark.functions.text import normalize_text

__all__ = [
    "word_ngrams",
    "c4_signals",
    "c4_stats",
    "c4_clean",
    "benchmark_ngrams",
    "contamination_stats",
    "contamination_stats_setfilter",
    "decontaminate",
    "semantic_contamination_stats",
    "semantic_decontaminate",
    "PII_PATTERNS",
    "luhn_valid",
    "pii_counts",
    "pii_stats",
    "redact_pii",
    "mixture_rates",
    "mix_sample",
    "train_quality_classifier",
    "quality_classifier_score",
    "train_ngram_lm",
    "perplexity_score",
    "train_dsir",
    "dsir_logweight",
    "dsir_sample",
    "model_save",
    "model_load",
]


# ---------------------------------------------------------------------------
# C4-style line-level cleaning (Raffel et al. 2020 §2.2, public paper; the
# released tensorflow_datasets c4_utils is the behavioral reference for the
# rule constants: terminal end marks `.?!"`, >=3 words/line, >=5 sentences
# per page, line-level "javascript", page-level "lorem ipsum" / "{")
# ---------------------------------------------------------------------------

#: terminal punctuation accepted at end-of-line (period, question mark,
#: exclamation mark, end quotation mark — the released C4 `_END_MARKS`)
C4_END_MARK_RE = '[.?!"]$'


def _c4_line_pred(
    ln: Column, min_words: int, drop_words: Tuple[str, ...]
) -> Column:
    """Keep-predicate for ONE already-trimmed line under the C4 rules."""
    pred = (
        (F.length(ln) > 0)
        & ln.rlike(C4_END_MARK_RE)
        & (F.size(F.split(ln, r"\s+")) >= min_words)
    )
    for w in drop_words:
        pred = pred & ~F.lower(ln).contains(w.lower())
    return pred


def c4_signals(
    col: Column,
    *,
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    line_drop_words: Tuple[str, ...] = ("javascript",),
    page_drop_phrases: Tuple[str, ...] = ("lorem ipsum", "{"),
    bad_words: Optional[List[str]] = None,
) -> Dict[str, Column]:
    """C4 line-level cleaning signals as named JVM columns (zero UDFs).

    Rules (Raffel et al. 2020 §2.2):

    * keep only lines that end in a terminal punctuation mark
      (``. ? !`` or ``"``), contain >= ``min_words_per_line`` words, and
      do not mention any ``line_drop_words`` (default: "javascript");
    * drop the whole page if it contains any ``page_drop_phrases``
      (default: "lorem ipsum" or the code marker ``{``), any word from
      the optional ``bad_words`` list (whole-word, case-insensitive), or
      if fewer than ``min_sentences`` sentences survive line filtering.

    Deviation (documented): the paper counts sentences with an NLP
    sentence splitter; here a sentence is one terminal-punctuation mark
    (``[.?!]``) in the KEPT text — deterministic, engine-replicable, and
    within one count of the splitter on prose.  Returns
    ``{clean_text, n_lines, n_kept_lines, n_sentences, keep}``;
    ``clean_text`` is null when ``keep`` is false.  Everything is a
    single projection — at 10^12 rows this fuses into the enclosing
    scan with no shuffle and no Python worker.
    """
    lines = F.transform(F.split(col, "\n"), lambda ln: F.trim(ln))
    kept = F.filter(
        lines,
        lambda ln: _c4_line_pred(
            ln, min_words_per_line, tuple(line_drop_words)
        ),
    )
    kept_text = F.array_join(kept, "\n")
    n_sentences = F.size(
        F.regexp_extract_all(kept_text, F.lit("[.?!]"), F.lit(0))
    )
    low = F.lower(F.coalesce(col, F.lit("")))
    page_bad = F.lit(False)
    for p in page_drop_phrases:
        page_bad = page_bad | low.contains(p.lower())
    if bad_words:
        import re as _re

        alt = "|".join(_re.escape(w.lower()) for w in bad_words)
        page_bad = page_bad | low.rlike(r"\b(" + alt + r")\b")
    keep = col.isNotNull() & ~page_bad & (n_sentences >= min_sentences)
    n_lines = F.when(col.isNull(), F.lit(0)).otherwise(
        F.size(F.filter(lines, lambda ln: F.length(ln) > 0))
    )
    return {
        "clean_text": F.when(keep, kept_text),
        "n_lines": n_lines.cast("int"),
        "n_kept_lines": F.when(col.isNull(), F.lit(0))
        .otherwise(F.size(kept))
        .cast("int"),
        "n_sentences": F.when(col.isNull(), F.lit(0))
        .otherwise(n_sentences)
        .cast("int"),
        "keep": keep,
    }


def c4_stats(
    df: DataFrame, text_column: str = "text", **kwargs
) -> DataFrame:
    """Append the :func:`c4_signals` columns (prefixed ``c4_``) without
    filtering — the inspection form (what would the cleaner do?)."""
    sig = c4_signals(F.col(text_column), **kwargs)
    return df.select(
        "*", *[c.alias(f"c4_{name}") for name, c in sig.items()]
    )


def c4_clean(
    df: DataFrame, text_column: str = "text", **kwargs
) -> DataFrame:
    """Apply the C4 cleaner: drop non-kept pages and rewrite
    ``text_column`` to the kept lines.  One projection + one filter —
    Catalyst fuses both into the scan (predicate pushdown still applies
    to every other column)."""
    sig = c4_signals(F.col(text_column), **kwargs)
    out = df.withColumn("__c4_keep", sig["keep"]).withColumn(
        text_column, sig["clean_text"]
    )
    return out.filter(F.col("__c4_keep")).drop("__c4_keep")


# ---------------------------------------------------------------------------
# Decontamination (benchmark n-gram overlap)
# ---------------------------------------------------------------------------


def word_ngrams(col: Column, n: int) -> Column:
    """Array of normalized word ``n``-grams (space-joined strings).

    Normalization = lowercase + whitespace collapse (``normalize_text``),
    the standard pre-matching canonical form.  Documents with fewer than
    ``n`` words (or null text) yield an EMPTY array — a too-short
    document cannot be contaminated under an n-gram rule.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    words = F.split(normalize_text(col), " ")
    n_words = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), n_words - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    # blank text normalizes to '' whose split is [''] (size 1) — an
    # empty document has ZERO words, not one
    blank = F.length(normalize_text(col)) == 0
    return F.when(
        col.isNull() | blank | (n_words < n),
        F.array().cast("array<string>"),
    ).otherwise(grams)


def _gram_keys(col: Column, n: int, hashed: bool) -> Column:
    """DISTINCT n-gram join keys for ``col``: 8-byte chained-hash longs
    (``hashed=True``, the production path) or the gram strings.

    The hashed key is ``fold(xxhash64)`` over per-word ``xxhash64``
    values — each word hashed ONCE, then k-1 long-pair hashes per gram
    instead of building a ~100-byte gram string per position (measured
    ~3× cheaper; also immune to separator ambiguity).  ANSI-safe (no
    long arithmetic).  ``array_distinct`` runs here, on the 8-byte keys,
    not on strings."""
    if hashed:
        words = F.split(normalize_text(col), " ")
        word_hashes = F.transform(words, lambda w: F.xxhash64(w))
        grams = F.transform(
            F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
            lambda i: F.aggregate(
                F.slice(word_hashes, i, n),
                F.lit(0).cast("long"),
                lambda acc, x: F.xxhash64(acc, x),
            ),
        )
        empty = F.array().cast("array<bigint>")
        grams = F.when(
            col.isNull()
            | (F.length(normalize_text(col)) == 0)
            | (F.size(words) < n),
            empty,
        ).otherwise(grams)
    else:
        grams = word_ngrams(col, n)
    return F.array_distinct(grams)


def benchmark_ngrams(
    bench_df: DataFrame,
    *,
    text_column: str = "text",
    n: int = 13,
    hash_grams: bool = True,
) -> DataFrame:
    """Distinct n-grams of the benchmark/eval set, as a 1-column frame.

    ``hash_grams=True`` (production default) keys on the chained-hash
    long (see :func:`_gram_keys`) — an 8-byte broadcast key instead of a
    ~100-byte string; the string form exists so oracles can compare
    cross-engine.  Output column: ``gram`` (bigint or string).
    """
    return bench_df.select(
        F.explode(_gram_keys(F.col(text_column), n, hash_grams)).alias(
            "gram"
        )
    ).distinct()


def contamination_stats(
    docs_df: DataFrame,
    bench_df: DataFrame,
    *,
    doc_id: str = "doc_id",
    text_column: str = "text",
    bench_text_column: str = "text",
    n: int = 13,
    min_matches: int = 1,
    hash_grams: bool = True,
) -> DataFrame:
    """Per-document contamination stats against a benchmark.

    Returns ``(doc_id, n_grams, n_matched, contaminated)`` — the number
    of DISTINCT n-grams in the document, how many of those appear
    anywhere in the benchmark, and whether ``n_matched >= min_matches``.

    Plan shape (the one you want at 100 TB) — ONE pass over the corpus:

    1. benchmark → distinct gram keys, **explicitly broadcast** (small);
    2. documents → one projection computing the distinct 8-byte gram
       keys (chained hash, see :func:`_gram_keys`), ``explode_outer``
       (gram-less docs keep a null row, so step 4 covers every doc);
    3. broadcast LEFT hash join against the benchmark marker — the
       100 TB side never shuffles for the join;
    4. one ``groupBy(doc_id)`` counting grams and matched grams
       together — map-side combine reduces each partition to ≤1 row
       per doc before the only shuffle.

    Every step is JVM expressions; no UDFs, no second scan.
    """
    from great_expectations_spark.functions.dedup import _ensure_parallelism

    docs_df = _ensure_parallelism(docs_df)
    exploded = docs_df.select(
        F.col(doc_id).alias("doc_id"),
        F.explode_outer(
            _gram_keys(F.col(text_column), n, hash_grams)
        ).alias("gram"),
    )
    bench = benchmark_ngrams(
        bench_df, text_column=bench_text_column, n=n, hash_grams=hash_grams
    ).withColumn("__hit", F.lit(1))
    n_matched = F.coalesce(F.sum("__hit"), F.lit(0))
    return (
        exploded.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("gram").alias("n_grams"),
            n_matched.alias("n_matched"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.col("n_matched").cast("long").alias("n_matched"),
            (F.col("n_matched") >= F.lit(min_matches)).alias("contaminated"),
        )
    )


# setfilter strategy: hard cap on the benchmark gram-key collect
# (int64 keys; 20M = 160 MB broadcast — far above any real eval set)
SETFILTER_MAX_GRAMS = 20_000_000


def _setfilter_match_expr(docs_df: DataFrame, bench_keys) -> "Column":
    """``(n_grams, n_matched)`` struct Column from an ``array<bigint>``
    gram-key column, testing membership against a driver-collected,
    sorted numpy key array shipped as a Spark broadcast.

    Whole batch vectorized: one ``np.concatenate`` + one
    ``np.searchsorted`` over the batch's flattened keys, then a
    segment-sum back to rows — no per-row Python."""
    import numpy as np  # noqa: F401 — re-import inside the UDF too
    from pyspark.sql.functions import pandas_udf

    sc = docs_df.sparkSession.sparkContext
    bkeys = sc.broadcast(bench_keys)

    @pandas_udf("struct<n_grams:long,n_matched:long>")
    def stats(grams: pd.Series) -> pd.DataFrame:
        import numpy as np

        keys = bkeys.value
        lengths = np.fromiter(
            (0 if g is None else len(g) for g in grams),
            dtype=np.int64,
            count=len(grams),
        )
        if lengths.sum() == 0 or len(keys) == 0:
            return pd.DataFrame(
                {"n_grams": lengths, "n_matched": np.zeros_like(lengths)}
            )
        flat = np.concatenate(
            [np.asarray(g, dtype=np.int64) for g in grams if g is not None and len(g)]
        )
        idx = np.searchsorted(keys, flat)
        hit = (idx < len(keys)) & (keys[np.minimum(idx, len(keys) - 1)] == flat)
        # segment-sum hits back to rows
        bounds = np.zeros(len(lengths) + 1, dtype=np.int64)
        np.cumsum(lengths, out=bounds[1:])
        csum = np.zeros(len(flat) + 1, dtype=np.int64)
        np.cumsum(hit, out=csum[1:])
        matched = csum[bounds[1:]] - csum[bounds[:-1]]
        return pd.DataFrame({"n_grams": lengths, "n_matched": matched})

    return stats


def _collect_bench_keys(
    bench_df: DataFrame, bench_text_column: str, n: int
):
    """Sorted int64 numpy array of the benchmark's distinct hashed
    grams (bounded collect; raises past :data:`SETFILTER_MAX_GRAMS`)."""
    import numpy as np

    bench = benchmark_ngrams(
        bench_df, text_column=bench_text_column, n=n, hash_grams=True
    )
    rows = bench.limit(SETFILTER_MAX_GRAMS + 1).collect()
    if len(rows) > SETFILTER_MAX_GRAMS:
        raise ValueError(
            f"benchmark has > {SETFILTER_MAX_GRAMS} distinct {n}-grams; "
            "use strategy='join' (broadcast hash join) instead"
        )
    return np.sort(np.array([r[0] for r in rows], dtype=np.int64))


def contamination_stats_setfilter(
    docs_df: DataFrame,
    bench_df: DataFrame,
    *,
    doc_id: str = "doc_id",
    text_column: str = "text",
    bench_text_column: str = "text",
    n: int = 13,
    min_matches: int = 1,
) -> DataFrame:
    """:func:`contamination_stats` as a ZERO-shuffle corpus projection.

    The join strategy explodes every document's grams and pays one
    ``groupBy(doc_id)`` exchange (map-side combined to ≤1 row/doc).
    Here the benchmark's distinct hashed grams — eval sets are tiny
    next to the corpus — are collected once, sorted, broadcast, and
    each document's gram-key array is membership-tested in an
    Arrow-batched ``searchsorted`` UDF: the corpus side is a pure
    projection with NO exchange at all, the ideal 100 TB shape.
    Same output contract as :func:`contamination_stats` (hashed-gram
    path), same NULL semantics (null/short docs → 0 grams).
    """
    keys = _collect_bench_keys(bench_df, bench_text_column, n)
    stats = _setfilter_match_expr(docs_df, keys)
    return (
        docs_df.select(
            F.col(doc_id).alias("doc_id"),
            stats(_gram_keys(F.col(text_column), n, True)).alias("__s"),
        )
        .select(
            "doc_id",
            F.col("__s.n_grams").alias("n_grams"),
            F.col("__s.n_matched").alias("n_matched"),
            (F.col("__s.n_matched") >= F.lit(min_matches)).alias(
                "contaminated"
            ),
        )
    )


def decontaminate(
    docs_df: DataFrame,
    bench_df: DataFrame,
    *,
    doc_id: str = "doc_id",
    text_column: str = "text",
    bench_text_column: str = "text",
    n: int = 13,
    min_matches: int = 1,
    hash_grams: bool = True,
    strategy: str = "join",
) -> DataFrame:
    """Drop documents contaminated by the benchmark; keeps all input
    columns.

    ``strategy='join'`` (default): broadcast hash join + one grouped
    exchange (see :func:`contamination_stats`); the contaminated-id
    set is tiny (bounded by the benchmark's reach), so the final
    anti-join broadcasts it.

    ``strategy='setfilter'``: the benchmark's hashed grams broadcast
    as a sorted array and the whole pass becomes ONE corpus
    projection + filter — zero shuffles end-to-end (see
    :func:`contamination_stats_setfilter`).  Identical verdicts
    (hashed-gram semantics)."""
    if strategy == "setfilter":
        keys = _collect_bench_keys(bench_df, bench_text_column, n)
        stats = _setfilter_match_expr(docs_df, keys)
        return (
            docs_df.withColumn(
                "__decon",
                stats(_gram_keys(F.col(text_column), n, True)),
            )
            .filter(F.col("__decon.n_matched") < F.lit(min_matches))
            .drop("__decon")
        )
    if strategy != "join":
        raise ValueError(f"strategy must be join/setfilter: {strategy!r}")
    stats = contamination_stats(
        docs_df,
        bench_df,
        doc_id=doc_id,
        text_column=text_column,
        bench_text_column=bench_text_column,
        n=n,
        min_matches=min_matches,
        hash_grams=hash_grams,
    )
    bad = stats.filter(F.col("contaminated")).select(
        F.col("doc_id").alias(doc_id)
    )
    return docs_df.join(F.broadcast(bad), doc_id, "left_anti")


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

PII_PATTERNS: Dict[str, str] = {
    "credit_card": r"\b(?:[0-9][ -]?){12,18}[0-9]\b",
    # local part: POSSESSIVE and RFC-5321-bounded ({1,64}+).  The naive
    # unbounded greedy `[...]+@` is O(run^2) on long unbroken
    # email-charset runs (hashes, base64, URLs): every start position
    # inside the run consumes to its end before failing at `@` —
    # measured 172 s for one pass over 250k docs whose synthetic text
    # is a single 20k-char hex run, vs 8 s bounded-possessive and
    # equivalent matches for any RFC-legal address.  Possessiveness is
    # exactly equivalent here (`@` is not in the class, so backtracking
    # can never create a match); the bound only changes >64-char local
    # parts, which the RFC forbids.
    # (domain stays NON-possessive: its class contains '.', so the
    # trailing `\.` needs backtracking to match)
    "email": r"[A-Za-z0-9._%+-]{1,64}+@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    # leading \b sits inside the alternation: it cannot assert before a
    # literal "(" (non-word on both sides), so the parenthesized-area-code
    # branch anchors on the digits instead
    "phone": (
        r"(?:\+?1[-. ])?(?:\([0-9]{3}\)[ ]?|\b[0-9]{3}[-. ])"
        r"[0-9]{3}[-. ][0-9]{4}\b"
    ),
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}
"""PII kind -> pattern, in **Java regex** syntax: the patterns are
evaluated by the JVM's ``regexp_*`` functions (``regexp_count``,
``regexp_extract_all``, ``regexp_replace``), never by Python's ``re``.
The email pattern's possessive quantifier (``{1,64}+``) needs Python >=
3.11 ``re`` and is not RE2; a consumer compiling these outside the JVM
must drop the possessive ``+`` (the DuckDB oracle in ``__spark_entry__``
does), which changes no match.  Beyond that they stay inside the common
subset of Java regex and RE2: no lookaround, no backreferences, ``\b``
and ``{m,n}`` only.  Order matters for redaction: longer/more-specific
first so a card number is not half-eaten by the phone pattern."""

# Required-literal prefilters: a kind whose pattern demands a specific
# character gets a cheap `contains` gate so non-candidate rows never
# enter the regex engine.  The digit-based kinds are all
# bounded-quantifier patterns (O(bound * len) worst case, measured
# <1 s/250k docs even on pathological runs) and need no gate.
_PII_GATES: Dict[str, Any] = {
    "email": lambda c: c.contains("@"),
}

# ---------------------------------------------------------------------------
# Semantic (embedding-level) decontamination
# ---------------------------------------------------------------------------


def semantic_contamination_stats(
    df: DataFrame,
    benchmark_df: DataFrame,
    *,
    id_column: str = "doc_id",
    embedding_column: str = "embedding",
    threshold: float = 0.95,
    method: str = "matmul",
    n_bits: int = 14,
    seed: int = 42,
    max_benchmark_rows: int = 100_000,
) -> DataFrame:
    """Embedding-level benchmark contamination: for every corpus row,
    the max cosine similarity to ANY benchmark embedding, plus the
    ``contaminated`` flag (``max >= threshold``).  This is the semantic
    complement of the 13-gram rule — it catches paraphrased /
    reformatted eval leakage that shares no long n-gram (the embedding
    analog of the decontamination recipes in Brown et al. 2020 app. C;
    same construction as SemDeDup's cosine screen, Abbas et al. 2023).

    Two physical strategies, both benchmark-small by construction:

    * ``method='matmul'`` (default, EXACT): the benchmark matrix is
      collected once (guarded by ``max_benchmark_rows``; ~100k × 256-d
      float64 ≈ 200 MB — eval benchmarks are orders smaller), L2-
      normalized, and shipped to executors by closure like the IVF-PQ
      codebooks; ONE Arrow-batched pandas UDF computes a per-batch
      ``E @ B.T`` row-max.  No shuffle at all — the corpus side is a
      pure linear scan, so 10^12 rows stream through at matmul speed.
    * ``method='lsh'`` (approximate, for benchmarks too big to ship):
      sign-LSH signatures on both sides (``similarity.lsh_signature``),
      the benchmark side DISTINCT'd + broadcast, bucket-equality join,
      exact-cosine refine, per-doc max.  Recall follows the sign-LSH
      collision bound — high at the ~0.95 thresholds this rule runs at;
      rows with no colliding candidate report a null ``bench_max_sim``.

    Null embeddings yield null similarity and ``contaminated=false``.
    Appends ``bench_max_sim`` (double) + ``contaminated`` (boolean)."""
    from great_expectations_spark.functions import similarity as sim

    bench = benchmark_df.select(
        F.col(embedding_column).alias("__be")
    ).filter(F.col("__be").isNotNull())
    if method == "matmul":
        import numpy as np

        rows = bench.limit(max_benchmark_rows + 1).collect()
        if len(rows) > max_benchmark_rows:
            raise ValueError(
                f"benchmark has more than {max_benchmark_rows} embeddings; "
                "raise max_benchmark_rows or use method='lsh'"
            )
        if not rows:
            out = df.withColumn(
                "bench_max_sim", F.lit(None).cast("double")
            )
            return out.withColumn("contaminated", F.lit(False))
        B = np.array([r["__be"] for r in rows], dtype=np.float64)
        Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-30)

        from pyspark.sql.types import DoubleType

        @F.pandas_udf(DoubleType())
        def max_sim(embs: pd.Series) -> pd.Series:
            mask = embs.notna()
            if not mask.any():
                return pd.Series([None] * len(embs), dtype="float64")
            E = np.stack(embs[mask].to_numpy()).astype(np.float64)
            En = E / np.maximum(
                np.linalg.norm(E, axis=1, keepdims=True), 1e-30
            )
            best = (En @ Bn.T).max(axis=1)
            out = pd.Series([np.nan] * len(embs), dtype="float64")
            out[mask.to_numpy()] = best
            return out

        out = df.withColumn(
            "bench_max_sim",
            F.when(
                F.col(embedding_column).isNotNull(),
                max_sim(F.col(embedding_column)),
            ),
        )
    elif method == "lsh":
        first = bench.select(F.size("__be").alias("d")).first()
        if first is None:
            out = df.withColumn(
                "bench_max_sim", F.lit(None).cast("double")
            )
            return out.withColumn("contaminated", F.lit(False))
        planes = sim.random_hyperplanes(int(first["d"]), n_bits, seed)
        bsig = bench.select(
            "__be", sim.lsh_signature(F.col("__be"), planes).alias("__sig")
        ).dropDuplicates(["__sig", "__be"])
        corpus = df.filter(F.col(embedding_column).isNotNull()).select(
            F.col(id_column).alias("__cid"),
            F.col(embedding_column).alias("__ce"),
            sim.lsh_signature(F.col(embedding_column), planes).alias(
                "__sig"
            ),
        )
        best = (
            corpus.join(F.broadcast(bsig), "__sig")
            .select(
                "__cid",
                sim.cosine(F.col("__ce"), F.col("__be")).alias("__cos"),
            )
            .groupBy("__cid")
            .agg(F.max("__cos").alias("bench_max_sim"))
        )
        out = df.join(
            best, df[id_column] == best["__cid"], "left"
        ).drop("__cid")
    else:
        raise ValueError(f"unknown method {method!r}")
    return out.withColumn(
        "contaminated",
        F.coalesce(
            F.col("bench_max_sim") >= F.lit(float(threshold)), F.lit(False)
        ),
    )


def semantic_decontaminate(
    df: DataFrame, benchmark_df: DataFrame, **kwargs
) -> DataFrame:
    """Drop corpus rows semantically contaminated by the benchmark
    (the filtering form of :func:`semantic_contamination_stats`)."""
    flagged = semantic_contamination_stats(df, benchmark_df, **kwargs)
    return flagged.filter(~F.col("contaminated")).select(*df.columns)


def _luhn_pred_col(d: Column) -> Column:
    """Luhn predicate over a digit-string Column — pure SQL
    ``aggregate`` fold (whole-stage codegen; no UDF).  Doubles every
    second digit from the right; the >9 fold-down rides a 10-element
    LUT indexed by the digit (``element_at`` is 1-based, so index =
    digit + 1 = ascii - 47).  Empty string → false."""
    lut = F.array(*[F.lit(v) for v in (0, 2, 4, 6, 8, 1, 3, 5, 7, 9)])
    total = F.aggregate(
        F.sequence(F.lit(1), F.length(d)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            F.pmod(F.length(d) - i, F.lit(2)) == 1,
            F.element_at(lut, F.ascii(d.substr(i, F.lit(1))) - 47),
        ).otherwise(F.ascii(d.substr(i, F.lit(1))) - 48),
    )
    return (F.length(d) > 0) & (F.pmod(total, F.lit(10)) == 0)


def luhn_valid(digits: Column) -> Column:
    """Luhn checksum validity of a digit string (null/empty → false)."""
    return F.when(
        digits.isNull(), F.lit(False)
    ).otherwise(_luhn_pred_col(digits))


def pii_counts(col: Column, kinds: Optional[List[str]] = None) -> Dict[str, Column]:
    """Per-kind PII match-count Columns for ``col`` (JVM ``regexp_count``).
    ``credit_card`` counts only Luhn-VALID card-shaped matches."""
    kinds = list(kinds) if kinds else list(PII_PATTERNS)
    out: Dict[str, Column] = {}
    for kind in kinds:
        if kind not in PII_PATTERNS:
            raise ValueError(f"unknown PII kind {kind!r}; have {sorted(PII_PATTERNS)}")
        if kind == "credit_card":
            matches = F.regexp_extract_all(
                col, F.lit(PII_PATTERNS[kind]), F.lit(0)
            )
            digits = F.transform(
                matches, lambda m: F.regexp_replace(m, "[^0-9]", "")
            )
            out[kind] = F.size(F.filter(digits, _luhn_pred_col))
        else:
            n = F.regexp_count(col, F.lit(PII_PATTERNS[kind]))
            gate = _PII_GATES.get(kind)
            out[kind] = (
                # NULL text stays NULL (regexp_count's contract)
                F.when(col.isNull(), F.lit(None).cast("int"))
                .when(gate(col), n)
                .otherwise(F.lit(0))
                if gate is not None
                else n
            )
    return out


def pii_stats(
    df: DataFrame,
    *,
    text_column: str = "text",
    kinds: Optional[List[str]] = None,
    keep_columns: Optional[List[str]] = None,
) -> DataFrame:
    """Per-row PII counts + ``any_pii`` flag.  One projection, no
    shuffle; every count is a codegen'd regexp expression."""
    counts = pii_counts(F.col(text_column), kinds)
    keep = keep_columns if keep_columns is not None else df.columns
    count_cols = [c.alias(f"pii_{k}") for k, c in counts.items()]
    any_expr = None
    for k in counts:
        term = F.col(f"pii_{k}") > 0
        any_expr = term if any_expr is None else (any_expr | term)
    return df.select(*keep, *count_cols).select(
        "*", F.coalesce(any_expr, F.lit(False)).alias("any_pii")
    )


def redact_pii(
    col: Column,
    kinds: Optional[List[str]] = None,
    token: str = "[PII:{kind}]",
) -> Column:
    """Replace every PII match with ``token`` (``{kind}`` interpolated),
    applying patterns in ``PII_PATTERNS`` order (card before phone so a
    16-digit number is swallowed whole).  Chained JVM
    ``regexp_replace`` — still one projection.

    Note: ``credit_card`` redaction is shape-based (no Luhn gate) —
    redaction errs on the safe side, detection counts err on precision.
    """
    kinds = list(kinds) if kinds else list(PII_PATTERNS)
    out = col
    for kind in PII_PATTERNS:  # fixed canonical order
        if kind not in kinds:
            continue
        replaced = F.regexp_replace(
            out, PII_PATTERNS[kind], token.format(kind=kind)
        )
        gate = _PII_GATES.get(kind)
        # literal prefilter: rows that cannot contain the kind skip the
        # regex scan entirely (a required literal like '@' is a cheap
        # JVM contains; the regex pass over a 20k-char run is not).  It
        # tests the text as rewritten so far: an earlier kind's token may
        # have brought the literal in
        out = (
            F.when(gate(out), replaced).otherwise(out)
            if gate is not None
            else replaced
        )
    return out


# ---------------------------------------------------------------------------
# Mixture resampling (domain reweighting)
# ---------------------------------------------------------------------------


def mixture_rates(
    counts: Dict[str, int], target_weights: Dict[str, float]
) -> Tuple[Dict[str, float], int]:
    """Per-group keep rates achieving ``target_weights`` with maximum
    retention (pure driver math).

    Given group sizes ``c_g`` and weights ``w_g`` (normalized here), the
    largest total ``T`` with ``w_g * T <= c_g`` for every g is
    ``T = min_g(c_g / w_g)``; keep rate is ``w_g * T / c_g``.  Groups
    with weight 0 (or absent from ``target_weights``) are dropped.
    Returns ``(rates, expected_total)``.
    """
    total_w = sum(w for w in target_weights.values() if w > 0)
    if total_w <= 0:
        raise ValueError("target_weights must contain a positive weight")
    norm = {g: w / total_w for g, w in target_weights.items() if w > 0}
    missing = [g for g in norm if counts.get(g, 0) == 0]
    if missing:
        raise ValueError(
            f"target_weights reference empty/absent groups: {missing}"
        )
    t = min(counts[g] / w for g, w in norm.items())
    rates = {g: min(1.0, w * t / counts[g]) for g, w in norm.items()}
    return rates, int(t)


def mix_sample(
    df: DataFrame,
    group_column: str,
    target_weights: Dict[str, float],
    *,
    key_columns: Optional[List[str]] = None,
    seed: str = "",
    weight_by: str = "rows",
    text_column: str = "text",
    token_count_column: Optional[str] = None,
) -> DataFrame:
    """Deterministically subsample ``df`` so group proportions match
    ``target_weights`` (maximum-retention solution).

    ``weight_by='rows'`` (default) balances DOCUMENT counts;
    ``weight_by='tokens'`` balances TOKEN mass — the unit real mixture
    budgets are written in (The Pile / DoReMi weights are token
    shares).  Token mode measures each group's mass with
    ``text.token_count(text_column)`` (or a precomputed
    ``token_count_column``), applies the same max-retention rate math
    to the masses, and keeps rows by the same uniform md5 draw — rows
    are thinned independently of their own length, so the kept token
    mass per group converges to ``w_g · T`` in expectation.

    Keep decision: ``u(row) < rate(group)`` where ``u`` is the first 8
    hex chars of ``md5(key || seed)`` scaled to [0,1) — the same
    engine-portable construction as the md5-parity sampler
    (``sources/splitters.py``), so membership is byte-identical on any
    engine/cluster and oracle-checkable in SQL.  ``key_columns``
    defaults to all non-group columns' concat; pass the stable unique
    id for production use.

    One tiny ``groupBy(group)`` agg (driver-collected — group count is
    the number of DOMAINS, not rows), then a single filtered scan.  No
    shuffle of the data itself.
    """
    key_columns = key_columns or [
        c for c in df.columns if c != group_column
    ]
    if not key_columns:
        raise ValueError(
            "mix_sample needs at least one non-group column (or explicit "
            "key_columns) to derive per-row membership — with none, every "
            "row of a group would share one md5 draw and the group would "
            "be kept or dropped wholesale"
        )
    if weight_by == "rows":
        mass = F.count(F.lit(1))
    elif weight_by == "tokens":
        from great_expectations_spark.functions.text import token_count

        tok = (
            F.col(token_count_column)
            if token_count_column
            else token_count(F.col(text_column))
        )
        mass = F.sum(F.coalesce(tok, F.lit(0)))
    else:
        raise ValueError("weight_by must be 'rows' or 'tokens'")
    rows = (
        df.groupBy(group_column)
        .agg(mass.alias("n"), F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )
    counts = {r[group_column]: r["n"] for r in rows}
    if weight_by == "tokens":
        # distinguish "group absent" (mixture_rates' error) from "group
        # present but every document empty/whitespace" — the latter
        # worked under weight_by='rows' and deserves its own message
        hollow = [
            r[group_column]
            for r in rows
            if r["n_rows"] > 0
            and not counts[r[group_column]]
            and target_weights.get(r[group_column], 0) > 0
        ]
        if hollow:
            raise ValueError(
                f"weight_by='tokens': groups {hollow} have rows but ZERO "
                "token mass (every document empty/whitespace) — drop "
                "them from target_weights or use weight_by='rows'"
            )
    rates, _ = mixture_rates(counts, target_weights)
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_columns])
    u = F.conv(F.substring(F.md5(F.concat(key, F.lit(seed))), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(2**32))
    rate_expr = None
    for g, r in rates.items():
        cond = F.col(group_column) == F.lit(g)
        rate_expr = (
            F.when(cond, F.lit(r))
            if rate_expr is None
            else rate_expr.when(cond, F.lit(r))
        )
    rate_expr = rate_expr.otherwise(F.lit(0.0))
    return df.filter(u < rate_expr)


# ---------------------------------------------------------------------------
# Quality classifier (hashed bag-of-words linear model)
# ---------------------------------------------------------------------------


def _word_feature_ids(col: Column, n_features: int) -> Column:
    """Normalized-word feature ids in [1, n_features] (1-based for
    ``element_at``): ``pmod(xxhash64(word), n) + 1``.  Pure JVM."""
    words = F.split(normalize_text(col), " ")
    ids = F.transform(
        words, lambda w: (F.pmod(F.xxhash64(w), F.lit(n_features)) + 1)
    )
    return F.when(
        col.isNull() | (F.length(F.trim(col)) == 0),
        F.array().cast("array<bigint>"),
    ).otherwise(ids)


def train_quality_classifier(
    labeled_df: DataFrame,
    *,
    text_column: str = "text",
    label_column: str = "label",
    n_features: int = 1 << 15,
    max_rows: int = 100_000,
    epochs: int = 200,
    lr: float = 0.5,
    l2: float = 1e-4,
) -> Dict[str, object]:
    """Train a hashed bag-of-words logistic quality classifier (the
    GPT-3-style "quality filter": a linear model scoring documents
    against a small labeled reference set — Brown et al. 2020 appendix A
    describe exactly this shape; fastText's supervised mode is the same
    model family).

    Labels are 0/1 (1 = keep-quality).  Training is DRIVER-side numpy
    full-batch gradient descent — the labeled set is small by
    construction (``max_rows`` cap enforced with ``limit(cap+1)`` so an
    over-cap frame errors instead of silently truncating); what must
    scale is SCORING, which :func:`quality_classifier_score` does as a
    pure JVM expression.  Featurization of the training sample runs
    through the SAME Spark expression as scoring
    (:func:`_word_feature_ids`), so train/score hash parity is
    structural, not replicated.

    Returns a plain-dict model ``{weights: list[float], bias: float,
    n_features: int}`` (JSON-serializable; persist however you like).
    """
    import numpy as np

    rows = (
        labeled_df.select(
            F.col(label_column).cast("int").alias("y"),
            _word_feature_ids(F.col(text_column), n_features).alias("ids"),
        )
        .limit(max_rows + 1)
        .collect()
    )
    if len(rows) > max_rows:
        raise ValueError(
            f"labeled_df exceeds max_rows={max_rows}; sample it first "
            "(the classifier trains on a bounded reference set)"
        )
    if not rows:
        raise ValueError("labeled_df is empty")
    n = len(rows)
    # mean-pooled sparse features -> dense is wasteful; accumulate per-row
    y = np.array([r["y"] for r in rows], dtype=np.float64)
    feats = [np.array(r["ids"], dtype=np.int64) - 1 for r in rows]
    # full-batch GD from zero init: training is fully deterministic
    w = np.zeros(n_features, dtype=np.float64)
    b = 0.0
    for _ in range(epochs):
        # forward: mean pooling over each row's feature ids
        z = np.fromiter(
            (
                (w[f].sum() / len(f) if len(f) else 0.0) + b
                for f in feats
            ),
            dtype=np.float64,
            count=n,
        )
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y  # dL/dz per row
        gw = np.zeros_like(w)
        for gi, f in zip(g, feats):
            if len(f):
                np.add.at(gw, f, gi / len(f))
        w -= lr * (gw / n + l2 * w)
        b -= lr * float(g.mean())
    return {
        "weights": [float(v) for v in w],
        "bias": float(b),
        "n_features": int(n_features),
    }


def quality_classifier_score(col: Column, model: Dict[str, object]) -> Column:
    """P(keep-quality) for ``col`` under a trained model — 100% JVM:
    the weight vector ships as ONE array literal (data, not code — the
    same pattern as the IVF-PQ ADC lookup table), indexed with
    ``element_at`` inside an ``aggregate`` fold over the document's
    hashed word ids, mean-pooled, sigmoid'd.  No UDF, no shuffle; at
    10^12 rows this is a single projection whose weight array is
    broadcast once per task."""
    n_features = int(model["n_features"])
    weights = array_lit_f64(model["weights"])
    ids = _word_feature_ids(col, n_features)
    total = F.aggregate(
        ids,
        F.lit(0.0),
        lambda acc, i: acc + F.element_at(weights, i.cast("int")),
    )
    z = (
        F.when(F.size(ids) > 0, total / F.size(ids)).otherwise(F.lit(0.0))
        + F.lit(float(model["bias"]))
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def _bigram_feature_ids(col: Column, n_buckets: int) -> Column:
    """Hashed (prev, word) pair ids in [1, n_buckets] — pure JVM,
    ``xxhash64`` over both words so the pair bucket differs from either
    unigram bucket.  Empty array for texts with < 2 words.

    Pairing is ``zip_with`` over two SLICES of the word array, not an
    index fold that ``element_at``'s into it inside the lambda — the
    slice arguments are evaluated once, so cost is O(tokens) even on
    the interpreted path (higher-order functions are CodegenFallback:
    under a non-codegen parent like TakeOrderedAndProject the index-
    fold shape re-evaluates the ``split`` per element, O(tokens²) —
    measured 40× slower on the DSIR top-k; same lesson as
    :func:`perplexity_score` note (3))."""
    words = F.split(normalize_text(col), " ")
    m = F.greatest(F.size(words) - 1, F.lit(0))
    ids = F.zip_with(
        F.slice(words, F.lit(1), m),
        F.slice(words, F.lit(2), m),
        lambda prev, cur: F.pmod(
            F.xxhash64(prev, cur), F.lit(n_buckets)
        )
        + 1,
    )
    return F.when(
        col.isNull()
        | (F.length(F.trim(col)) == 0)
        | (F.size(words) < 2),
        F.array().cast("array<bigint>"),
    ).otherwise(ids)


def train_ngram_lm(
    df: DataFrame,
    *,
    text_column: str = "text",
    n_buckets: int = 1 << 15,
    order: int = 2,
) -> Dict[str, object]:
    """Train a hashed n-gram language model for perplexity filtering —
    the CCNet recipe (Wenzek et al. 2020: score documents by LM
    perplexity against a clean reference corpus, keep the low tail)
    with the KenLM stand-in being a hashed add-alpha unigram /
    interpolated-bigram model whose SCORING is a pure JVM expression.

    Training is FULLY DISTRIBUTED (unlike the bounded-collect quality
    classifier): one ``explode`` + map-side-combined ``groupBy(bucket)``
    per order, so the reference corpus can be arbitrarily large — what
    reaches the driver is only the bounded bucket histogram
    (≤ ``n_buckets`` rows per order).  Featurization uses the same
    expressions as scoring (:func:`_word_feature_ids` /
    :func:`_bigram_feature_ids`), so train/score hash parity is
    structural.

    Returns a JSON-serializable dict: ``{n_buckets, order, total_tokens,
    uni_counts: list[int], big_counts: list[int] | None}``.
    """
    if order not in (1, 2):
        raise ValueError("order must be 1 or 2")

    def bucket_counts(ids_col: Column) -> list:
        rows = (
            df.select(F.explode(ids_col).alias("b"))
            .groupBy("b")
            .count()
            .collect()
        )
        counts = [0] * n_buckets
        for r in rows:
            counts[int(r["b"]) - 1] = int(r["count"])
        return counts

    uni = bucket_counts(_word_feature_ids(F.col(text_column), n_buckets))
    big = (
        bucket_counts(_bigram_feature_ids(F.col(text_column), n_buckets))
        if order == 2
        else None
    )
    return {
        "n_buckets": int(n_buckets),
        "order": order,
        "total_tokens": int(sum(uni)),
        "uni_counts": uni,
        "big_counts": big,
    }


def perplexity_score(
    col: Column,
    model: Dict[str, object],
    *,
    alpha: float = 0.5,
    lambda_bigram: float = 0.8,
) -> Column:
    """Per-document perplexity under a :func:`train_ngram_lm` model —
    100% JVM: the bucket-count histograms ship as array literals (data,
    not code — same pattern as :func:`quality_classifier_score`),
    indexed with ``element_at`` inside one ``aggregate`` fold.

    Unigram: ``p(w) = (c_uni[h(w)] + α) / (T + α·B)``.  Order-2 tokens
    past the first score the interpolation ``λ·p(w|prev) + (1-λ)·p(w)``
    with ``p(w|prev) = (c_big[h(prev,w)] + α) / (c_uni[h(prev)] + α·B)``.
    Perplexity = ``exp(mean token NLL)``; null for empty/null text.  At
    10^12 rows this is one projection, the histograms broadcast once per
    task — no UDF, no shuffle."""
    n_buckets = int(model["n_buckets"])
    total = float(model["total_tokens"])
    a = float(alpha)
    denom_uni = F.lit(total + a * n_buckets)
    uni = array_lit_f64(model["uni_counts"])

    def p_uni(idx: Column) -> Column:
        return (F.element_at(uni, idx.cast("int")) + F.lit(a)) / denom_uni

    # Expression-shape lessons, measured on the sf0.01 corpus (500
    # docs): (1) repeated references to the featurization arrays are
    # FREE — Spark's subexpression elimination covers them (verified:
    # E+E+E+E costs the same as E); (2) a "let-binding" through a
    # one-element transform(array(struct(ids...))) looks cheaper but
    # runs 4x SLOWER (5.0s vs 1.2s) — the struct detour defeats the
    # sharing it tried to create; (3) aligning per-token inputs must be
    # done by ZIPPING slices, not by an index fold that element_at's
    # into ids inside its lambda (O(tokens^2) per document, ~4x).
    ids = _word_feature_ids(col, n_buckets)
    n = F.size(ids)

    if model["order"] == 1 or model.get("big_counts") is None:
        nll = F.aggregate(
            ids, F.lit(0.0), lambda acc, i: acc - F.log(p_uni(i))
        )
        return F.when(n > 0, F.exp(nll / n)).otherwise(F.lit(None))

    big = array_lit_f64(model["big_counts"])
    lam = F.lit(float(lambda_bigram))
    pair_ids = _bigram_feature_ids(col, n_buckets)
    # token 1 scores unigram-only; tokens 2..n the interpolation over
    # zipped (pair_id, prev_uni_id, cur_uni_id)
    first = -F.log(p_uni(F.element_at(ids, 1)))
    m = F.greatest(n - 1, F.lit(0))
    with_prev = F.zip_with(
        pair_ids,
        F.slice(ids, F.lit(1), m),
        lambda p, pv: F.struct(p.alias("p"), pv.alias("pv")),
    )
    terms = F.zip_with(
        with_prev,
        F.slice(ids, F.lit(2), m),
        lambda st, cu: -F.log(
            lam
            * (
                (F.element_at(big, st["p"].cast("int")) + F.lit(a))
                / (
                    F.element_at(uni, st["pv"].cast("int"))
                    + F.lit(a * n_buckets)
                )
            )
            + (F.lit(1.0) - lam) * p_uni(cu)
        ),
    )
    rest = F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)
    return F.when(n > 0, F.exp((first + rest) / n)).otherwise(F.lit(None))


def model_save(spark, model: Dict[str, object], path: str) -> None:
    """Persist a plain-dict model (:func:`train_ngram_lm`,
    :func:`train_quality_classifier`) as JSON through Spark's Hadoop
    FileSystem — any scheme the session reaches (shared helper with
    ``tokenize.bpe_save``)."""
    from great_expectations_spark.functions._hadoop_io import (
        hadoop_json_save,
    )

    hadoop_json_save(spark, model, path)


def model_load(spark, path: str) -> Dict[str, object]:
    from great_expectations_spark.functions._hadoop_io import (
        hadoop_json_load,
    )

    return hadoop_json_load(spark, path)


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# public paper: hashed-n-gram bag-of-words importance weights between a
# small TARGET corpus and the raw pool, then Gumbel-top-k sampling
# without replacement proportional to the weights).  The standard
# "make the web pool look like the target distribution" selection step
# between quality filtering and mixture resampling.
# ---------------------------------------------------------------------------


def _md5_bucket(key: Column, n_buckets: int) -> Column:
    """Engine-portable feature bucket in [1, n_buckets]: first 8 hex
    chars of md5 as a 32-bit integer, mod ``n_buckets`` — replicable in
    any SQL engine (DuckDB: ``('0x' || substring(md5(k),1,8))::UBIGINT %
    n + 1``), same construction as the md5-parity sampler."""
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    return F.pmod(h, F.lit(n_buckets)) + 1


def _dsir_feature_ids(
    col: Column,
    n_buckets: int,
    *,
    bigrams: bool = True,
    hash_function: str = "xxhash64",
) -> Column:
    """Hashed bag-of-n-gram feature ids (unigrams, plus bigrams when
    enabled, concatenated into ONE array) in [1, n_buckets] — pure JVM.

    ``hash_function='xxhash64'`` (default) reuses the quality-classifier
    featurizers; ``'md5'`` is the engine-portable parity mode (slower;
    for oracle checks and cross-engine reproduction).  Null or
    space-only text ⇒ empty array (``trim`` strips ASCII spaces —
    strings of OTHER whitespace normalize to ''-tokens, identically in
    Spark and SQL replicas)."""
    if hash_function == "xxhash64":
        ids = _word_feature_ids(col, n_buckets)
        if bigrams:
            ids = F.concat(ids, _bigram_feature_ids(col, n_buckets))
        return ids
    if hash_function != "md5":
        raise ValueError("hash_function must be 'xxhash64' or 'md5'")
    words = F.split(normalize_text(col), " ")
    uni = F.transform(words, lambda w: _md5_bucket(w, n_buckets))
    empty = F.array().cast("array<bigint>")
    if bigrams:
        # \x01 separator so ('ab','c') and ('a','bc') hash differently;
        # zip_with over slices, not an index fold — see
        # _bigram_feature_ids for the O(tokens²) interpreted-path trap
        m = F.greatest(F.size(words) - 1, F.lit(0))
        big = F.zip_with(
            F.slice(words, F.lit(1), m),
            F.slice(words, F.lit(2), m),
            lambda prev, cur: _md5_bucket(
                F.concat(prev, F.lit("\x01"), cur), n_buckets
            ),
        )
        big = F.when(F.size(words) >= 2, big).otherwise(empty)
        ids = F.concat(uni, big)
    else:
        ids = uni
    return F.when(
        col.isNull() | (F.length(F.trim(col)) == 0), empty
    ).otherwise(ids)


def train_dsir(
    target_df: DataFrame,
    raw_df: DataFrame,
    *,
    text_column: str = "text",
    n_buckets: int = 1 << 14,
    bigrams: bool = True,
    alpha: float = 1.0,
    hash_function: str = "xxhash64",
) -> Dict[str, object]:
    """Fit DSIR importance weights: smoothed hashed-n-gram multinomials
    over the TARGET corpus and the RAW pool, reduced to one per-bucket
    log-ratio array ``log p̂_target[b] − log p̂_raw[b]`` (Xie et al.
    2023 §3: the importance weight of a document factorizes over its
    hashed features, so the model IS this array).

    Training is FULLY DISTRIBUTED — same shape as
    :func:`train_ngram_lm`: one ``explode`` + map-side-combined
    ``groupBy(bucket)`` per side; only the ≤ ``n_buckets``-row bucket
    histograms reach the driver, so both corpora can be arbitrarily
    large.  Featurization shares the scoring expressions, so
    train/score hash parity is structural.

    Returns a JSON-serializable dict (persist with :func:`model_save`).
    """

    import math

    a = float(alpha)
    if a <= 0:
        raise ValueError("alpha must be > 0 (zero-count buckets need mass)")
    ids = _dsir_feature_ids(
        F.col(text_column), n_buckets,
        bigrams=bigrams, hash_function=hash_function,
    )
    # ONE job for both corpora: union with a side tag, one map-side-
    # combined groupBy(bucket) with conditional counts — both scans run
    # in the same stage instead of two serial jobs
    tagged = target_df.select(
        ids.alias("__ids"), F.lit(1).alias("__t")
    ).unionByName(raw_df.select(ids.alias("__ids"), F.lit(0).alias("__t")))
    rows = (
        tagged.select(F.explode("__ids").alias("b"), "__t")
        .groupBy("b")
        .agg(
            F.sum("__t").alias("tc"),
            F.sum(F.lit(1) - F.col("__t")).alias("rc"),
        )
        .collect()
    )
    tc, rc = [0] * n_buckets, [0] * n_buckets
    for r in rows:
        tc[int(r["b"]) - 1] = int(r["tc"])
        rc[int(r["b"]) - 1] = int(r["rc"])
    tt, rt = float(sum(tc)), float(sum(rc))
    if tt == 0 or rt == 0:
        raise ValueError("target/raw corpus produced no features")
    td, rd = tt + a * n_buckets, rt + a * n_buckets
    log_ratio = [
        math.log((tc[b] + a) / td) - math.log((rc[b] + a) / rd)
        for b in range(n_buckets)
    ]
    return {
        "n_buckets": int(n_buckets),
        "bigrams": bool(bigrams),
        "alpha": a,
        "hash_function": hash_function,
        "target_tokens": int(tt),
        "raw_tokens": int(rt),
        "log_ratio": log_ratio,
    }


def dsir_logweight(col: Column, model: Dict[str, object]) -> Column:
    """Per-document DSIR log importance weight ``Σ_features
    log_ratio[h(f)]`` — 100% JVM: the log-ratio array ships as ONE
    array literal (data, not code; same pattern as
    :func:`perplexity_score`) indexed with ``element_at`` inside a
    single ``aggregate`` fold.  One projection, no shuffle, no UDF —
    the right plan at 10^12 rows.  Null for empty/null text (an empty
    document carries no evidence; callers drop it or keep it
    explicitly, never silently at weight e^0=1)."""
    ratio = array_lit_f64(model["log_ratio"])
    ids = _dsir_feature_ids(
        col,
        int(model["n_buckets"]),
        bigrams=bool(model["bigrams"]),
        hash_function=str(model["hash_function"]),
    )
    lw = F.aggregate(
        ids,
        F.lit(0.0),
        lambda acc, i: acc + F.element_at(ratio, i.cast("int")),
    )
    # null-guard on the CHEAP text predicate (the exact condition
    # _dsir_feature_ids empties the array on), not on size(ids): the
    # fold is CodegenFallback, so a size(ids) guard would featurize the
    # text a second time per row with no subexpression sharing
    return F.when(
        col.isNull() | (F.length(F.trim(col)) == 0), F.lit(None)
    ).otherwise(lw)


def _gumbel_key(id_col: Column, seed: str) -> Column:
    """Deterministic engine-portable Gumbel(0,1) draw per id: ``u`` from
    the first 8 md5 hex chars of ``id || seed`` (offset by 0.5/2^32 so
    u ∈ (0,1) strictly), then ``−ln(−ln u)`` — byte-identical on any
    engine / cluster size, replayable in SQL."""
    u = (
        F.conv(
            F.substring(F.md5(F.concat(id_col.cast("string"), F.lit(seed))), 1, 8),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    return -F.log(-F.log(u))


def dsir_sample(
    df: DataFrame,
    model: Dict[str, object],
    *,
    k: Optional[int] = None,
    fraction: Optional[float] = None,
    id_column: str = "doc_id",
    text_column: str = "text",
    seed: str = "",
    weight_column: Optional[str] = None,
) -> DataFrame:
    """Select documents ∝ their DSIR importance weight, without
    replacement, deterministically (Gumbel-top-k: key = log w(x) +
    Gumbel(0,1), take the largest keys — exactly sampling-without-
    replacement proportional to w; the Gumbel draw is a seeded md5 hash
    of the id, so reruns and engines agree byte-for-byte).

    Exactly one of ``k`` / ``fraction``:

    * ``k`` — exact top-k by key (``ORDER BY ... LIMIT k`` ⇒ Spark's
      TakeOrdered: per-partition heaps + driver merge, no full sort;
      right for k up to ~10^6).
    * ``fraction`` — scale path for huge selections: one
      ``approxQuantile`` pass finds the key cutoff, one filtered scan
      keeps rows above it.  Fully distributed (nothing driver-side but
      the cutoff scalar); kept count is approximate within the
      quantile sketch's relative error.  The quantile pass is an
      eager action over ``df`` — persist an expensive upstream
      pipeline first, or it is computed twice.

    Rows with null/empty text carry no weight and are dropped.  Pass
    ``weight_column`` to keep the per-row log-weight in the output."""
    if (k is None) == (fraction is None):
        raise ValueError("pass exactly one of k= / fraction=")
    keep_w = weight_column or "__dsir_logw"
    # Null-weight rows (empty/null text) are excluded by the CHEAP text
    # predicate — it pushes to the scan as a DataFilter, instead of
    # inlining the whole scoring fold into a Filter node that would
    # evaluate it a second time per row on the interpreted path (the
    # fold is CodegenFallback under TakeOrderedAndProject).  The key
    # also references the materialized log-weight COLUMN, keeping the
    # model array literal in the plan tree once.
    txt = F.col(text_column)
    scored = (
        df.filter(txt.isNotNull() & (F.length(F.trim(txt)) > 0))
        .withColumn(keep_w, dsir_logweight(txt, model))
        .withColumn(
            "__dsir_key",
            F.col(keep_w) + _gumbel_key(F.col(id_column), seed),
        )
    )
    if k is not None:
        out = (
            scored.orderBy(F.desc("__dsir_key"), F.col(id_column))
            .limit(int(k))
        )
    else:
        if not (0.0 < float(fraction) <= 1.0):
            raise ValueError("fraction must be in (0, 1]")
        qs = scored.stat.approxQuantile(
            "__dsir_key", [1.0 - float(fraction)], 0.001
        )
        if not qs:  # every row had null/empty text
            out = scored
        else:
            out = scored.filter(F.col("__dsir_key") >= F.lit(float(qs[0])))
    out = out.drop("__dsir_key")
    return out if weight_column else out.drop(keep_w)


# ---------------------------------------------------------------------------
# End-to-end corpus curation pipeline
# ---------------------------------------------------------------------------


def curate_corpus(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    text_column: str = "text",
    c4: bool = False,
    c4_kwargs: Optional[Dict[str, object]] = None,
    gopher: bool = False,
    gopher_kwargs: Optional[Dict[str, object]] = None,
    dedup_method: Optional[str] = None,
    dedup_threshold: float = 0.7,
    dedup_kwargs: Optional[Dict[str, object]] = None,
    substring_n: Optional[int] = None,
    substring_keep: str = "none",
    benchmark_df: Optional[DataFrame] = None,
    decontam_n: int = 13,
    decontam_min_matches: int = 1,
    semantic_benchmark_df: Optional[DataFrame] = None,
    semantic_threshold: float = 0.95,
    embedding_column: str = "embedding",
    drop_pii_kinds: Optional[List[str]] = None,
    redact_kinds: Optional[List[str]] = None,
    quality_model: Optional[Dict[str, object]] = None,
    quality_threshold: float = 0.5,
    perplexity_model: Optional[Dict[str, object]] = None,
    perplexity_max: float = 1000.0,
    dsir_model: Optional[Dict[str, object]] = None,
    dsir_keep: Optional[float] = None,
    mixture_column: Optional[str] = None,
    mixture_weights: Optional[Dict[str, float]] = None,
    mixture_weight_by: str = "rows",
    seed: str = "",
    with_report: bool = False,
    stage_barriers: str = "auto",
) -> Tuple[DataFrame, List[Dict[str, object]]]:
    """One-call training-corpus curation, staged in the canonical
    pipeline order: **C4 line-clean → Gopher gate → dedup →
    exact-substring removal → decontaminate (n-gram) → semantic
    decontaminate → drop-PII → redact-PII → quality filter →
    perplexity filter → DSIR selection → mixture resample**.  Every
    stage is optional (None
    ⇒ skipped) and lazily composed — with ``with_report=False`` the
    whole pipeline is ONE logical plan and Spark runs it in however few
    jobs the actions demand, with two exceptions that run small jobs at
    COMPOSITION time: the mixture stage's per-group count aggregate,
    and a float ``dsir_keep``'s ``approxQuantile`` cutoff pass (which
    executes every upstream stage once; pass an int k for a fully lazy
    DSIR stage, or persist upstream first).  ``with_report=True``
    counts rows after each stage (one job per enabled stage) and
    returns the attrition table ``[{stage, rows, retained}]``.

    ``stage_barriers`` (``'auto'`` | ``'none'``) controls lineage
    barriers after TEXT-REWRITING stages.  Why they exist: C4's
    ``clean_text`` and redaction's rewritten text are built from
    higher-order / regex expression trees that Spark always evaluates
    INTERPRETED (HOFs are CodegenFallback), and once later stages
    compose on top, the rewritten-text subexpression is re-evaluated
    once per downstream reference per row — measured >20x wall blowup
    at 2.5M docs (the whole pipeline fused into one projection, every
    executor thread pinned inside ``RegExpReplace.nullSafeEval``).
    ``'auto'`` inserts a lazy ``localCheckpoint(eager=False)`` after
    the C4 and redact stages whenever a later stage re-reads the text,
    so the rewrite is computed ONCE and later stages see a plain
    column; storage is the executors' MEMORY_AND_DISK.  A local
    checkpoint truncates lineage, so an executor lost after it ran
    fails the job instead of recomputing its blocks.  At corpus
    scales beyond executor storage, or on clusters that lose executors
    (preemptible nodes), use the per-partition runner
    (``curate_by_partition``), whose durable per-stage writes are the
    same barrier in persistent form.  ``'none'`` keeps the fully-lazy
    single plan (small corpora / plan-inspection).

    * ``c4``: enable :func:`c4_clean` line-level cleaning (Raffel et
      al. 2020) as the first stage — raw scraped text is cleaned
      BEFORE dedup so boilerplate lines don't manufacture near-dup
      pairs; ``c4_kwargs`` passes rule overrides through.
    * ``gopher``: enable the :func:`~great_expectations_spark.functions.
      text.gopher_filter` quality gate (Rae et al. 2021) after C4
      cleaning; ``gopher_kwargs`` passes ``thresholds`` /
      ``with_repetition`` through.
    * ``semantic_benchmark_df``: embedding frame for
      :func:`semantic_decontaminate` (requires ``embedding_column`` on
      the corpus); runs after the n-gram rule so both leak channels are
      closed.
    * ``dedup_method``: ``exact | minhash | ngram | simhash``
      (``functions.dedup.dedup_corpus``) or ``semantic``
      (``similarity.semantic_dedup`` — pass ``embedding_column=`` etc.
      through ``dedup_kwargs``).
    * ``substring_n``: enable ExactSubstr repeated-span removal at this
      gram length (Lee et al. 2021 use 50;
      ``functions.dedup.remove_repeated_spans``) — runs AFTER document
      dedup (whole-duplicate docs are gone, so their spans don't count)
      and BEFORE decontamination; ``substring_keep`` passes through
      (``'none'`` cuts all copies, ``'first'`` keeps the canonical one).
    * ``benchmark_df``: eval set for n-gram decontamination.
    * ``drop_pii_kinds`` / ``redact_kinds``: remove rows containing
      these PII kinds / rewrite the text column with redaction tokens.
    * ``quality_model``: a :func:`train_quality_classifier` model;
      rows scoring below ``quality_threshold`` drop.
    * ``perplexity_model``: a :func:`train_ngram_lm` model; rows whose
      LM perplexity exceeds ``perplexity_max`` drop (the CCNet keep-
      the-low-tail recipe).
    * ``dsir_model`` + ``dsir_keep``: :func:`train_dsir` importance
      resampling toward the target distribution — an int keeps exactly
      k documents (Gumbel-top-k), a float keeps that fraction via the
      distributed quantile-cutoff path.
    * ``mixture_column`` + ``mixture_weights``: deterministic
      :func:`mix_sample` to target domain proportions;
      ``mixture_weight_by='tokens'`` balances token mass instead of
      document counts (the unit real mixture budgets are written in).
    """
    report: List[Dict[str, object]] = []
    first: List[Optional[int]] = [None]

    def record(stage: str, d: DataFrame) -> None:
        if not with_report:
            return
        n = d.count()
        if first[0] is None:
            first[0] = max(n, 1)
        report.append(
            {"stage": stage, "rows": n, "retained": round(n / first[0], 6)}
        )

    if stage_barriers not in ("auto", "none"):
        raise ValueError(
            f"stage_barriers must be 'auto' or 'none', got {stage_barriers!r}"
        )
    reads_text_after_c4 = any(
        (
            gopher,
            dedup_method,
            substring_n is not None,
            benchmark_df is not None,
            drop_pii_kinds,
            redact_kinds,
            quality_model is not None,
            perplexity_model is not None,
            dsir_model is not None,
            mixture_weights and mixture_weight_by == "tokens",
        )
    )
    reads_text_after_redact = any(
        (
            quality_model is not None,
            perplexity_model is not None,
            dsir_model is not None,
            mixture_weights and mixture_weight_by == "tokens",
        )
    )

    def barrier(d: DataFrame) -> DataFrame:
        # lazy lineage cut: the rewritten text becomes a plain column
        # for everything downstream (see stage_barriers in the docstring)
        return d.localCheckpoint(eager=False)

    out = df
    record("input", out)
    if c4:
        out = c4_clean(out, text_column=text_column, **(c4_kwargs or {}))
        if stage_barriers == "auto" and reads_text_after_c4:
            out = barrier(out)
        record("c4_clean", out)
    if gopher:
        from great_expectations_spark.functions.text import gopher_filter

        out = gopher_filter(out, text_column=text_column,
                            **(gopher_kwargs or {}))
        record("gopher", out)
    if dedup_method:
        kw = dict(dedup_kwargs or {})
        if dedup_method == "semantic":
            from great_expectations_spark.functions.similarity import (
                semantic_dedup,
            )

            out = semantic_dedup(out, id_column=id_column, **kw)
        else:
            from great_expectations_spark.functions.dedup import dedup_corpus

            out = dedup_corpus(
                out,
                id_column,
                text_column,
                method=dedup_method,
                threshold=dedup_threshold,
                **kw,
            )
        record(f"dedup[{dedup_method}]", out)
    if substring_n is not None:
        from great_expectations_spark.functions.dedup import (
            remove_repeated_spans,
        )

        out = remove_repeated_spans(
            out,
            doc_id=id_column,
            text_column=text_column,
            n=substring_n,
            keep=substring_keep,
        )
        record(f"substring[{substring_n}]", out)
    if benchmark_df is not None:
        out = decontaminate(
            out,
            benchmark_df,
            doc_id=id_column,
            text_column=text_column,
            n=decontam_n,
            min_matches=decontam_min_matches,
        )
        record("decontaminate", out)
    if semantic_benchmark_df is not None:
        out = semantic_decontaminate(
            out,
            semantic_benchmark_df,
            id_column=id_column,
            embedding_column=embedding_column,
            threshold=semantic_threshold,
        )
        record("semantic_decontaminate", out)
    if drop_pii_kinds:
        any_pii = None
        for c in pii_counts(F.col(text_column), drop_pii_kinds).values():
            term = F.coalesce(c, F.lit(0)) > 0
            any_pii = term if any_pii is None else (any_pii | term)
        out = out.filter(~any_pii)
        record("drop_pii", out)
    if redact_kinds:
        out = out.withColumn(
            text_column, redact_pii(F.col(text_column), redact_kinds)
        )
        if stage_barriers == "auto" and reads_text_after_redact:
            out = barrier(out)
        record("redact_pii", out)
    if quality_model is not None:
        out = out.filter(
            quality_classifier_score(F.col(text_column), quality_model)
            >= F.lit(quality_threshold)
        )
        record("quality_filter", out)
    if perplexity_model is not None:
        out = out.filter(
            perplexity_score(F.col(text_column), perplexity_model)
            <= F.lit(float(perplexity_max))
        )
        record("perplexity_filter", out)
    if dsir_model is not None:
        if dsir_keep is None:
            raise ValueError("dsir_model requires dsir_keep (int k or "
                             "float fraction)")
        kw = (
            {"k": int(dsir_keep)}
            if isinstance(dsir_keep, int) and not isinstance(dsir_keep, bool)
            else {"fraction": float(dsir_keep)}
        )
        # domain-separated seed: both this stage's Gumbel draw and the
        # mixture stage's keep-draw hash md5(id || seed); with the SAME
        # seed the two draws are the identical number, the Gumbel key is
        # monotone in it, and the mixture stage would systematically
        # drop DSIR survivors (measured: a 0.2-weight group kept ZERO
        # docs instead of its target share)
        out = dsir_sample(
            out, dsir_model,
            id_column=id_column, text_column=text_column,
            seed=f"dsir|{seed}", **kw,
        )
        record("dsir", out)
    if mixture_weights:
        if not mixture_column:
            raise ValueError("mixture_weights requires mixture_column")
        out = mix_sample(
            out,
            mixture_column,
            mixture_weights,
            key_columns=[id_column],
            seed=f"mix|{seed}",
            weight_by=mixture_weight_by,
            text_column=text_column,
        )
        record("mixture", out)
    return out, report
