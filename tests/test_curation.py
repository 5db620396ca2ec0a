"""Tests for functions/curation.py — decontamination, PII, mixture
resampling.  Every oracle here is an independent pure-Python
recomputation (no Spark expressions reused)."""

from __future__ import annotations

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from great_expectations_spark.functions import curation as cur


# ---------------------------------------------------------------------------
# word_ngrams / decontamination
# ---------------------------------------------------------------------------


def _py_ngrams(text, n):
    if text is None:
        return []
    words = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
    words = [w for w in words if w != ""]
    if len(words) < n:
        return []
    return [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]


def test_word_ngrams_matches_python(spark):
    rows = [
        (1, "Alpha BETA gamma  delta"),
        (2, "one two"),
        (3, ""),
        (4, None),
        (5, "  padded   spacing   everywhere  "),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {
        r["id"]: r["g"]
        for r in df.select("id", cur.word_ngrams(F.col("text"), 3).alias("g")).collect()
    }
    for i, t in rows:
        assert got[i] == _py_ngrams(t, 3), f"id={i}"


@pytest.mark.parametrize("hash_grams", [True, False])
def test_contamination_stats_vs_python(spark, hash_grams):
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "THE QUICK BROWN fox jumps over something else entirely"),
        (4, "tiny"),
        (5, None),
    ]
    bench = [
        ("the quick brown fox jumps over the lazy dog tail",),
        ("five dozen liquor jugs",),
    ]
    n = 4
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    bdf = spark.createDataFrame(bench, "text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_matched"], r["contaminated"])
        for r in cur.contamination_stats(
            ddf, bdf, n=n, hash_grams=hash_grams
        ).collect()
    }
    bench_grams = set()
    for (t,) in bench:
        bench_grams.update(_py_ngrams(t, n))
    for doc_id, t in docs:
        grams = set(_py_ngrams(t, n))
        matched = len(grams & bench_grams)
        assert got[doc_id] == (len(grams), matched, matched >= 1), doc_id


def test_decontaminate_removes_only_contaminated(spark):
    docs = [
        (1, "a b c d e f g"),
        (2, "h i j k l m n"),
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    bdf = spark.createDataFrame([("x a b c d e y",)], "text string")
    kept = cur.decontaminate(ddf, bdf, n=5)
    assert [r["doc_id"] for r in kept.collect()] == [2]
    # min_matches above the overlap keeps everything
    kept2 = cur.decontaminate(ddf, bdf, n=5, min_matches=4)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [1, 2]


def test_contamination_setfilter_matches_join(spark):
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "THE QUICK BROWN fox jumps over something else entirely"),
        (4, "tiny"),
        (5, None),
        (6, ""),
    ]
    bench = [
        ("the quick brown fox jumps over the lazy dog tail",),
        ("five dozen liquor jugs",),
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    bdf = spark.createDataFrame(bench, "text string")
    join_stats = {
        tuple(r)
        for r in cur.contamination_stats(ddf, bdf, n=4, hash_grams=True)
        .collect()
    }
    sf_stats = {
        tuple(r)
        for r in cur.contamination_stats_setfilter(ddf, bdf, n=4).collect()
    }
    assert sf_stats == join_stats
    # decontaminate parity, incl. min_matches
    for mm in (1, 4):
        kj = sorted(
            r["doc_id"]
            for r in cur.decontaminate(ddf, bdf, n=4, min_matches=mm)
            .collect()
        )
        ks = sorted(
            r["doc_id"]
            for r in cur.decontaminate(
                ddf, bdf, n=4, min_matches=mm, strategy="setfilter"
            ).collect()
        )
        assert ks == kj, f"min_matches={mm}"


def test_decontaminate_setfilter_zero_shuffle(spark):
    ddf = spark.createDataFrame(
        [(i, f"w{i} a b c d e f") for i in range(50)],
        "doc_id long, text string",
    )
    bdf = spark.createDataFrame([("z y x w v",)], "text string")
    out = cur.decontaminate(ddf, bdf, n=5, strategy="setfilter")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert out.count() == 50


def test_decontaminate_empty_benchmark_setfilter(spark):
    ddf = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    bdf = spark.createDataFrame([], "text string")
    assert cur.decontaminate(
        ddf, bdf, n=5, strategy="setfilter"
    ).count() == 1
    with pytest.raises(ValueError, match="join/setfilter"):
        cur.decontaminate(ddf, bdf, n=5, strategy="bogus")


def test_contamination_plan_broadcasts_bench(spark):
    ddf = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    bdf = spark.createDataFrame([("a b c d e",)], "text string")
    plan = cur.contamination_stats(ddf, bdf, n=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan


# ---------------------------------------------------------------------------
# PII
# ---------------------------------------------------------------------------


def _py_luhn(d):
    if not d:
        return False
    total = 0
    for pos, ch in enumerate(reversed(d)):
        v = int(ch)
        if pos % 2 == 1:
            v *= 2
            if v > 9:
                v -= 9
        total += v
    return total % 10 == 0


def test_luhn_matches_python(spark):
    cases = [
        "4111111111111111",  # valid visa test
        "4111111111111112",
        "5500005555555559",  # valid mc test
        "1234567812345670",  # valid (check digit 0)
        "1234567812345678",
        "79927398713",  # classic luhn example, valid
        "79927398710",
        "",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "d string")
    got = {
        r["d"]: r["ok"]
        for r in df.select("d", cur.luhn_valid(F.col("d")).alias("ok")).collect()
    }
    for c in cases:
        assert got[c] == _py_luhn(c), c


def test_pii_stats_counts(spark):
    rows = [
        (1, "mail john.doe+x@example.co.uk and jane@sub.example.org"),
        (2, "cards: 4111 1111 1111 1111 (valid) 4111-1111-1111-1112 (luhn-bad)"),
        (3, "host 10.0.0.1 and 255.255.255.255, ssn 123-45-6789"),
        (4, "call (415) 555-1234 or 212-555-0000 x99"),
        (5, "clean text, no identifiers at all"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {
        r["id"]: r.asDict()
        for r in cur.pii_stats(df, keep_columns=["id"]).collect()
    }
    assert got[1]["pii_email"] == 2 and got[1]["any_pii"]
    # luhn gate: only the valid card counts
    assert got[2]["pii_credit_card"] == 1
    assert got[3]["pii_ipv4"] == 2 and got[3]["pii_ssn"] == 1
    assert got[4]["pii_phone"] == 2
    assert not got[5]["any_pii"]
    assert not got[6]["any_pii"] and got[6]["pii_email"] is None


def test_redact_pii_all_kinds(spark):
    text = (
        "email a@b.io card 4111 1111 1111 1111 ip 1.2.3.4 "
        "ssn 123-45-6789 phone 415-555-1234"
    )
    df = spark.createDataFrame([(text,)], "text string")
    out = df.select(cur.redact_pii(F.col("text")).alias("r")).first()["r"]
    assert "a@b.io" not in out and "[PII:email]" in out
    assert "4111" not in out and "[PII:credit_card]" in out
    assert "1.2.3.4" not in out and "[PII:ipv4]" in out
    assert "123-45-6789" not in out and "[PII:ssn]" in out
    assert "555-1234" not in out and "[PII:phone]" in out


def test_redact_pii_gates_on_rewritten_text(spark):
    # a token holding '@' turns the card into an email-shaped string; the
    # email pass must see it whether or not the original text held '@'
    token = "[PII-{kind}@redacted.example]"
    df = spark.createDataFrame(
        [("card 4111 1111 1111 1111",), ("a@b.io card 4111 1111 1111 1111",)],
        "text string",
    )
    got = [
        r["r"]
        for r in df.select(
            cur.redact_pii(F.col("text"), token=token).alias("r")
        ).collect()
    ]
    card = "[[PII-email@redacted.example]]"
    assert got == [f"card {card}", f"[PII-email@redacted.example] card {card}"]


def test_redact_pii_kind_subset_and_unknown_kind(spark):
    df = spark.createDataFrame([("a@b.io 1.2.3.4",)], "text string")
    out = df.select(
        cur.redact_pii(F.col("text"), kinds=["ipv4"]).alias("r")
    ).first()["r"]
    assert out == "a@b.io [PII:ipv4]"
    with pytest.raises(ValueError):
        cur.pii_counts(F.col("text"), kinds=["nope"])


# ---------------------------------------------------------------------------
# mixture resampling
# ---------------------------------------------------------------------------


def test_mixture_rates_math():
    rates, total = cur.mixture_rates(
        {"web": 7000, "code": 2000, "wiki": 1000},
        {"web": 0.5, "code": 0.25, "wiki": 0.25},
    )
    assert total == 4000
    assert rates["wiki"] == 1.0
    assert math.isclose(rates["web"], 2000 / 7000)
    assert math.isclose(rates["code"], 1000 / 2000)
    with pytest.raises(ValueError):
        cur.mixture_rates({"a": 10}, {"a": 0.5, "b": 0.5})
    with pytest.raises(ValueError):
        cur.mixture_rates({"a": 10}, {"a": 0.0})


def test_mix_sample_deterministic_and_python_replica(spark):
    rows = [(i, "web" if i % 10 < 7 else ("code" if i % 10 < 9 else "wiki"))
            for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, source string")
    weights = {"web": 0.5, "code": 0.3, "wiki": 0.2}
    out = cur.mix_sample(df, "source", weights, key_columns=["id"], seed="s1")
    kept = sorted(r["id"] for r in out.collect())
    # python replica: identical md5-threshold decisions
    counts = {"web": 2100, "code": 600, "wiki": 300}
    rates, _ = cur.mixture_rates(counts, weights)
    expect = []
    for i, src in rows:
        u = int(hashlib.md5(f"{i}s1".encode()).hexdigest()[:8], 16) / 2**32
        if u < rates[src]:
            expect.append(i)
    assert kept == sorted(expect)
    # stable across runs
    again = sorted(r["id"] for r in
                   cur.mix_sample(df, "source", weights,
                                  key_columns=["id"], seed="s1").collect())
    assert again == kept


def test_mix_sample_drops_zero_weight_groups(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(100)],
        "id long, source string",
    )
    out = cur.mix_sample(df, "source", {"a": 1.0}, key_columns=["id"])
    srcs = {r["source"] for r in out.collect()}
    assert srcs == {"a"}


# ---------------------------------------------------------------------------
# SemDeDup (functions/similarity.py) — semantic embedding dedup
# ---------------------------------------------------------------------------


def _planted_vectors():
    """3 well-separated direction groups; within each group a base vector
    plus near-copies (tiny perturbation => cosine ~0.999) and one
    moderate neighbor below the dedup threshold."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = {
        0: np.array([10.0, 0, 0, 0] + [0] * 4),
        10: np.array([0, 10.0, 0, 0] + [0] * 4),
        20: np.array([0, 0, 10.0, 0] + [0] * 4),
    }
    rows = []
    for gid, v in base.items():
        rows.append((gid, [float(x) for x in v]))
        for j in (1, 2):  # near-dups of the base
            rows.append(
                (gid + j, [float(x) for x in v + rng.normal(0, 0.05, 8)])
            )
        # far member of the same half-space, NOT a near-dup
        w = v + rng.normal(0, 6.0, 8)
        rows.append((gid + 5, [float(x) for x in w]))
    return rows


def test_semantic_dedup_pairs_match_bruteforce_at_one_cluster(spark):
    """n_clusters=1 degrades to exact all-pairs: pair set must equal the
    brute-force cosine threshold graph."""
    import itertools

    import numpy as np

    from great_expectations_spark.functions import similarity as sim

    rows = _planted_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in sim.semantic_dedup_pairs(
            df, threshold=0.98, n_clusters=1
        ).collect()
    }
    vecs = {i: np.array(v) for i, v in rows}
    expect = set()
    for a, b in itertools.combinations(sorted(vecs), 2):
        va, vb = vecs[a], vecs[b]
        cos = round(float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6)
        if cos >= 0.98:
            expect.add((a, b))
    assert got == expect and len(expect) >= 3


def test_semantic_dedup_survivors(spark):
    from great_expectations_spark.functions import similarity as sim

    rows = _planted_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(
        r["vec_id"]
        for r in sim.semantic_dedup(
            df, threshold=0.98, n_clusters=3
        ).collect()
    )
    # each group's near-dup triple collapses to the min id; the far
    # members (x5) and any unclustered rows survive
    assert set(kept) >= {0, 5, 10, 15, 20, 25}
    for gone in (1, 2, 11, 12, 21, 22):
        assert gone not in kept


def test_semantic_dedup_pairs_precision(spark):
    """Every emitted pair must satisfy the threshold (precision 1.0
    regardless of clustering)."""
    from great_expectations_spark.functions import similarity as sim

    rows = _planted_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for r in sim.semantic_dedup_pairs(df, threshold=0.98, n_clusters=4).collect():
        assert r["cos_sim"] >= 0.98


# ---------------------------------------------------------------------------
# expect_column_values_to_not_contain_pii (operators/map_conditions.py)
# ---------------------------------------------------------------------------


def test_expect_not_contain_pii_suite(spark):
    from great_expectations_spark.core.suite import ExpectationSuite
    from great_expectations_spark.plans.planner import SuiteValidator

    rows = [
        (1, "mail me at a@b.io"),
        (2, "totally clean"),
        (3, "card 4111 1111 1111 1111 here"),
        (4, "luhn-invalid 4111 1111 1111 1112 stays clean"),
        (5, None),  # null leaves the denominator, never unexpected
        (6, "ip 10.0.0.1"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    suite = ExpectationSuite("pii").add(
        "expect_column_values_to_not_contain_pii", column="text", mostly=0.9
    )
    res = SuiteValidator().validate(df, suite, result_format="SUMMARY")
    r = res.results[0]
    assert r.result["element_count"] == 6
    assert r.result["missing_count"] == 1
    assert r.result["unexpected_count"] == 3  # ids 1, 3, 6
    assert not r.success  # 3/5 violations > 10%
    sample = set(r.result["partial_unexpected_list"])
    assert sample == {rows[0][1], rows[2][1], rows[5][1]}

    # kind subset: only card scanning => one violation, mostly=0.5 passes
    suite2 = ExpectationSuite("pii2").add(
        "expect_column_values_to_not_contain_pii",
        column="text",
        kinds=["credit_card"],
        mostly=0.5,
    )
    res2 = SuiteValidator().validate(df, suite2, result_format="BASIC")
    assert res2.results[0].result["unexpected_count"] == 1
    assert res2.results[0].success


# ---------------------------------------------------------------------------
# quality classifier (hashed bag-of-words logistic model)
# ---------------------------------------------------------------------------


def _quality_corpus():
    """Two vocab-disjoint classes + held-out docs mixing the vocab."""
    good_words = ["research", "theory", "evidence", "method", "analysis",
                  "result", "conclusion", "citation"]
    bad_words = ["click", "free", "winner", "prize", "buy", "casino",
                 "offer", "now"]
    import itertools
    train = []
    for i, (a, b, c) in enumerate(itertools.islice(
            itertools.permutations(good_words, 3), 40)):
        train.append((f"{a} {b} {c} {a}", 1))
    for i, (a, b, c) in enumerate(itertools.islice(
            itertools.permutations(bad_words, 3), 40)):
        train.append((f"{a} {b} {c} {b}", 0))
    heldout = [
        ("evidence analysis citation method", 1),
        ("casino prize click free", 0),
        ("result conclusion theory research evidence", 1),
        ("buy now winner offer click", 0),
    ]
    return train, heldout


def test_quality_classifier_train_and_score(spark):
    train, heldout = _quality_corpus()
    tdf = spark.createDataFrame(train, "text string, label int")
    model = cur.train_quality_classifier(tdf, epochs=300)
    hdf = spark.createDataFrame(heldout, "text string, label int")
    scored = hdf.select(
        "label", cur.quality_classifier_score(F.col("text"), model).alias("p")
    ).collect()
    for r in scored:
        assert (r["p"] >= 0.5) == (r["label"] == 1), (r["label"], r["p"])
    # training accuracy should be essentially perfect on disjoint vocab
    tr = tdf.select(
        "label", cur.quality_classifier_score(F.col("text"), model).alias("p")
    ).collect()
    acc = sum(((r["p"] >= 0.5) == (r["label"] == 1)) for r in tr) / len(tr)
    assert acc == 1.0


def test_quality_classifier_score_is_jvm_only(spark):
    train, _ = _quality_corpus()
    tdf = spark.createDataFrame(train, "text string, label int")
    model = cur.train_quality_classifier(tdf, epochs=10)
    plan = (
        tdf.select(cur.quality_classifier_score(F.col("text"), model))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_classifier_null_and_empty_score_bias_only(spark):
    import math

    train, _ = _quality_corpus()
    tdf = spark.createDataFrame(train, "text string, label int")
    model = cur.train_quality_classifier(tdf, epochs=10)
    df = spark.createDataFrame([(None,), ("",), ("   ",)], "text string")
    got = [
        r["p"]
        for r in df.select(
            cur.quality_classifier_score(F.col("text"), model).alias("p")
        ).collect()
    ]
    expect = 1.0 / (1.0 + math.exp(-model["bias"]))
    for p in got:
        assert abs(p - expect) < 1e-12


def test_quality_classifier_caps_and_errors(spark):
    tdf = spark.createDataFrame([("a", 1)] * 5, "text string, label int")
    with pytest.raises(ValueError):
        cur.train_quality_classifier(tdf, max_rows=4)
    empty = spark.createDataFrame([], "text string, label int")
    with pytest.raises(ValueError):
        cur.train_quality_classifier(empty)


# ---------------------------------------------------------------------------
# curate_corpus end-to-end pipeline
# ---------------------------------------------------------------------------


def test_curate_corpus_all_stages(spark):
    # 0/1 exact dups; 2 contaminated by bench; 3 has PII to drop;
    # 4 has an email to redact... but email is in drop set here, so use
    # separate kinds: drop credit cards, redact emails.
    rows = [
        (0, "alpha beta gamma delta epsilon", "web"),
        (1, "alpha beta gamma delta epsilon", "web"),        # exact dup of 0
        (2, "one two three four five six seven eight", "web"),  # contaminated
        (3, "card 4111 1111 1111 1111 in text pad pad pad", "web"),
        (4, "write to me at a@b.io please thanks friend", "code"),
        (5, "clean useful content about research methods", "code"),
        (6, "more clean text with analysis and evidence", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [("zz one two three four five six seven eight zz",)], "text string"
    )
    out, report = cur.curate_corpus(
        df,
        dedup_method="exact",
        benchmark_df=bench,
        decontam_n=8,
        drop_pii_kinds=["credit_card"],
        redact_kinds=["email"],
        with_report=True,
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert set(got) == {0, 4, 5, 6}  # 1 deduped, 2 decontaminated, 3 dropped
    assert got[4] == "write to me at [PII:email] please thanks friend"
    stages = [r["stage"] for r in report]
    assert stages == [
        "input", "dedup[exact]", "decontaminate", "drop_pii", "redact_pii",
    ]
    assert [r["rows"] for r in report] == [7, 6, 5, 4, 4]
    assert report[-1]["retained"] == round(4 / 7, 6)


def test_curate_corpus_quality_and_mixture(spark):
    train, _ = _quality_corpus()
    tdf = spark.createDataFrame(train, "text string, label int")
    model = cur.train_quality_classifier(tdf, epochs=200)
    rows = [(i, "research evidence analysis method", "a") for i in range(20)]
    rows += [(100 + i, "click free casino winner prize", "b") for i in range(20)]
    rows += [(200 + i, "research theory citation result", "b") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out, report = cur.curate_corpus(
        df,
        quality_model=model,
        quality_threshold=0.5,
        mixture_column="source",
        mixture_weights={"a": 0.5, "b": 0.5},
        with_report=True,
    )
    kept = out.collect()
    # quality filter kills the 20 spam docs; mixture balances a vs b
    assert all(r["doc_id"] < 100 or r["doc_id"] >= 200 for r in kept)
    n_a = sum(r["source"] == "a" for r in kept)
    n_b = sum(r["source"] == "b" for r in kept)
    assert n_a == 20 and 5 <= n_b <= 20  # b rate = 20/20 target => ~min(20, 20)
    assert [r["stage"] for r in report] == ["input", "quality_filter", "mixture"]


def test_curate_corpus_no_report_is_lazy(spark):
    df = spark.createDataFrame([(1, "x", "s")], "doc_id long, text string, source string")
    out, report = cur.curate_corpus(df, redact_kinds=["email"])
    assert report == []
    assert out.count() == 1


def test_curate_corpus_mixture_requires_column(spark):
    df = spark.createDataFrame([(1, "x", "s")], "doc_id long, text string, source string")
    with pytest.raises(ValueError):
        cur.curate_corpus(df, mixture_weights={"s": 1.0})


# ---------------------------------------------------------------------------
# conversation-level dedup (functions/dedup.py)
# ---------------------------------------------------------------------------


def test_assemble_conversations_stable_order(spark):
    from great_expectations_spark.functions import dedup as dd

    rows = [
        ("c1", 2, "third"), ("c1", 0, "first"), ("c1", 1, "second"),
        ("c2", 0, "only"),
        ("c3", 0, None),  # null turn text -> empty string in assembly
        # tie on turn_idx: md5-hex tie-break orders "a" < "b" by hash hex
        ("c4", 0, "b"), ("c4", 0, "a"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {r["conv_id"]: (r["text"], r["n_turns"])
           for r in dd.assemble_conversations(df).collect()}
    assert got["c1"] == ("first\nsecond\nthird", 3)
    assert got["c2"] == ("only", 1)
    assert got["c3"] == ("", 1)
    import hashlib
    order = sorted(["a", "b"], key=lambda t: hashlib.md5(t.encode()).hexdigest())
    assert got["c4"] == ("\n".join(order), 2)
    # shuffled input produces identical assembly
    got2 = {r["conv_id"]: r["text"]
            for r in dd.assemble_conversations(
                df.orderBy(F.rand(7))).collect()}
    assert got2 == {k: v[0] for k, v in got.items()}


def test_conversation_dedup_exact_and_near(spark):
    from great_expectations_spark.functions import dedup as dd

    def turns(cid, texts):
        return [(cid, i, t) for i, t in enumerate(texts)]

    base = ["hello there how are you today friend",
            "i am fine thanks for asking about it",
            "great talk to you later then goodbye now"]
    rows = (
        turns("a1", base)
        + turns("a2", base)                      # exact dup of a1
        + turns("a3", base[:2] + ["great talk to you later then goodbye ok"])
        + turns("b1", ["completely different content in here",
                       "nothing shared with the others at all"])
    )
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    exact = dd.conversation_dedup(df, method="exact")
    kept = {r["conv_id"] for r in exact.select("conv_id").distinct().collect()}
    assert kept == {"a1", "a3", "b1"}  # a2 collapses into a1 (min id)
    assert exact.filter(F.col("conv_id") == "a1").count() == 3  # turns intact

    near = dd.conversation_dedup(
        df, method="minhash", threshold=0.5, num_hashes=64, shingle_k=3
    )
    kept_near = {r["conv_id"] for r in near.select("conv_id").distinct().collect()}
    assert kept_near == {"a1", "b1"}  # a3 is a near-dup, collapses too


def test_word_ngrams_blank_doc_has_zero_grams(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "one")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", cur.word_ngrams(F.col("text"), 1).alias("g")
        ).collect()
    }
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] == ["one"]
    # hashed key path agrees: blank docs contribute no grams at n=1
    st = cur.contamination_stats(
        df.filter("doc_id <= 3"), df.filter("doc_id = 4"), n=1
    ).collect()
    assert all(r["n_matched"] == 0 and r["n_grams"] == 0 for r in st)


def test_mix_sample_rejects_keyless_frame(spark):
    df = spark.createDataFrame([("a",), ("b",)], "source string")
    with pytest.raises(ValueError):
        cur.mix_sample(df, "source", {"a": 0.5, "b": 0.5})


def test_curate_corpus_substring_stage(spark):
    from great_expectations_spark.functions.curation import curate_corpus

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today", "a"),
            (2, "intro words then the quick brown fox jumps over it", "a"),
            (3, "totally unique content right here", "b"),
        ],
        "doc_id long, text string, source string",
    )
    out, report = curate_corpus(
        docs, substring_n=3, with_report=True
    )
    rows = {r["doc_id"]: r["text"] for r in out.collect()}
    # shared 6-word span removed from both docs; unique doc untouched
    assert rows[1] == "the lazy dog today"
    assert rows[2] == "intro words then it"
    assert rows[3] == "totally unique content right here"
    stages = [r["stage"] for r in report]
    assert stages == ["input", "substring[3]"]
    # row COUNT is unchanged — the stage edits text, it drops nothing
    assert all(r["rows"] == 3 for r in report)

    # keep='first' spares the canonical copy (doc 1)
    out2, _ = curate_corpus(
        docs, substring_n=3, substring_keep="first"
    )
    rows2 = {r["doc_id"]: r["text"] for r in out2.collect()}
    assert rows2[1] == docs.filter("doc_id = 1").first()["text"]
    assert rows2[2] == "intro words then it"


def _lm_corpus(spark):
    ref = [
        "the cat sat on the mat near the door",
        "the dog sat on the rug near the fire",
        "a cat and a dog sat near the door",
        "the cat and the dog ran to the door",
    ]
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref)], "doc_id long, text string"
    )


def test_ngram_lm_counts_are_exact(spark):
    """Training is a distributed bucket histogram: re-derive the counts
    from the featurization expressions and they must match exactly."""
    df = _lm_corpus(spark)
    model = cur.train_ngram_lm(df, n_buckets=256, order=2)
    assert model["total_tokens"] == sum(
        len(t.split()) for t in [r["text"] for r in df.collect()]
    )
    uni_ids = [
        i
        for r in df.select(
            cur._word_feature_ids(F.col("text"), 256).alias("ids")
        ).collect()
        for i in r["ids"]
    ]
    want = [0] * 256
    for i in uni_ids:
        want[i - 1] += 1
    assert model["uni_counts"] == want
    assert sum(model["big_counts"]) == sum(
        len(t.split()) - 1 for t in [r["text"] for r in df.collect()]
    )


def test_perplexity_matches_numpy_rederivation(spark):
    """The JVM fold must equal an independent numpy computation driven
    by the same model dict and the same hashed ids."""
    import numpy as np

    df = _lm_corpus(spark)
    B = 256
    model = cur.train_ngram_lm(df, n_buckets=B, order=2)
    docs = spark.createDataFrame(
        [
            (1, "the cat sat near the door"),
            (2, "zygote quux flimflam borogove"),
            (3, None),
            (4, "单 word"),
            (5, "solo"),
        ],
        "doc_id long, text string",
    )
    a, lam = 0.5, 0.8
    got = {
        r["doc_id"]: r["ppl"]
        for r in docs.select(
            "doc_id",
            cur.perplexity_score(
                F.col("text"), model, alpha=a, lambda_bigram=lam
            ).alias("ppl"),
        ).collect()
    }
    ids_rows = docs.select(
        "doc_id",
        cur._word_feature_ids(F.col("text"), B).alias("u"),
        cur._bigram_feature_ids(F.col("text"), B).alias("b"),
    ).collect()
    uni = np.array(model["uni_counts"], dtype=float)
    big = np.array(model["big_counts"], dtype=float)
    T = model["total_tokens"]
    for r in ids_rows:
        u, b = list(r["u"]), list(r["b"])
        if not u:
            assert got[r["doc_id"]] is None
            continue
        pu = lambda i: (uni[i - 1] + a) / (T + a * B)
        nll = -np.log(pu(u[0]))
        for k in range(1, len(u)):
            pb = (big[b[k - 1] - 1] + a) / (uni[u[k - 1] - 1] + a * B)
            nll += -np.log(lam * pb + (1 - lam) * pu(u[k]))
        assert got[r["doc_id"]] == pytest.approx(
            float(np.exp(nll / len(u))), rel=1e-9
        ), r["doc_id"]
    # CCNet direction: in-domain text scores far lower than gibberish
    assert got[1] < got[2] / 2
    # unigram-only model agrees with its own closed form on 1-word docs
    m1 = cur.train_ngram_lm(df, n_buckets=B, order=1)
    solo = docs.filter("doc_id = 5").select(
        cur.perplexity_score(F.col("text"), m1, alpha=a).alias("p")
    ).first()["p"]
    assert solo > 0


def test_perplexity_plan_is_jvm_only(spark):
    df = _lm_corpus(spark)
    model = cur.train_ngram_lm(df, n_buckets=64, order=2)
    out = df.select(cur.perplexity_score(F.col("text"), model).alias("p"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan


def test_curate_corpus_perplexity_stage(spark):
    """The CCNet stage drops high-perplexity rows and reports attrition."""
    ref = _lm_corpus(spark)
    model = cur.train_ngram_lm(ref, n_buckets=256, order=2)
    docs = spark.createDataFrame(
        [
            (1, "the cat sat near the door"),
            (2, "zygote quux flimflam borogove snark"),
            (3, "the dog ran to the door"),
        ],
        "doc_id long, text string",
    )
    ppls = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id", cur.perplexity_score(F.col("text"), model).alias("p")
        ).collect()
    }
    cut = (max(ppls[1], ppls[3]) + ppls[2]) / 2
    out, report = cur.curate_corpus(
        docs, perplexity_model=model, perplexity_max=cut, with_report=True
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]
    stages = {s["stage"]: s["rows"] for s in report}
    assert stages["perplexity_filter"] == 2


def test_lm_model_roundtrip(spark, tmp_path):
    """model_save/model_load round-trips an LM through the Hadoop FS and
    the loaded model scores identically."""
    ref = _lm_corpus(spark)
    model = cur.train_ngram_lm(ref, n_buckets=128, order=2)
    p = str(tmp_path / "lm.json")
    cur.model_save(spark, model, p)
    loaded = cur.model_load(spark, p)
    assert loaded == model
    doc = spark.createDataFrame([("the cat sat",)], "text string")
    a = doc.select(cur.perplexity_score(F.col("text"), model).alias("p")).first()["p"]
    b = doc.select(cur.perplexity_score(F.col("text"), loaded).alias("p")).first()["p"]
    assert a == b


def test_mix_sample_token_weighted_python_replica(spark):
    """weight_by='tokens': rate math over token masses, same md5 keep
    rule — exact membership vs a literal replica, and the kept TOKEN
    mass (not doc count) tracks the target weights."""
    # 'a' docs are 10x longer than 'b' docs: doc-balanced != token-balanced
    rows = [(i, "a", "w " * 40) for i in range(300)]
    rows += [(i, "b", "w " * 4) for i in range(300, 600)]
    df = spark.createDataFrame(rows, "id long, source string, text string")
    weights = {"a": 0.5, "b": 0.5}
    out = cur.mix_sample(
        df, "source", weights, key_columns=["id"], seed="t",
        weight_by="tokens",
    )
    kept = sorted(r["id"] for r in out.collect())
    masses = {"a": 300 * 40, "b": 300 * 4}
    rates, _ = cur.mixture_rates(masses, weights)
    expect = [
        i for i, src, _ in rows
        if int(hashlib.md5(f"{i}t".encode()).hexdigest()[:8], 16) / 2**32
        < rates[src]
    ]
    assert kept == sorted(expect)
    # b's mass is the binding constraint: ALL b docs kept, a thinned ~10x
    n_a = sum(1 for i in kept if i < 300)
    n_b = sum(1 for i in kept if i >= 300)
    assert n_b == 300
    assert 15 <= n_a <= 45  # rate 0.1 of 300 docs
    # kept token mass roughly balanced between the groups
    mass_a, mass_b = n_a * 40, n_b * 4
    assert 0.5 <= mass_a / mass_b <= 2.0
    # precomputed-column path gives identical membership
    df2 = df.withColumn(
        "ntok", F.when(F.col("source") == "a", 40).otherwise(4)
    )
    out2 = cur.mix_sample(
        df2, "source", weights, key_columns=["id"], seed="t",
        weight_by="tokens", token_count_column="ntok",
    )
    assert sorted(r["id"] for r in out2.collect()) == kept
    with pytest.raises(ValueError):
        cur.mix_sample(df, "source", weights, key_columns=["id"],
                       weight_by="chars")
