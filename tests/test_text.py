"""Text analysis operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from meteor_spark.operators import text


def _one(spark, t, col):
    return spark.createDataFrame([(t,)], "text string").select(col.alias("v")).first()["v"]


def test_token_count(spark):
    assert _one(spark, "a b  c", text.token_count(F.col("text"))) == 3


def test_regex_token_count(spark):
    # letters / digits / symbol singletons
    assert _one(spark, "hello world42!", text.regex_token_count(F.col("text"))) == 4


def test_lang_id(spark):
    assert _one(spark, "the cat and the dog in a house", text.lang_id(F.col("text"))) == "en"
    assert _one(spark, "der hund und die katze ist nicht da", text.lang_id(F.col("text"))) == "de"
    assert _one(spark, "xyzzy qwerty zzz", text.lang_id(F.col("text"))) == "und"


def test_fingerprint_normalization(spark):
    a = _one(spark, "Hello   World", text.fingerprint(F.col("text")))
    b = _one(spark, "hello world", text.fingerprint(F.col("text")))
    assert a == b and len(a) == 16


def test_quality_score_range(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = docs.select(text.quality_score(F.col("text")).alias("q")).agg(
        F.min("q"), F.max("q")
    ).first()
    assert 0.0 <= stats[0] and stats[1] <= 1.0


def test_analyze_schema(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = text.analyze(docs)
    assert set(out.columns) == {
        "doc_id", "lang_guess", "n_tokens", "n_regex_tokens", "n_chars",
        "mean_token_len", "punct_ratio", "stopword_ratio", "uppercase_ratio",
        "quality", "fingerprint",
    }
    assert out.count() == docs.count()


def test_winnow_fingerprints_shared_run(spark):
    from meteor_spark.operators.text import winnow_fingerprints

    # docs sharing a run of window+k-1 = 6 words must share a fingerprint
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "DIFFERENT start alpha beta gamma delta epsilon zeta tail"),
            (3, "totally unrelated words with nothing common here"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=3, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 7-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])


def test_contamination_hits_planted(spark):
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),        # verbatim copy -> fully contaminated
            (2, "zzz alpha beta gamma yyy"),      # one shared trigram of 3 distinct
            (3, "totally unrelated words here"),  # clean -> absent from output
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.contamination_hits(corpus, bench, n=3).collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_grams"] == 2 and rows[1]["n_hits"] == 2 and rows[1]["contamination"] == 1.0
    assert rows[2]["n_grams"] == 3 and rows[2]["n_hits"] == 1 and rows[2]["contamination"] == round(1 / 3, 4)


def test_contamination_benchmark_side_is_broadcast(spark):
    bench = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    corpus = spark.createDataFrame([(1, "a b c e")], "doc_id long, text string")
    plan = text.contamination_hits(corpus, bench, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bigram_lm_perplexity(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b"), (3, "x y"), (4, "solo")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.bigram_lm_perplexity(docs).collect()}
    # doc 4 has one word -> no bigrams -> absent
    assert set(out) == {1, 2, 3}
    assert out[1]["n_bigrams"] == 5 and out[2]["n_bigrams"] == 1
    # corpus counts: c(a b)=4, c(b a)=2, c(x y)=1; c(a ·)=4, c(b ·)=2,
    # c(x ·)=1; V=5 (a b x y solo); k=0.5
    p_ab = (4 + 0.5) / (4 + 0.5 * 5)
    p_ba = (2 + 0.5) / (2 + 0.5 * 5)
    p_xy = (1 + 0.5) / (1 + 0.5 * 5)
    avg1 = (3 * math.log(p_ab) + 2 * math.log(p_ba)) / 5
    assert out[1]["avg_logp"] == round(avg1, 4)
    assert out[1]["perplexity"] == round(math.exp(-avg1), 4)
    assert out[3]["avg_logp"] == round(math.log(p_xy), 4)
    # the common-bigram doc is less surprising than the rare-bigram doc
    assert out[1]["perplexity"] < out[3]["perplexity"]


def test_bigram_lm_perplexity_randomized_cross_check(spark):
    """Seeded random corpus vs an independent pure-Python computation of
    the same add-k bigram model — catches formula drift the hand-worked
    example can't."""
    import math
    import random

    rng = random.Random(20260813)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 9))))
        for i in range(40)
    ]
    out = {
        r["doc_id"]: r
        for r in text.bigram_lm_perplexity(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }

    # independent python model
    k = 0.5
    bgc: dict[tuple[str, str], int] = {}
    ctx: dict[str, int] = {}
    vocab_seen = set()
    per_doc: dict[int, list[tuple[str, str]]] = {}
    for doc_id, t in docs:
        ws = t.split(" ") if t else [""]
        vocab_seen.update(ws)
        if len(ws) >= 2:
            bgs = list(zip(ws, ws[1:]))
            per_doc[doc_id] = bgs
            for g in bgs:
                bgc[g] = bgc.get(g, 0) + 1
                ctx[g[0]] = ctx.get(g[0], 0) + 1
    V = len(vocab_seen)
    assert set(out) == set(per_doc)
    for doc_id, bgs in per_doc.items():
        lps = [math.log((bgc[g] + k) / (ctx[g[0]] + k * V)) for g in bgs]
        avg = sum(lps) / len(lps)
        assert out[doc_id]["n_bigrams"] == len(bgs)
        assert abs(out[doc_id]["avg_logp"] - round(avg, 4)) <= 1e-9, doc_id
        assert abs(out[doc_id]["perplexity"] - round(math.exp(-avg), 4)) <= 1e-9, doc_id


def test_gopher_rules_flags(spark):
    good = "the quick brown fox jumps over a lazy dog and then it runs on to the hill for fun " * 4
    rows = [
        (0, good),                                    # passes everything
        (1, "the of short"),                          # too few words
        (2, "#### #### #### #### #### " + good),     # symbol-heavy
        (3, "zz qq ww rr ss tt uu vv xx yy " * 10),   # no stopwords
        (4, "- one\n- two\n- three\nthe end of it"),  # bullet-led lines
        (5, "so it goes...\nand ends...\nthe of a"),  # ellipsis-ended lines
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.gopher_rules(docs, min_words=10).collect()}
    assert out[0]["passes"]
    assert not out[1]["passes"] and out[1]["n_words"] == 3
    assert not out[2]["passes"] and out[2]["symbol_ratio"] >= 0.1
    assert not out[3]["passes"] and out[3]["n_stopwords"] == 0
    assert not out[4]["passes"] and out[4]["bullet_ratio"] == 0.75
    assert not out[5]["passes"] and out[5]["ellipsis_ratio"] > 0.3


def test_gopher_rules_word_length_bounds(spark):
    rows = [
        (0, "aa bb cc dd ee ff gg hh ii jj the of"),  # mean len 2 -> fail
        (1, "extraordinarily incomprehensible satisfactions " * 5 + "the of"),  # mean > 10
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.gopher_rules(docs, min_words=5).collect()}
    assert not out[0]["passes"] and out[0]["mean_word_len"] < 3
    assert not out[1]["passes"] and out[1]["mean_word_len"] > 10


def test_source_overlap_flags_mirrored_source(spark):
    from meteor_spark.operators.text import source_overlap_matrix

    uniq = lambda tag, i: " ".join(f"{tag}{i}w{j}" for j in range(12))
    rows = [(i, uniq("a", i), "en", "orig") for i in range(5)]
    rows += [(100 + i, uniq("a", i), "en", "mirror") for i in range(5)]  # full copy
    rows += [(200 + i, uniq("z", i), "en", "indep") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = {(r.source_a, r.source_b): r for r in source_overlap_matrix(df).collect()}
    m = out[("mirror", "orig")]
    assert m.jaccard == 1.0 and m.overlap == 1.0  # identical fingerprint sets
    assert ("indep", "mirror") not in out and ("indep", "orig") not in out


def test_char_entropy_profile(spark):
    df = spark.createDataFrame(
        [
            (1, "aaaa"),            # one symbol -> H = 0
            (2, "abab"),            # two equiprobable -> H = 1
            (3, "abcd"),            # four equiprobable -> H = 2
            (4, "aaaaaaab"),        # skewed: H = -(7/8)log2(7/8)-(1/8)log2(1/8)
        ],
        "doc_id long, text string",
    )
    from meteor_spark.operators.text import char_entropy_profile

    got = {r["doc_id"]: r for r in char_entropy_profile(df).collect()}
    assert got[1]["char_entropy"] == 0.0 and got[1]["distinct_chars"] == 1
    assert got[2]["char_entropy"] == 1.0
    assert got[3]["char_entropy"] == 2.0
    import math

    want = round(-(7 / 8) * math.log2(7 / 8) - (1 / 8) * math.log2(1 / 8), 4)
    assert got[4]["char_entropy"] == want
    assert got[4]["n_chars_norm"] == 8


def test_char_entropy_profile_empty_docs_emit_no_row(spark):
    # normalized length 0 must be filtered BEFORE the explode: Spark's
    # sequence(1, 0) defaults to step -1 and yields [1, 0] — two phantom
    # chars — where the DuckDB oracle's range(1, 1) yields none.
    from meteor_spark.operators.text import char_entropy_profile

    df = spark.createDataFrame(
        [(1, ""), (2, "   \t  "), (3, "ab")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in char_entropy_profile(df).collect()}
    assert set(got) == {3}
    assert got[3]["n_chars_norm"] == 2 and got[3]["char_entropy"] == 1.0


def test_lexical_kl_zero_for_identical_distributions(spark):
    from meteor_spark.operators.text import lexical_kl_by_group

    # both sources share the exact same word distribution -> KL == 0
    df = spark.createDataFrame(
        [(1, "a a b", "s1"), (2, "a a b", "s2")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in lexical_kl_by_group(df).collect()}
    assert out["s1"]["kl_bits"] == 0.0 and out["s2"]["kl_bits"] == 0.0
    assert out["s1"]["n_tokens"] == 3 and out["s1"]["distinct_words"] == 2


def test_lexical_kl_detects_divergent_source(spark):
    from meteor_spark.operators.text import lexical_kl_by_group

    rows = [(i, "common words here", "base") for i in range(10)]
    rows += [(100, "rare exotic vocabulary", "odd")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r["kl_bits"] for r in lexical_kl_by_group(df).collect()}
    assert out["odd"] > out["base"] >= 0.0


def test_pmi_ranks_collocation_over_frequent_pair(spark):
    from meteor_spark.operators.text import pmi_ngrams

    # "new york" always co-occurs; "the cat"/"the dog" split "the"'s mass
    docs = [(i, "new york") for i in range(5)]
    docs += [(10 + i, "the cat sat") for i in range(5)]
    docs += [(20 + i, "the dog ran") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = pmi_ngrams(df, min_count=5, k=10).collect()
    by_gram = {r["gram"]: r["pmi"] for r in out}
    # perfectly-bound pairs tie at the top; "the X" pairs score lower
    # because "the"'s probability mass is split across two continuations
    assert by_gram["new york"] == by_gram["cat sat"]
    assert by_gram["new york"] > by_gram["the cat"]
    assert out[0]["pmi"] == by_gram["new york"]


def test_doc_novelty_scores_unique_vs_copied(spark):
    from meteor_spark.operators.text import doc_novelty_scores

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),       # unique content
            (2, "one two three four five"),      # copied below -> zero novelty
            (3, "one two three four five"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in doc_novelty_scores(df, n=3).collect()}
    assert got[1]["novelty"] == 1.0 and got[1]["n_unique"] == got[1]["n_grams"]
    assert got[2]["novelty"] == 0.0 and got[3]["novelty"] == 0.0


def test_source_diversity_metrics_flags_repetition(spark):
    from meteor_spark.operators.text import source_diversity_metrics

    df = spark.createDataFrame(
        [(1, "spam spam spam spam", "rep"), (2, "the quick brown fox", "var")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in source_diversity_metrics(df).collect()}
    assert out["rep"]["type_token_ratio"] == 0.25   # 1 type / 4 tokens
    assert out["var"]["type_token_ratio"] == 1.0
    assert out["rep"]["distinct_bigram_ratio"] < out["var"]["distinct_bigram_ratio"]


def test_zipf_fit_exact_power_law(spark):
    from meteor_spark.operators.text import zipf_fit

    # frequencies 8,4,2,1 at ranks 1..4 under log2 give y = 3 - log2(r)·1
    # only approximately (ranks aren't powers of two) — instead build an
    # exact fit: freq(r) = 16 / r for r in {1,2,4,8} is exact in log2
    docs = []
    did = 0
    for word, freq in (("a", 16), ("b", 8), ("c", 4), ("d", 2)):
        for _ in range(freq):
            docs.append((did, word)); did += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")
    row = zipf_fit(df, top_n=10).collect()[0]
    assert row["n_terms"] == 4
    # ranks 1..4 -> x = 0,1,log2(3),2 ; y = 4,3,2,1 — not collinear, so
    # just sanity-check the slope is steeply negative and intercept ~ y(1)
    assert row["zipf_slope"] < -0.9
    assert abs(row["zipf_intercept"] - 4.0) < 0.5


def test_token_gini_equal_vs_skewed(spark):
    from meteor_spark.operators.text import token_gini_by_group

    rows = [(i, "one two three four", "eq") for i in range(4)]
    rows += [(10, "a", "skew"), (11, "b", "skew"), (12, "c", "skew"),
             (13, " ".join(["tok"] * 97), "skew")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in token_gini_by_group(df).collect()}
    assert out["eq"]["gini"] == 0.0
    # 97 of 100 tokens in one of four docs -> Gini near the 3/4 ceiling
    assert out["skew"]["gini"] > 0.65
    assert out["skew"]["n_tokens"] == 100


def test_let_bound_lang_id_and_quality_match_inline_forms(spark):
    """The r12 _let-bound lang_id / quality_score must be bit-identical
    to the straight-line inlined expressions they replaced (the rewrite
    only changes how many times the lambda-bearing score/feature trees
    evaluate per row, never a value) — pinned over ties, all-stopword,
    empty, whitespace-only and NULL text."""
    rows = [
        ("the cat and the dog in a house",),
        ("der hund und die katze ist nicht da",),
        ("le chat est dans la maison pour une nuit",),
        ("el perro es un animal para la casa en que",),
        # tie between en and de scores -> declaration order must win
        ("the der",),
        ("xyzzy qwerty zzz",),
        ("",),
        ("   ",),
        (None,),
        ("the the the the the the the the the the",),
    ]
    df = spark.createDataFrame(rows, "text string")
    t = F.col("text")

    # inline twins of the pre-r12 forms
    scores = text.lang_scores(t)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(list(scores)):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    lang_inline = F.when(best <= 0, F.lit("und")).otherwise(expr)

    f = text.quality_features(t)
    q_inline = F.round(
        F.least(f["stopword_ratio"] * 2, F.lit(1.0)) * 0.4
        + F.when((f["mean_token_len"] >= 3) & (f["mean_token_len"] <= 10), 0.4).otherwise(0.1)
        + F.greatest(F.lit(0.0), F.lit(0.2) - f["punct_ratio"]),
        4,
    )

    got = df.select(
        lang_inline.alias("l0"),
        text.lang_id(t).alias("l1"),
        q_inline.alias("q0"),
        text.quality_score(t).alias("q1"),
    ).collect()
    for r in got:
        assert r["l0"] == r["l1"], r
        assert r["q0"] == r["q1"], r


def test_minhash_signature_degenerate_inputs_match_array_min_form(spark):
    """The r12 fold-form signature must agree with the pre-r12
    array_min form it replaced on every degenerate input: empty text,
    whitespace-only text, NULL text (all of which shingle to [''] —
    greatest(NULL, 1) keeps the gram sequence non-empty), an
    explicitly NULL shingle array, and an explicitly EMPTY one (both
    of which must publish 12 NULL lanes, not a NULL array)."""
    from meteor_spark.operators.dedup import minhash_signature, shingles

    def sig_old(sh, num_hashes=12):
        hashes = F.transform(
            sh,
            lambda s: F.struct(
                F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long").alias("h1"),
                F.conv(F.substring(F.md5(s), 9, 8), 16, 10).cast("long").alias("h2"),
            ),
        )

        def km(i):
            return lambda p: p.getField("h1") + F.lit(i) * p.getField("h2")

        return F.array(
            *[F.array_min(F.transform(hashes, km(i))) for i in range(num_hashes)]
        )

    df = spark.createDataFrame([("",), ("   ",), (None,)], "text string")
    for sh in (
        shingles(F.col("text"), 3),
        F.lit(None).cast("array<string>"),
        F.array().cast("array<string>"),
    ):
        out = df.select(
            sig_old(sh).alias("s0"), minhash_signature(sh, 12).alias("s1")
        ).collect()
        for r in out:
            assert r["s0"] == r["s1"], (r["s0"], r["s1"])
    # the NULL/empty-array lanes specifically: 12 NULLs, not a NULL array
    row = df.limit(1).select(
        minhash_signature(F.lit(None).cast("array<string>"), 12).alias("n"),
        minhash_signature(F.array().cast("array<string>"), 12).alias("e"),
    ).first()
    assert row["n"] == [None] * 12 and row["e"] == [None] * 12
