"""PII scrubbing and corpus n-gram statistics."""

from pyspark.sql import functions as F

from meteor_spark.operators.text import (
    corpus_top_ngrams,
    ngrams_of_words,
    normalize_text,
    scrub_pii,
    words,
)


def _scrub_one(spark, s: str) -> str:
    return spark.createDataFrame([(s,)], ["t"]).select(scrub_pii(F.col("t")).alias("o")).first().o


def test_scrub_masks_each_kind(spark):
    out = _scrub_one(spark, "mail a@b.com or http://x.y/z from 192.168.0.1 call +1 555-0100 now")
    assert out == "mail <EMAIL> or <URL> from <IP> call <PHONE> now"


def test_scrub_url_wins_over_email(spark):
    # URLs containing '@' must become <URL>, not partially <EMAIL>
    out = _scrub_one(spark, "see https://user@host.com/path ok")
    assert out == "see <URL> ok"


def test_scrub_leaves_clean_text_alone(spark):
    s = "plain words only, nothing to hide 42"
    assert _scrub_one(spark, s) == s


def test_ngrams_keep_multiplicity(spark):
    df = spark.createDataFrame([("a b a b",)], ["text"])
    grams = df.select(ngrams_of_words(words(normalize_text(F.col("text"))), 2).alias("g")).first().g
    assert grams == ["a b", "b a", "a b"]


def test_corpus_top_ngrams_orders_and_breaks_ties(spark):
    df = spark.createDataFrame([("x y x y",), ("z w",)], ["text"])
    rows = corpus_top_ngrams(df, n=2, k=3).collect()
    assert [(r.gram, r.n) for r in rows] == [("x y", 2), ("y x", 1), ("z w", 1)]


def test_repetition_features_flag_looping_text(spark):
    from meteor_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam"), (2, "all words here are unique tokens")],
        ["doc_id", "text"],
    )
    r = {x.doc_id: x for x in repetition_features(df).collect()}
    # doc 1: grams = ['spam spam'] x 4 -> 3/4 duplicated, top covers all
    assert r[1].dup_bigram_frac == 0.75 and r[1].top_bigram_frac == 1.0
    assert r[1].distinct_token_ratio == 0.2
    # doc 2: no repetition at all
    assert r[2].dup_bigram_frac == 0.0 and r[2].distinct_token_ratio == 1.0
