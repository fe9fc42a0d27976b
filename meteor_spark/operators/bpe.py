"""BPE tokenizer training + encoding over the corpus.

Beyond-reference operator (BASELINE.json north star): the tokenizer is
part of the training-data pipeline — vocab induction runs ON the corpus
and the encode step runs over every document.

Split of labor mirrors production BPE trainers (HuggingFace tokenizers
does exactly this):

- `word_type_counts`: the ONLY corpus-scale pass — one map-side-combined
  groupBy collapsing the corpus to its distinct word types with counts.
  100 TB of text reduces to a vocabulary-sized table (<= ~1e8 rows on a
  web corpus; a `min_count` floor trims the long tail far below that).
- `train_bpe`: the merge loop runs on that word-TYPE table, weighted by
  counts — pair statistics over word types are exactly pair statistics
  over the corpus. The table is collected driver-side (bounded by
  `max_word_types`, deterministic trim order — the same bounded-collect
  contract as similarity._np_kmeans' PQ codebooks). Ties break
  (count desc, pair lexicographic), so the merge sequence is fully
  deterministic across runs and partitionings.
- `encode_token_counts`: applying trained merges needs per-word
  sequential rewriting — Python, but only over DISTINCT word types
  (Arrow-batched pandas UDF, the sanctioned shape); the corpus-sized
  step is a pure broadcast join of words -> subword counts. No
  row-at-a-time UDF ever touches corpus rows.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meteor_spark.operators.text import normalize_text, words


def word_type_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) over the normalized corpus — the corpus-scale reduction
    every other BPE step runs on."""
    return (
        df.select(F.explode(words(normalize_text(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _merge_word(toks: tuple, a: str, b: str) -> tuple:
    """Greedy left-to-right single-merge application (standard BPE)."""
    out = []
    i = 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return tuple(out)


def train_bpe(
    df: DataFrame,
    n_merges: int = 20,
    min_count: int = 1,
    max_word_types: int = 1_000_000,
    text_col: str = "text",
):
    """Train `n_merges` BPE merge rules on the corpus.

    Returns (rules, vocab_rows):
    rules = [(step, left, right, merged, pair_count), ...]
    vocab_rows = collected (word, n) list the loop ran on.

    The driver-side table is bounded: word types below `min_count` are
    dropped and the rest kept in (count desc, word) order up to
    `max_word_types` — a deterministic trim, so two runs always train on
    the identical table.
    """
    wt = (
        word_type_counts(df, text_col=text_col)
        .filter(F.col("n") >= min_count)
        .orderBy(F.col("n").desc(), "word")
        .limit(max_word_types)
        .collect()
    )
    vocab = {tuple(r["word"]): r["n"] for r in wt}
    rules = []
    for step in range(n_merges):
        pairs: dict[tuple, int] = {}
        for toks, n in vocab.items():
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                pairs[p] = pairs.get(p, 0) + n
        if not pairs:
            break
        # deterministic argmax: count desc, then pair lexicographic
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((step, a, b, a + b, cnt))
        vocab = {
            _merge_word(toks, a, b): n for toks, n in vocab.items()
        }
    return rules, wt


def encode_word(word: str, ranks: dict) -> list:
    """Tokenize one word with trained merges (priority = merge order)."""
    toks = list(word)
    while len(toks) > 1:
        best, best_rank = None, None
        for i in range(len(toks) - 1):
            r = ranks.get((toks[i], toks[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        toks[best : best + 2] = [toks[best] + toks[best + 1]]
    return toks


def word_subword_counts(df: DataFrame, rules: list, text_col: str = "text") -> DataFrame:
    """(word, n_sub) over the corpus's DISTINCT word types — the one
    Python (Arrow-batched) stage of encoding; it depends only on
    (corpus, rules)."""
    ranks = {(r[1], r[2]): r[0] for r in rules}

    @F.pandas_udf("int")
    def n_subwords(ws: pd.Series) -> pd.Series:
        return ws.map(lambda w: len(encode_word(w, ranks)))

    return (
        df.select(F.explode(words(normalize_text(F.col(text_col)))).alias("word"))
        .distinct()
        .select("word", n_subwords(F.col("word")).alias("n_sub"))
    )


def encode_token_counts(
    df: DataFrame,
    rules: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document subword token counts under a trained merge table:
    (id, n_words, n_subwords). Python touches only DISTINCT word types
    (Arrow-batched); the corpus-sized step is a broadcast join."""
    word_tok = word_subword_counts(df, rules, text_col=text_col)
    tok = df.select(
        F.col(id_col), F.explode(words(normalize_text(F.col(text_col)))).alias("word")
    )
    return (
        tok.join(F.broadcast(word_tok), "word")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subwords"),
        )
    )


def merge_rules_frame(spark, rules) -> DataFrame:
    """Trained merge table as a DataFrame (step, left, right, merged,
    pair_count) — persistable, joinable, and the gate's output shape."""
    return spark.createDataFrame(
        [(int(s), a, b, m, int(c)) for s, a, b, m, c in rules],
        "step int, left string, right string, merged string, pair_count long",
    )
