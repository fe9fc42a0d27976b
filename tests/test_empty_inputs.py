"""Empty-input robustness: a pipeline stage upstream may filter
everything out; operators must return empty frames, not throw
(division-by-zero, empty sequence/slice, empty collect edge cases)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string"
    )


@pytest.fixture()
def empty_vecs(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<double>, label int")


def test_text_family_on_empty(empty_docs):
    from meteor_spark.operators import text

    assert text.analyze(empty_docs).count() == 0
    assert text.corpus_top_ngrams(empty_docs).count() == 0
    assert text.source_overlap_matrix(empty_docs).count() == 0
    assert text.tfidf_corpus_terms(empty_docs).count() == 0


def test_dedup_family_on_empty(empty_docs):
    from meteor_spark.operators import dedup

    assert dedup.dedup_exact(empty_docs).count() == 0
    assert dedup.passage_dedup(empty_docs).count() == 0
    assert dedup.minhash_near_duplicates(empty_docs).count() == 0
    assert dedup.prefix_filter_jaccard_pairs(empty_docs).count() == 0


def test_sampling_retrieval_on_empty(empty_docs):
    from meteor_spark.operators.retrieval import bm25_topk
    from meteor_spark.operators.sampling import (
        dsir_log_weights,
        source_mix_weights,
        training_order_interleave,
    )

    assert bm25_topk(empty_docs, ("spark",)).count() == 0
    assert dsir_log_weights(empty_docs, F.col("lang") == "en").count() == 0
    assert source_mix_weights(empty_docs).count() == 0
    assert training_order_interleave(empty_docs).count() == 0


def test_bpe_on_empty(empty_docs):
    from meteor_spark.operators.bpe import encode_token_counts, train_bpe

    rules, wt = train_bpe(empty_docs, n_merges=3)
    assert rules == [] and wt == []
    assert encode_token_counts(empty_docs, rules).count() == 0


def test_sketches_graph_on_empty(spark):
    from meteor_spark.operators.graph import pagerank
    from meteor_spark.operators.sketches import merge_quantile_bins, quantile_bin_partials

    empty_ev = spark.createDataFrame([], "k int, v double")
    p = quantile_bin_partials(empty_ev, ["k"], "v", 0.0, 1.0)
    assert merge_quantile_bins(p, ["k"], 0.0, 1.0).count() == 0
    empty_edges = spark.createDataFrame([], "src string, dst string, w double")
    assert pagerank(empty_edges).count() == 0


def test_round3c_ops_on_empty(spark, empty_docs):
    from meteor_spark.operators.dedup import containment_pairs
    from meteor_spark.operators.multimodal import attach_binary, frame_energies, silence_segments
    from meteor_spark.operators.packing import next_fit_bins
    from meteor_spark.operators.retrieval import rrf_fuse
    from meteor_spark.operators.sampling import holdout_split
    from meteor_spark.operators.sketches import count_min_estimate, count_min_partials

    assert containment_pairs(empty_docs).count() == 0

    en = frame_energies(attach_binary(empty_docs))
    assert en.count() == 0
    assert silence_segments(en, threshold=100.0).count() == 0

    tk = empty_docs.select("doc_id", "source", F.lit(0).cast("long").alias("n_tokens"))
    assert next_fit_bins(tk.filter("1=0"), "n_tokens").count() == 0

    empty_rank = spark.createDataFrame([], "doc_id long, rank int")
    assert rrf_fuse([empty_rank, empty_rank]).count() == 0

    assert holdout_split(empty_docs, "doc_id").count() == 0

    empty_items = spark.createDataFrame([], "item string")
    partials = count_min_partials(empty_items.withColumn("g", F.lit(1)), ["g"], "item")
    assert partials.count() == 0
    assert count_min_estimate(partials, empty_items, "item").count() == 0


def test_wave4_on_empty(spark, empty_docs, empty_vecs):
    from meteor_spark.operators.packing import truncation_budget_curve
    from meteor_spark.operators.similarity import kcenter_select
    from meteor_spark.operators.sketches import heavy_hitters_exact
    from meteor_spark.operators.text import char_entropy_profile

    assert char_entropy_profile(empty_docs).count() == 0
    assert kcenter_select(empty_vecs, k=4).count() == 0
    empty_keys = spark.createDataFrame([], "word string")
    assert heavy_hitters_exact(empty_keys, "word", 10).count() == 0
    # empty corpus: every candidate length row still appears, zero drops
    empty_tok = spark.createDataFrame([], "n_tokens long")
    rows = truncation_budget_curve(empty_tok, "n_tokens", candidate_lens=(8, 16)).collect()
    assert rows == []  # constant explode over zero rows -> zero rows


def test_wave5_on_empty(spark, empty_docs):
    from meteor_spark.operators.graph import triangle_counts
    from meteor_spark.operators.text import lexical_kl_by_group, pmi_ngrams

    assert lexical_kl_by_group(empty_docs).count() == 0
    assert pmi_ngrams(empty_docs).count() == 0
    empty_edges = spark.createDataFrame([], "src int, dst int")
    assert triangle_counts(empty_edges).count() == 0


def test_wave6_on_empty(spark, empty_docs):
    from meteor_spark.operators.text import (
        doc_novelty_scores,
        source_diversity_metrics,
        zipf_fit,
    )
    from meteor_spark.operators.usage import event_transition_matrix

    assert doc_novelty_scores(empty_docs).count() == 0
    assert source_diversity_metrics(empty_docs).count() == 0
    # zipf over empty corpus: the OLS aggregate runs over zero rows ->
    # one row of nulls is acceptable, but it must not throw
    assert zipf_fit(empty_docs).count() in (0, 1)
    empty_ev = spark.createDataFrame([], "event_id long, user_id long, event_type string")
    assert event_transition_matrix(empty_ev, order_cols=("event_id",)).count() == 0


def test_wave7_on_empty(spark, empty_docs):
    from meteor_spark.operators.dedup import sorted_neighborhood_pairs
    from meteor_spark.operators.profile import weighted_median

    assert sorted_neighborhood_pairs(empty_docs).count() == 0
    empty_vals = spark.createDataFrame([], "k string, v double, w double")
    assert weighted_median(empty_vals, "v", "w", ["k"]).count() == 0


def test_wave8_on_empty(spark, empty_vecs):
    from meteor_spark.operators.drift import seasonality_residuals
    from meteor_spark.operators.similarity import label_centroid_similarity

    empty_ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    assert seasonality_residuals(empty_ev).count() == 0
    assert label_centroid_similarity(empty_vecs).count() == 0


def test_dependency_ops_on_empty(spark):
    from meteor_spark.operators.profile import functional_dependencies, inclusion_dependency

    empty = spark.createDataFrame([], "a int, b int")
    fds = functional_dependencies(empty, ["a", "b"]).collect()
    # zero rows: every FD vacuously holds with 0 == 0
    assert all(r["holds"] for r in fds) and len(fds) == 2
    row = inclusion_dependency(empty, "a", empty, "b").collect()[0]
    assert row["n_child_values"] == 0 and row["violations"] == 0 and row["holds"]


def test_wave9_on_empty(spark, empty_docs):
    from meteor_spark.operators.dedup import hot_passage_scrub
    from meteor_spark.operators.drift import hourly_autocorrelation
    from meteor_spark.operators.lineage import transitive_upstreams
    from meteor_spark.operators.multimodal import image_ahash
    from meteor_spark.operators.text import token_gini_by_group
    from meteor_spark.operators.usage import activity_gini

    assert hot_passage_scrub(empty_docs).count() == 0
    empty_ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    assert hourly_autocorrelation(empty_ev).count() == 0
    empty_edges = spark.createDataFrame([], "src_urn string, dst_urn string")
    assert transitive_upstreams(empty_edges).count() == 0
    empty_media = spark.createDataFrame([], "media_id long, content binary")
    assert image_ahash(empty_media).count() == 0
    assert token_gini_by_group(empty_docs).count() == 0
    # one-row global summary over zero users: must not throw; zero or a
    # single all-zero/null row are both acceptable empty renderings
    g = activity_gini(empty_ev).collect()
    assert len(g) in (0, 1)


def test_compaction_on_seed_only_store(spark, sf_dir, tmp_path):
    # a store with only the corpus seed (no appends, no duplicates):
    # compaction must be a pure relayout — zero rows dropped
    from meteor_spark.streaming.pipeline import compact_neardup_store, write_neardup_store

    from meteor_spark.operators.dedup import shingle_frame
    from meteor_spark.queries import _t
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 50)
    store = str(tmp_path / "store")
    write_neardup_store(
        shingle_frame(corpus, "text", "doc_id", 3), store, seed=True,
        id_col="doc_id", num_hashes=12, bands=4,
    )
    rep = compact_neardup_store(spark, store)
    assert rep["bands"]["rows"][0] == rep["bands"]["rows"][1] == 200
    assert rep["shingles"]["rows"][0] == rep["shingles"]["rows"][1] == 50


def test_round5_wave_on_empty(spark, empty_vecs):
    from meteor_spark.operators.cluster import best_survivors_from_labels
    from meteor_spark.operators.packing import padding_waste_by_bucket
    from meteor_spark.operators.similarity import dim_truncation_recall

    empty_tok = spark.createDataFrame([], "n_tokens long")
    assert padding_waste_by_bucket(empty_tok, "n_tokens").count() == 0
    # zero queries and zero corpus: no pairs, no rows, no throw
    assert dim_truncation_recall(empty_vecs, empty_vecs, dims=(2, 4), k=3).count() == 0
    # empty labels: every doc survives untouched
    docs = spark.createDataFrame([(1, 5), (2, 6)], "doc_id long, n_chars long")
    empty_labels = spark.createDataFrame([], "node long, cluster_id long")
    out = sorted(
        r["doc_id"]
        for r in best_survivors_from_labels(docs, empty_labels, "n_chars").collect()
    )
    assert out == [1, 2]
    # empty corpus + real labels: nothing to keep, nothing to throw
    labels = spark.createDataFrame([(1, 1), (2, 1)], "node long, cluster_id long")
    empty_scored = spark.createDataFrame([], "doc_id long, n_chars long")
    assert best_survivors_from_labels(empty_scored, labels, "n_chars").count() == 0


def test_round6_wave_on_empty(spark, empty_docs, empty_vecs):
    from meteor_spark.operators import similarity, sketches
    from meteor_spark.operators.cluster import cluster_aware_split
    from meteor_spark.operators.profile import mad_outlier_report

    empty_labels = spark.createDataFrame([], "node long, cluster_id long")
    out = cluster_aware_split(empty_docs, empty_labels)
    assert out.count() == 0 and "split" in out.columns
    # empty labels on a real frame: everyone is their own representative
    docs = spark.createDataFrame([(1, "a", "en", "s")], empty_docs.schema)
    row = cluster_aware_split(docs, empty_labels).collect()[0]
    assert row["group_rep"] == 1 and row["split"] in ("train", "val", "test")

    assert similarity.dimension_profile(empty_vecs).count() == 0

    empty_ev = spark.createDataFrame([], "k string, v double")
    assert mad_outlier_report(empty_ev, "k", "v").count() == 0

    empty_p = spark.createDataFrame(
        [], "k string, hr long, reg long, rho int, n_rows long"
    )
    assert sketches.sliding_hll64(empty_p, ["k"], "hr", window=3).count() == 0


def test_round6_wave2_on_empty(spark, empty_docs, empty_vecs):
    from meteor_spark.operators.sampling import token_budget_allocation
    from meteor_spark.operators.similarity import power_iteration_pc1

    assert token_budget_allocation(empty_docs).count() == 0
    assert power_iteration_pc1(empty_vecs).count() == 0
