"""Similarity search: brute-force cosine top-k, SRP-LSH ANN."""

from __future__ import annotations

import math

import pytest

from meteor_spark.operators import similarity


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [0.0, 0.9, 0.1, 0.0]),   # close to 2
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(emb):
    q = emb.filter("vec_id = 0")
    out = similarity.brute_force_topk(emb, q, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2]
    expected = 0.9 / math.sqrt(0.9**2 + 0.1**2)
    assert out[0]["cos"] == pytest.approx(round(expected, 4))
    assert out[0]["rank"] == 1


def test_topk_respects_k(emb):
    out = similarity.brute_force_topk(emb, emb, k=2).collect()
    per_query = {}
    for r in out:
        per_query.setdefault(r["query_id"], []).append(r)
    assert all(len(v) == 2 for v in per_query.values())


def test_srp_matches_brute_force_for_identical_vectors(spark):
    # identical vectors always share every SRP bucket -> found at cos 1.0
    rows = [(i, [float(i % 3 == 0), 1.0, float(i % 2)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id = 0")
    out = similarity.srp_topk(emb, q, dim=3, k=3, bits=4).collect()
    assert out, "identical vectors must collide in SRP buckets"
    assert out[0]["cos"] == 1.0


def test_embedding_near_duplicates(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.001, 0.0]),  # near-identical
        (2, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_near_duplicates(emb, threshold=0.99, bits=4, dim=3).collect()
    assert [(p["a"], p["b"]) for p in pairs] == [(0, 1)]


def test_ivf_topk_recall(spark, sf_dir):
    from meteor_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 10")
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(emb, q, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in ivf_topk(emb, q, k=5, n_cells=8, n_probe=4).collect()}
    # every query answered with k candidates
    assert len(approx) == len(exact)
    # multi-probe over half the cells should recover most true neighbors
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall {recall}"


def test_ivf_deterministic(spark, sf_dir):
    from meteor_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 3")
    a = sorted(map(tuple, ivf_topk(emb, q, k=3).collect()))
    b = sorted(map(tuple, ivf_topk(emb, q, k=3).collect()))
    assert a == b


def test_ivf_pivot_topk_recall_and_shape(spark, sf_dir):
    # hash-pivot quantizer: deterministic across runs (no fit), exact
    # k answers per query, decent recall vs brute force at 8 cells / 3 probes
    from meteor_spark.operators.similarity import brute_force_topk, ivf_pivot_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 10")
    got = ivf_pivot_topk(emb, q, k=5, n_cells=8, n_probe=3).collect()
    assert len(got) == 50  # 10 queries x k=5, probed cells always hold >= k
    again = ivf_pivot_topk(emb, q, k=5, n_cells=8, n_probe=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(emb, q, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"recall {recall}"


def test_pq_pivot_topk_recall_and_shape(spark, sf_dir):
    # hash-pivot codebook PQ: deterministic (no training), k answers per
    # query, decent recall after the exact re-rank of 64 ADC candidates
    from meteor_spark.operators.similarity import brute_force_topk, pq_pivot_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 10")
    got = pq_pivot_topk(emb, q, k=5).collect()
    assert len(got) == 50
    again = pq_pivot_topk(emb, q, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(emb, q, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in got}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall {recall}"


def test_pq_topk_recall_and_determinism(spark, sf_dir):
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    bf = {(r["query_id"], r["neighbor_id"]) for r in similarity.brute_force_topk(emb, q, k=5).collect()}
    runs = []
    for _ in range(2):
        runs.append({(r["query_id"], r["neighbor_id"]) for r in similarity.pq_topk(emb, q, k=5).collect()})
    assert runs[0] == runs[1]  # seeded codebooks -> bit-stable output
    assert len(runs[0] & bf) / len(bf) >= 0.9


def test_pq_codes_shape(spark, sf_dir):
    """The index really is m small ints per vector (the 16x compression
    that makes a billion-vector corpus fit in memory)."""
    import numpy as np

    from meteor_spark.operators.similarity import _np_kmeans

    X = np.random.RandomState(0).randn(200, 4)
    C1 = _np_kmeans(X, 8, seed=1)
    C2 = _np_kmeans(X, 8, seed=1)
    assert np.array_equal(C1, C2)
    assert C1.shape == (8, 4)


def test_semantic_assign_nearest_seed_and_tiebreak(spark):
    # seeds = 2 lowest ids: cluster 0 = (1,0,0), cluster 1 = (0,1,0).
    # vec 2 is closer to seed 1; vec 3 is equidistant -> lowest cluster.
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.1, 0.9, 0.0]),
        (3, [1.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["cluster"] for r in similarity.semantic_assign(emb, n_clusters=2).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 0}


def test_semantic_dedup_pairs_and_survivors(spark):
    # seeds = vecs 0/1 (orthogonal); 2 lands in cluster 0, 12 is its copy
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [1.0, 0.001, 0.0]),
        (12, [1.0, 0.001, 0.0]),  # exact copy of 2
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned = similarity.semantic_assign(emb, n_clusters=2).persist()
    pairs = similarity.semantic_dedup_pairs(assigned, threshold=0.99)
    got = {(p["a"], p["b"]): p["cos"] for p in pairs.collect()}
    assert set(got) == {(0, 2), (0, 12), (2, 12)}
    assert got[(2, 12)] == 1.0
    # survivors: min-id representative per match -> 2 and 12 dropped
    kept = sorted(
        r["vec_id"]
        for r in similarity.semantic_dedup_survivors(assigned.select("vec_id", "cluster"), pairs).collect()
    )
    assert kept == [0, 1]


def test_semantic_pairs_never_cross_clusters(spark):
    # near-identical vectors split across clusters are NOT paired: the
    # coarse quantizer bounds candidate generation (SemDeDup's trade)
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.7071, 0.7072, 0.0]),  # nearest seed 1 (by a hair)
        (3, [0.7072, 0.7071, 0.0]),  # nearest seed 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned = similarity.semantic_assign(emb, n_clusters=2).persist()
    pairs = similarity.semantic_dedup_pairs(assigned, threshold=0.99).collect()
    assert [(p["a"], p["b"]) for p in pairs] == []


def test_kmeans_recovers_separated_blobs(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    blobs = []
    for b in range(3):
        center = np.zeros(8)
        center[b] = 10.0
        for i in range(20):
            blobs.append((b * 100 + i, (center + rng.randn(8) * 0.1).tolist(), b))
    df = spark.createDataFrame(blobs, "vec_id long, embedding array<double>, label int")
    from meteor_spark.operators.similarity import kmeans_fit

    assigned, cents = kmeans_fit(df, k=3, iters=4)
    rows = assigned.collect()
    # every true blob lands wholly in one fitted cluster
    by_blob = {}
    for r in rows:
        by_blob.setdefault(r.vec_id // 100, set()).add(r.cluster)
    assert all(len(cs) == 1 for cs in by_blob.values())
    assert len({next(iter(cs)) for cs in by_blob.values()}) == 3
    assert len(cents) == 3 and all(len(c) == 8 for c in cents)


def test_kmeans_is_partitioning_invariant(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(6).tolist(), i % 2) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    from meteor_spark.operators.similarity import kmeans_fit

    a1, c1 = kmeans_fit(df, k=4, iters=3)
    a2, c2 = kmeans_fit(df.repartition(13), k=4, iters=3)
    assert c1 == c2  # rounded centroid round-trip kills summation-order noise
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_kmeans_profile_shape(spark, sf_dir):
    from meteor_spark.io import read_parquet_table
    from meteor_spark.operators.similarity import kmeans_cluster_profile

    emb = read_parquet_table(spark, f"{sf_dir}/embeddings.parquet")
    out = kmeans_cluster_profile(emb, k=4, iters=2).collect()
    assert 0 < len(out) <= 4
    assert sum(r.n_vecs for r in out) == emb.count()
    assert all(0 < r.top_label_share <= 1.0 for r in out)


def test_kcenter_picks_spread_points(spark):
    # three tight clusters + seed-dominating far point: k=3 must take one
    # representative per cluster, never two from the same one
    pts = [
        (0, [10.0, 0.0]), (1, [10.1, 0.0]), (2, [9.9, 0.1]),      # cluster A (far -> seed)
        (10, [0.0, 5.0]), (11, [0.1, 5.0]),                        # cluster B
        (20, [-8.0, -8.0]), (21, [-8.1, -7.9]),                    # cluster C
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    from meteor_spark.operators.similarity import kcenter_select

    sel = kcenter_select(df, k=3).collect()
    assert [r["rank"] for r in sel] == [1, 2, 3]
    chosen = {r["vec_id"] for r in sel}
    clusters = [{0, 1, 2}, {10, 11}, {20, 21}]
    assert all(len(chosen & c) == 1 for c in clusters)
    # seed = max-norm point: cluster C's (-8.1, -7.9), n2 = 128.02
    assert sel[0]["vec_id"] == 21 and sel[0]["dist2"] == 0.0
    # later picks report their distance-to-set at selection time, descending
    assert sel[1]["dist2"] >= sel[2]["dist2"] > 0


def test_kcenter_deterministic_and_k_capped(spark):
    import random

    rng = random.Random(7)
    pts = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    from meteor_spark.operators.similarity import kcenter_select

    a = kcenter_select(df, k=5).collect()
    b = kcenter_select(df.repartition(7), k=5).collect()
    assert [(r["rank"], r["vec_id"], r["dist2"]) for r in a] == [
        (r["rank"], r["vec_id"], r["dist2"]) for r in b
    ]
    # k larger than the table: selection stops at n rows
    tiny = spark.createDataFrame(pts[:3], "vec_id long, embedding array<double>")
    assert kcenter_select(tiny, k=10).count() == 3


def test_label_centroids_and_similarity(spark):
    from meteor_spark.operators.similarity import label_centroid_similarity, label_centroids

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0), (2, [3.0, 0.0], 0),   # label 0 centroid (2, 0)
            (3, [0.0, 2.0], 1), (4, [0.0, 4.0], 1),   # label 1 centroid (0, 3)
            (5, [2.0, 0.0], 2),                        # label 2 centroid (2, 0)
        ],
        "vec_id long, embedding array<double>, label int",
    )
    cents = {r["label"]: r for r in label_centroids(df).collect()}
    assert cents[0]["centroid"] == [2.0, 0.0] and cents[0]["n_vecs"] == 2
    assert cents[1]["centroid"] == [0.0, 3.0]
    sims = {
        (r["label_a"], r["label_b"]): r["cos"]
        for r in label_centroid_similarity(df).collect()
    }
    assert sims[(0, 2)] == 1.0    # same direction
    assert sims[(0, 1)] == 0.0    # orthogonal
    assert sims[(1, 2)] == 0.0


def test_ann_recall_report_bounds_and_identical_vector_floor(spark):
    """On a corpus where every query has an identical twin, SRP recall@k
    is bounded below by the twin hit (identical vectors share every
    bucket) and recall values stay in [0, 1]."""
    import sys

    sys.path.insert(0, "/root/repo")
    from meteor_spark.queries import QUERIES

    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    import random

    rng = random.Random(3)
    for i in range(40):
        v = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((i, v, 0))
        rows.append((100 + i, list(v), 0))  # identical twin
    with tempfile.TemporaryDirectory() as d:
        t = pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        )
        pq.write_table(t, os.path.join(d, "embeddings.parquet"))
        out = QUERIES["ann_recall_report"](spark, d).collect()
    assert len(out) == 5
    for r in out:
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_exact"] == 5
        # the identical twin is always retrievable through its shared bucket
        assert r["n_hit"] >= 1


def test_dim_truncation_recall_full_width_is_perfect(emb):
    q = emb.filter("vec_id < 2")
    out = {
        r["trunc_dim"]: r
        for r in similarity.dim_truncation_recall(emb, q, dims=(1, 2, 4), k=2).collect()
    }
    # truncating to the full width reproduces ground truth exactly
    assert out[4]["recall_ppm"] == 1_000_000
    assert out[4]["n_pairs"] == 4 and out[4]["n_hits"] == 4
    # every width reports the same pair denominator (n_queries * k)
    assert all(r["n_pairs"] == 4 for r in out.values())
    # 1-dim prefix collapses vec 2/3 onto 0 -> recall can only drop
    assert out[1]["n_hits"] <= out[2]["n_hits"] <= out[4]["n_hits"]


def test_dim_truncation_recall_detects_late_dim_signal(spark):
    # the distinguishing signal lives in dim 3: 1-dim truncation must
    # miss it, full width must find it
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.9, 0.0]),
        (2, [1.0, 0.0, -0.9, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id = 1")
    out = {
        r["trunc_dim"]: r
        for r in similarity.dim_truncation_recall(emb, q, dims=(1, 4), k=1).collect()
    }
    assert out[4]["n_hits"] == 1  # full width: 0 is the true neighbor? (0 vs 2)
    # 1-dim prefix sees all three as identical -> tie broken by id, still
    # deterministic; recall is whatever the tie gives but bounded by full
    assert out[1]["n_hits"] <= out[4]["n_hits"]


def test_dimension_profile_hand_checked(spark):
    df = spark.createDataFrame(
        [(0, [1.0, -0.5]), (1, [0.25, 2.0]), (2, [0.0, -1.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["dim"]: r for r in similarity.dimension_profile(df).collect()}
    assert set(rows) == {0, 1}
    d0 = rows[0]
    assert d0["n"] == 3
    assert d0["sum_micro"] == 1_000_000 + 250_000 + 0
    assert d0["sum_sq_milli"] == 1000**2 + 250**2 + 0
    assert d0["min_val"] == 0.0 and d0["max_val"] == 1.0
    d1 = rows[1]
    assert d1["sum_micro"] == -500_000 + 2_000_000 - 1_000_000
    assert d1["sum_sq_milli"] == 500**2 + 2000**2 + 1000**2
    assert d1["min_val"] == -1.0 and d1["max_val"] == 2.0


def test_power_iteration_pc1_matches_numpy_on_same_grid(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    # anisotropic cloud: dominant direction ~ (3, 1, 0.2, 0)-ish
    basis = np.array([3.0, 1.0, 0.2, 0.0])
    X = np.outer(rng.normal(size=400), basis) + 0.1 * rng.normal(size=(400, 4))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )
    got = {r["dim"]: r["pc1_fixed"] for r in similarity.power_iteration_pc1(df).collect()}
    v = np.array([got[d] for d in range(4)], dtype=float)
    # numpy eigenvector of the SAME quantized second moment
    Xq = np.floor(X.astype(np.float32).astype(np.float64) * 100 + 0.5)
    w, vecs = np.linalg.eigh(Xq.T @ Xq)
    top = vecs[:, -1]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.9999, cos
    # published scale and sign conventions
    assert max(abs(x) for x in v) == 10_000
    lead = max(range(4), key=lambda d: (abs(v[d]), -d))
    assert v[lead] > 0


def test_power_iteration_pc1_empty_and_degenerate(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.power_iteration_pc1(empty).count() == 0
    zeros = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    rows = similarity.power_iteration_pc1(zeros).collect()
    assert sorted(r["pc1_fixed"] for r in rows) == [0, 0]


def test_power_iteration_pc1_ignores_null_vectors(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [2.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["dim"]: r["pc1_fixed"] for r in similarity.power_iteration_pc1(df).collect()}
    assert rows == {0: 10_000, 1: 0}


def test_hard_negative_topk_excludes_same_label(spark):
    from meteor_spark.operators.similarity import hard_negative_topk

    rows = [
        (0, [1.0, 0.0], 1),
        (1, [0.99, 0.1], 1),   # most similar to 0 but SAME label
        (2, [0.9, 0.3], 2),
        (3, [0.0, 1.0], 2),
        (4, [0.8, 0.4], 3),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = hard_negative_topk(df, df.filter("vec_id = 0"), k=2).collect()
    ids = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ids == [2, 4]  # 1 excluded despite highest cosine
    assert all(r["neighbor_label"] != r["query_label"] for r in out)


def test_margin_bitext_mine_shape(spark):
    from meteor_spark.operators.similarity import margin_bitext_mine

    a_rows = [(i, [1.0, float(i) / 10]) for i in range(6)]
    b_rows = [(100 + i, [1.0, float(i) / 10 + 0.05]) for i in range(6)]
    a = spark.createDataFrame(a_rows, "vec_id long, embedding array<double>")
    b = spark.createDataFrame(b_rows, "vec_id long, embedding array<double>")
    out = margin_bitext_mine(a, b, a.filter("vec_id < 3"), k=2).collect()
    # one best target per query, margins are positive integers (ppm)
    assert len(out) == 3
    assert len({r["src_id"] for r in out}) == 3
    assert all(r["margin_ppm"] > 0 for r in out)
    assert all(r["cos_e4"] >= 0 for r in out)


def test_semantic_survivors_scalable_equals_pair_antijoin(spark, sf_dir):
    """The pair-free prefix-max formulation must reproduce the
    pair-join anti-join survivor set bit-for-bit (it shares that
    gate's oracle), including the two-zone boundary discipline."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned = similarity.semantic_assign(emb, n_clusters=8).persist()
    pairs = similarity.semantic_dedup_pairs(assigned, threshold=0.35)
    old = {
        (r["vec_id"], r["cluster"])
        for r in similarity.semantic_dedup_survivors(
            assigned.select("vec_id", "cluster"), pairs
        ).collect()
    }
    new = {
        (r["vec_id"], r["cluster"])
        for r in similarity.semantic_dedup_survivors_scalable(
            assigned, threshold=0.35
        ).collect()
    }
    assert new == old
    assigned.unpersist()


def test_lit_array_sql_rendering_bit_identical(spark):
    """lit_double_array / lit_long_array render the literal vector as ONE
    SQL string (round-12 driver-construction optimization); the parsed
    tree must be the same CreateArray-of-Literals — pinned here as
    bit-level equality against the element-wise F.lit form over
    adversarial doubles (denormal, -0.0, exponent forms, round-trip
    torture values) and as a ValueError on non-finite input."""
    import struct as st

    from pyspark.sql import functions as F

    vals = [0.1, -0.0, 1e-07, 1e22, math.pi, 5e-324, -123456.789012, 2.0,
            0.1 + 0.2, 1.0 / 3.0]
    row = spark.range(1).select(
        similarity.lit_double_array(vals).alias("a"),
        F.array(*[F.lit(x) for x in vals]).alias("b"),
        similarity.lit_long_array([0, -7, 10**12, 65535]).alias("l"),
    ).first()
    assert [st.pack("d", x) for x in row["a"]] == [st.pack("d", x) for x in row["b"]]
    assert row["l"] == [0, -7, 10**12, 65535]
    with pytest.raises(ValueError):
        similarity.lit_double_array([float("nan")])
    with pytest.raises(ValueError):
        similarity.lit_double_array([float("inf")])
