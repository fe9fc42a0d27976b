"""Connected-components clustering over near-dup pairs."""

from pyspark.sql import functions as F

from meteor_spark.operators.cluster import connected_components, survivors_from_labels


def test_chain_collapses_to_one_cluster(spark):
    # a-b, b-c, c-d: a 3-edge chain must become ONE cluster labeled 1
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["a", "b"])
    cc = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1}


def test_separate_components_keep_separate_labels(spark):
    pairs = spark.createDataFrame([(1, 2), (10, 11), (11, 12)], ["a", "b"])
    cc = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}


def test_edge_order_irrelevant(spark):
    # same component regardless of src/dst orientation
    pairs = spark.createDataFrame([(5, 2), (2, 9)], ["a", "b"])
    cc = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert cc == {2: 2, 5: 2, 9: 2}


def test_cluster_survivors_keeps_min_and_singletons(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(1, 7)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["a", "b"])
    labels = connected_components(pairs)
    kept = sorted(r.doc_id for r in survivors_from_labels(docs, labels, "doc_id").select("doc_id").collect())
    # cluster {1,2,3} -> keep 1; singleton 4 kept; cluster {5,6} -> keep 5
    assert kept == [1, 4, 5]


def test_connected_components_string_ids(spark):
    # regression: the old sum-of-labels convergence witness was NULL for
    # string ids, exiting after one round and silently splitting chains
    from meteor_spark.operators.cluster import connected_components

    chain = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"), ("f", "g")]
    out = {
        r["node"]: r["cluster_id"]
        for r in connected_components(
            spark.createDataFrame(chain, "a string, b string")
        ).collect()
    }
    assert set(out.values()) == {"a"}  # one component, min-id representative


def test_best_survivors_prefer_high_score_then_low_id(spark):
    from meteor_spark.operators.cluster import (
        best_survivors_from_labels,
        connected_components,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (4, 5), (9, 1)],
        "doc_id long, n_chars long",
    )
    # cluster {1,2,3}: best score 99 held by 2 and 3 -> tie to id 2
    # cluster {4,9}: 4 wins on score despite 9 being... (9 scores 1)
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 9)], "a long, b long")
    labels = connected_components(pairs)
    out = sorted(
        r["doc_id"]
        for r in best_survivors_from_labels(docs, labels, "n_chars").collect()
    )
    assert out == [2, 4]


def test_best_survivors_keep_unclustered_rows(spark):
    from meteor_spark.operators.cluster import (
        best_survivors_from_labels,
        connected_components,
    )

    docs = spark.createDataFrame(
        [(1, 1), (2, 2), (7, 0)], "doc_id long, n_chars long"
    )
    labels = connected_components(
        spark.createDataFrame([(1, 2)], "a long, b long")
    )
    out = sorted(
        r["doc_id"]
        for r in best_survivors_from_labels(docs, labels, "n_chars").collect()
    )
    assert out == [2, 7]  # 7 untouched by any edge survives untouched


def test_cluster_aware_split_keeps_clusters_together(spark):
    from meteor_spark.operators.cluster import cluster_aware_split
    from meteor_spark.operators.sampling import hash_bucket

    docs = spark.range(100).select(F.col("id").alias("doc_id"))
    # two clusters: {1,2,3} rep 1 and {50,51} rep 50; rest unclustered
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (50, 50), (51, 50)], ["node", "cluster_id"]
    )
    out = cluster_aware_split(docs, labels).persist()
    rows = {r["doc_id"]: (r["group_rep"], r["split"]) for r in out.collect()}
    # every cluster member shares its representative's split
    assert rows[1] == rows[2] == rows[3]
    assert rows[50] == rows[51]
    assert rows[1][0] == 1 and rows[50][0] == 50
    # unclustered docs hash their own id — identical to holdout_split
    b = docs.select(hash_bucket(F.col("doc_id")).alias("b"), "doc_id").collect()
    for r in b:
        if r["doc_id"] in (1, 2, 3, 50, 51):
            continue
        want = "train" if r["b"] < 9000 else ("val" if r["b"] < 9500 else "test")
        assert rows[r["doc_id"]][1] == want, r["doc_id"]
    # no cluster spans splits (the property the op exists for)
    leak = (
        out.groupBy("group_rep")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert leak == 0
    out.unpersist()


def test_cluster_aware_split_rates_respected_roughly(spark):
    from meteor_spark.operators.cluster import cluster_aware_split

    docs = spark.range(10_000).select(F.col("id").alias("doc_id"))
    labels = spark.createDataFrame([(0, 0)], ["node", "cluster_id"])
    got = {
        r["split"]: r["n"]
        for r in cluster_aware_split(docs, labels)
        .groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert got["train"] > 8500 and got["val"] > 200 and got["test"] > 200
    assert sum(got.values()) == 10_000
