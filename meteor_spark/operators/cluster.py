"""Duplicate clustering: connected components over near-dup pairs.

Beyond-reference operator (BASELINE.json north star). LSH/minhash emits
PAIRS; a training-data dedup pipeline needs CLUSTERS — the transitive
closure of "is a near-dup of" — so that exactly one representative per
cluster survives (pairs alone would drop both ends of a chain a-b, b-c
inconsistently).

Algorithm: iterative min-label propagation on DataFrames.
  label(v) <- min(label(v), min over neighbors u of label(u))
until fixpoint. The fixpoint is unique (every node ends with the min
node id of its component), so results are deterministic and the DuckDB
oracle can reproduce them with a recursive-CTE transitive closure.

Scale design (100 TB corpus, ~billions of near-dup edges):
- edges are symmetrized once and persisted; every round is one
  shuffle-join on the current labels plus a map-side-combined min-agg —
  no driver-side graph state, no collect.
- each round combines neighbor-min propagation with POINTER JUMPING
  (label(v) <- label(label(v)), the star-contraction trick of
  Kiveris et al. "Connected Components in MapReduce and Beyond"): path
  lengths halve per round, so rounds needed = O(log diameter), not
  O(diameter). Near-dup clusters are usually dense (diameter 2-3) but
  boilerplate/template chains can be arbitrarily long — at 100 TB the
  log bound is the difference between 8 shuffles and 100.
- the loop exits as soon as a round changes nothing, and `max_iter`
  caps pathological inputs.
- localCheckpoint truncates the lineage each round so the plan doesn't
  grow with iterations (classic iterative-algorithm failure mode).
- hot labels (a mega-cluster's min id) are aggregation KEYS, not join
  keys, so skew lands in the min-agg where map-side combine absorbs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meteor_spark.io import persist


def connected_components(
    pairs: DataFrame, src: str = "a", dst: str = "b", max_iter: int = 25
) -> DataFrame:
    """Resolve undirected edges (src, dst) into (node, cluster_id).

    cluster_id is the minimum node id in the component — deterministic,
    engine-independent. Only nodes that appear in at least one edge are
    returned (singletons carry no dedup decision).
    """
    edges = persist(
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(pairs.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
    )
    # round 1 fused into initialization: label(v) = min(v, min neighbors)
    # is one aggregation over the symmetric edge list — no join needed
    labels = (
        edges.groupBy("s")
        .agg(F.least(F.first("s"), F.min("d")).alias("label"))
        .select(F.col("s").alias("node"), "label")
        .localCheckpoint(eager=False)  # materialized by the sum() below
    )
    # convergence witness: the EXACT count of labels that changed this
    # round, carried through the round's own projections so the one
    # materializing action per round also tests convergence. (An earlier
    # sum-of-labels witness was numeric-only: F.sum over STRING node ids
    # is NULL, NULL == NULL exited after one round, and components
    # silently split. Equality on the carried old label is type-agnostic
    # and exact — no checksum collision risk.)
    labels = labels.localCheckpoint(eager=False)

    for _ in range(max_iter):
        # min label among neighbors, one shuffle on node ids
        nbr = (
            edges.join(labels.withColumnRenamed("node", "d2"), edges.d == F.col("d2"))
            .groupBy("s")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(nbr.withColumnRenamed("s", "node"), "node", "left").select(
            "node",
            F.col("label").alias("__old"),
            F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
        )
        # pointer jumping: chase one indirection (label's own label) in the
        # same round. Labels are node ids, so this is a self-join of the
        # label table; combined with propagation it halves remaining path
        # length every round -> O(log diameter) rounds total.
        hop = propagated.select(F.col("node").alias("pj_n"), F.col("label").alias("pj_l"))
        labels = (
            propagated.join(hop, propagated.label == F.col("pj_n"), "left")
            .select(
                "node",
                "__old",
                F.least("label", F.coalesce("pj_l", "label")).alias("label"),
            )
            .localCheckpoint(eager=False)  # one job per round: the changed-count
            # action both materializes the checkpoint and tests convergence
        )
        changed = labels.agg(
            F.sum(F.when(F.col("label") != F.col("__old"), 1).otherwise(0))
        ).first()[0]
        labels = labels.select("node", "label")
        if not changed:
            break

    edges.unpersist()
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def survivors_from_labels(df: DataFrame, labels: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per near-dup cluster, given the
    (node, cluster_id) labels of connected_components: every row not in
    a cluster survives, plus each cluster's min-id member. Taking labels
    lets one CC materialization serve both the cluster report and the
    dedup pass. The anti-join key set (clustered non-representatives)
    is tiny relative to the corpus, so AQE broadcasts it."""
    losers = labels.filter(F.col("cluster_id") != F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def best_survivors_from_labels(
    df: DataFrame,
    labels: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware survivor selection: per near-dup cluster keep the
    HIGHEST-scoring member (ties to the lowest id) instead of the
    min-id one — the production policy when near-dups differ in quality
    (keep the longest / best-scored page, drop its truncated mirrors).

    Scale shape: the ranking window runs over the LABELS table only
    (clustered docs << corpus), joined to just the (id, score) columns;
    the corpus-sized step stays the same left_anti join against the
    loser id set that min-id selection uses. No corpus-wide window, no
    corpus shuffle.
    """
    # labels are usually tiny relative to the corpus, but a dup-heavy
    # crawl can make them corpus-sized — leave broadcasting to AQE's
    # runtime size check (the same discipline as the min-id path's
    # anti-join) instead of an unconditional hint that would OOM there
    scored = labels.join(
        df.select(F.col(id_col).alias("node"), F.col(score_col).alias("_score")),
        "node",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_score").desc(), F.col("node")
    )
    losers = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") > 1)
        .select(F.col("node").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def cluster_aware_split(
    df: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    splits: dict[str, float] | None = None,
) -> DataFrame:
    """Leakage-free holdout: assign train/val/test by hashing the
    near-dup CLUSTER representative, not the document id, so an entire
    near-dup cluster lands in one split by construction. Hashing doc
    ids (sampling.holdout_split) is right for i.i.d. corpora, but with
    near-duplicates it leaks: a train doc's 95%-identical twin in val
    inflates eval scores exactly like benchmark contamination
    (split_leakage_report MEASURES that leakage; this op removes it).

    Unclustered docs are their own representative. The join against the
    labels frame is small-side (clustered docs << corpus after LSH),
    so AQE broadcasts it; the split label stays a pure per-row md5
    expression — deterministic across runs, engines, and corpus growth,
    exactly reproducible in SQL for the oracle.
    """
    from meteor_spark.operators.sampling import bucket_threshold, hash_bucket

    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    rep = labels.select(
        F.col("node").alias(id_col), F.col("cluster_id").alias("__rep")
    )
    # explicit broadcast: the labels frame is localCheckpointed CC
    # output whose size statistics are opaque to the pre-AQE planner —
    # without the hint the initial plan sort-merge-joins the corpus
    out = df.join(F.broadcast(rep), id_col, "left").withColumn(
        "group_rep", F.coalesce(F.col("__rep"), F.col(id_col))
    ).drop("__rep")
    bucket = hash_bucket(F.col("group_rep"))
    label = F.lit(None).cast("string")
    lo = 0
    cases = []
    for name, rate in splits.items():
        hi = lo + bucket_threshold(rate)
        cases.append((name, lo, hi))
        lo = hi
    for name, lo_b, hi_b in reversed(cases):
        label = F.when((bucket >= lo_b) & (bucket < hi_b), F.lit(name)).otherwise(label)
    return out.withColumn("split", label)
