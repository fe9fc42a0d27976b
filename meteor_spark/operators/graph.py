"""Graph analytics over catalog/workload graphs: weighted PageRank.

Beyond-reference operator: the reference mines join pairs from query
logs (plugins/extractors/bigquery/auditlog/stats.go — tables that
co-occur in joins) but only counts them. Ranking assets by centrality
in that co-usage graph is the standard "popularity" signal a data
catalog layers on top (dataset search ranking); PageRank over the
mined join graph computes it engine-side.

Scale design: the classic edge-join formulation — each iteration is
one join of the edge frame against the current rank vector plus one
map-side-combined aggregate (shuffle keyed by node id, uniform unless
the graph itself is a star — which is the signal). The normalized edge
frame is built once and persisted; per-iteration lineage is truncated
with localCheckpoint (the cluster.py label-propagation pattern) so the
plan never grows with the iteration count. Ranks are ROUNDED each
iteration, so results are reproducible across partitionings and
engines — which is what lets a fixed-iteration run be checked by an
exact SQL oracle (chained CTEs, one per iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meteor_spark.io import persist


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    iter_round: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Weighted PageRank, fixed iterations, deterministic:

        pr_{k+1}(v) = round((1-d)/N + d * Σ_u pr_k(u) · w(u,v)/wout(u), 8)

    Dangling nodes (no out-edges) simply leak rank mass — acceptable for
    a ranking signal and what keeps the formulation one join + one agg.
    Returns (node, pagerank) ordered by (pagerank desc, node).
    """
    e_raw = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), F.col(weight_col).alias("w")
    )
    nodes = persist(
        e_raw.select(F.col("src").alias("node"))
        .union(e_raw.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:  # empty graph: empty result, not a 1/N division blow-up
        return nodes.select(
            "node", F.lit(None).cast("double").alias("pagerank")
        )
    wout = e_raw.groupBy("src").agg(F.sum("w").cast("double").alias("wout"))
    e = persist(
        e_raw.join(wout, "src")
        .select("src", "dst", (F.col("w") / F.col("wout")).alias("p"))
    )
    pr = nodes.select("node", F.round(F.lit(1.0) / n, iter_round).alias("pr"))
    for i in range(iters):
        contrib = (
            e.join(pr, e["src"] == pr["node"])
            .select(F.col("dst").alias("node"), (F.col("pr") * F.col("p")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            nodes.join(contrib, "node", "left")
            .na.fill({"s": 0.0})
            .select(
                "node",
                F.round(
                    F.lit((1.0 - damping) / n) + damping * F.col("s"), iter_round
                ).alias("pr"),
            )
        )
        # Truncate lineage EVERY iteration (the r11 cadence, restored in
        # r13): the r12 every-2nd-iteration variant looked ~1s faster in
        # one container's steady-state probes, but the driver measured
        # it SLOWER at both 32 and 8 cores (2.07 -> 3.02/2.72s), and an
        # r13 interleaved same-JVM A/B agrees (median 3.99s vs 15.08s,
        # min 2.88 vs 3.24 across 6 alternating rounds incl. noise
        # storms): the deeper 2-join plans cost more in per-action
        # analysis/codegen than the skipped checkpoint jobs save. The
        # final iteration's checkpoint also keeps the returned frame a
        # cheap checkpointed scan (consumers may run several actions),
        # lets the nodes/e caches below be released with nothing left
        # referencing them, and keeps the cold plan free of the
        # stats-less SortMergeJoins an unpersisted tail would show
        # (tests/test_plans.py pins (1, 0, 0)). Unbounded chains (no
        # checkpoint at all) are not an option at scale: lineage depth
        # grows linearly in iters and re-planning cost with it.
        pr = pr.localCheckpoint()
    # the final localCheckpoint cut pr's lineage from nodes/e, so the
    # caches can be released instead of leaking for the session
    nodes.unpersist()
    e.unpersist()
    return pr.select("node", F.round("pr", round_to).alias("pagerank")).orderBy(
        F.col("pagerank").desc(), "node"
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle membership counts over an undirected graph:
    (node, n_triangles) for every node in at least one triangle.

    Community structure / clustering-coefficient input for the mined
    co-usage graph. Edges canonicalize to src < dst, so each triangle
    (x < y < z) is built exactly once: wedge join (x,y)+(y,z) on the
    middle node, closed by an equi-join back to the edge set on (x,z) —
    two equi-joins, never a cross product, with the standard
    degree-bounded candidate growth of distributed triangle listing.
    Each closed triangle then credits its three corners via a
    constant-width explode.
    """
    canon = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e1 = canon.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = canon.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, "y").select("x", "y", "z")
    closed = wedges.join(
        canon.select(F.col("a").alias("x"), F.col("b").alias("z")), ["x", "z"]
    )
    return (
        closed.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
