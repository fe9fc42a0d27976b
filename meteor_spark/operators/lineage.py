"""Lineage graph operators.

The reference stores lineage as per-asset edge lists
(models/odpf/assets/facets/v1beta1/lineage.pb.go:26 — upstreams/
downstreams arrays on each node; SURVEY.md §1.3 'a graph encoded on
nodes'). The consuming catalog walks that graph; this module gives the
engine the same capability over the asset DataFrame:

- edges(assets): explode the facets into a (src_urn, dst_urn) edge table
  (upstream u of asset a => edge u -> a; downstream d => a -> d).
- transitive_upstreams(edges): iterative frontier expansion (BFS) —
  the canonical Spark pattern for an iterative algorithm: loop of
  equi-joins with accumulated-result dedup, persist per level, stop on
  empty frontier. Depth-bounded; at 1000 executors each level is one
  shuffle keyed by urn.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meteor_spark.io import persist


def edges(assets: DataFrame) -> DataFrame:
    """Asset frame (ASSET_SCHEMA) -> distinct (src_urn, dst_urn) edges."""
    ups = (
        assets.select(
            F.explode(F.coalesce(F.col("lineage.upstreams"), F.array())).alias("u"),
            F.col("resource.urn").alias("dst_urn"),
        )
        .select(F.col("u.urn").alias("src_urn"), "dst_urn")
    )
    downs = (
        assets.select(
            F.col("resource.urn").alias("src_urn"),
            F.explode(F.coalesce(F.col("lineage.downstreams"), F.array())).alias("d"),
        )
        .select("src_urn", F.col("d.urn").alias("dst_urn"))
    )
    return ups.unionByName(downs).filter(F.col("src_urn").isNotNull()).distinct()


def transitive_upstreams(edge_df: DataFrame, max_depth: int = 10) -> DataFrame:
    """(urn, ancestor_urn, depth) for every node reachable upstream.

    depth 1 = direct upstream. Iterates until the frontier is empty or
    max_depth; each level joins the frontier against the reversed edge
    table and anti-joins what's already known (cycle-safe).
    """
    rev = edge_df.select(F.col("dst_urn").alias("urn"), F.col("src_urn").alias("ancestor_urn"))
    result = persist(rev.withColumn("depth", F.lit(1)))
    frontier = result
    step = rev.select(F.col("urn").alias("j_urn"), F.col("ancestor_urn").alias("j_ancestor"))
    retired = []
    for _ in range(1, max_depth):
        nxt = (
            frontier.join(step, frontier.ancestor_urn == step.j_urn)
            .select(frontier.urn, F.col("j_ancestor").alias("ancestor_urn"), (frontier.depth + 1).alias("depth"))
            # WITHIN-level dedup first: a diamond (a->b->d, a->c->d)
            # reaches the same (urn, ancestor) via two equal-length
            # paths, and the anti-join below only removes pairs known
            # from PRIOR levels — without distinct() the duplicates
            # compound multiplicatively with the number of paths
            .distinct()
        )
        # anti-join against known (urn, ancestor) pairs: dedup + cycle stop
        nxt = persist(nxt.join(result.select("urn", "ancestor_urn"), ["urn", "ancestor_urn"], "left_anti"))
        if nxt.isEmpty():
            nxt.unpersist()
            break
        prev = result
        result = persist(result.unionByName(nxt))
        result.count()  # materialize before retiring the inputs it was built from
        retired.extend((prev, nxt))
        frontier = nxt
    # every retired frame is already folded into the materialized result
    for df in retired:
        df.unpersist()
    return result
