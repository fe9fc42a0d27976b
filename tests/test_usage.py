"""Usage/join-stats aggregation (reference: auditlog/stats.go)."""

from __future__ import annotations

import pytest

from meteor_spark.operators.usage import join_usage


@pytest.fixture(scope="module")
def log(spark):
    return spark.createDataFrame(
        [
            (["t1", "t2"], ["a=b"], ["x > 1"]),
            (["t1", "t2", "t3"], ["a=b", "c=d"], ["y = 2"]),
            (["t2"], [], ["x > 1"]),
        ],
        "referenced array<string>, conditions array<string>, filters array<string>",
    )


def test_join_usage_pairs(log):
    # stats.go:77-115 — co-occurrence pairs, emitted once (urn < joined)
    rows = {(r["urn"], r["joined_urn"]): r["join_count"] for r in join_usage(log).collect()}
    assert rows == {("t1", "t2"): 2, ("t1", "t3"): 1, ("t2", "t3"): 1}


def test_join_usage_with_conditions(log):
    rows = {
        (r["urn"], r["joined_urn"]): r["conditions"]
        for r in join_usage(log, conditions_col="conditions").collect()
    }
    assert rows[("t1", "t2")] == ["a=b", "c=d"]


def test_salted_join_equals_plain_join(spark, sf_dir):
    """salting may never change join semantics: inner and left results
    must equal the unsalted join exactly (multiplicity included)."""
    from pyspark.sql import functions as F

    from meteor_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice"
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    # left case: drop some suppliers so unmatched fact rows exist
    s_partial = s.filter(F.col("l_suppkey") % 3 != 0)
    for how, dim in (("inner", s), ("left", s_partial)):
        plain = li.join(dim, on=["l_suppkey"], how=how)
        salted = salted_join(li, dim, on=["l_suppkey"], how=how, salt_buckets=8)
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_key_skew_report_math(spark):
    from meteor_spark.operators import skew

    # key "hot" has 8 of 12 rows across 5 distinct keys
    rows = [("hot",)] * 8 + [("a",), ("b",), ("c",), ("d",)]
    df = spark.createDataFrame(rows, "k string")
    out = skew.key_skew_report(df, ["k"], top_k=3).collect()
    assert [r["k"] for r in out] == ["hot", "a", "b"]  # ties break on key
    top = out[0]
    assert top["n"] == 8
    assert top["share"] == round(8 / 12, 4)
    assert top["skew_factor"] == round(8 * 5 / 12, 4)  # 3.3333x the mean key


def test_event_transition_matrix_counts_and_probs(spark):
    from meteor_spark.operators.usage import event_transition_matrix

    # user 1: a->b->a ; user 2: a->b  => from a: b twice (p=1.0); from b: a once
    rows = [
        (1, 1, "a"), (2, 1, "b"), (3, 1, "a"),
        (4, 2, "a"), (5, 2, "b"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, event_type string")
    out = {
        (r["src_type"], r["dst_type"]): (r["n"], r["p"])
        for r in event_transition_matrix(
            df, order_cols=("event_id",)
        ).collect()
    }
    assert out[("a", "b")] == (2, 1.0)
    assert out[("b", "a")] == (1, 1.0)
    assert ("b", "b") not in out


def test_activity_gini_uniform_vs_concentrated(spark):
    from meteor_spark.operators.usage import activity_gini

    uniform = spark.createDataFrame(
        [(i, i % 4, "e") for i in range(40)], "event_id long, user_id long, event_type string"
    )
    row = activity_gini(uniform).collect()[0]
    assert row["gini"] == 0.0 and row["n_users"] == 4 and row["n_events"] == 40

    # one power user with 37 events, three with 1 each
    skewed = spark.createDataFrame(
        [(i, 0 if i < 37 else i, "e") for i in range(40)],
        "event_id long, user_id long, event_type string",
    )
    g = activity_gini(skewed).collect()[0]["gini"]
    assert g > 0.6


def test_activity_gini_partitioning_invariant_matches_naive(spark):
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from meteor_spark.operators.usage import activity_gini

    rng = random.Random(9)
    rows = [(i, rng.randint(0, 60), "e") for i in range(800)]
    base = spark.createDataFrame(rows, "event_id long, user_id long, event_type string")
    got = [activity_gini(base.repartition(p)).collect()[0]["gini"] for p in (1, 6)]
    # naive single-window global rank (the oracle's formulation)
    c = base.groupBy("user_id").agg(F.count("*").alias("c"))
    r = c.withColumn("i", F.row_number().over(Window.orderBy("c", "user_id")))
    agg = r.groupBy().agg(
        F.round(
            2.0 * F.sum(F.col("i") * F.col("c"))
            / (F.count("*") * F.sum("c").cast("double"))
            - (F.count("*") + 1) / F.count("*").cast("double"),
            4,
        ).alias("g")
    ).collect()[0]["g"]
    assert got[0] == got[1] == agg


def test_kanonymity_census_hand_checked(spark):
    """Banded quasi-identifiers: counts 1 -> band 1, 2-3 -> band 2,
    4-7 -> band 3. Users 1 and 2 share a signature (a:band2); user 3
    differs by band; user 4 differs by type set."""
    from meteor_spark.operators.usage import kanonymity_census

    rows = (
        [(1, "a")] * 2            # a:2 -> band 2
        + [(2, "a")] * 3          # a:3 -> band 2 (same signature as user 1)
        + [(3, "a")] * 4          # a:4 -> band 3 (unique)
        + [(4, "a"), (4, "b")]    # a:1,b:1 (unique)
    )
    df = spark.createDataFrame(
        [(u, t) for u, t in rows], "user_id long, event_type string"
    )
    out = {r["k"]: r for r in kanonymity_census(df).collect()}
    assert set(out) == {1, 2}
    # k=1: users 3 and 4 (two singleton signatures)
    assert (out[1]["n_signatures"], out[1]["n_users"]) == (2, 2)
    # k=2: users 1 and 2 share a:2
    assert (out[2]["n_signatures"], out[2]["n_users"]) == (1, 2)
    # exact ppm of 4 total users
    assert out[1]["user_share_ppm"] == 1_000_000 * 2 // 4
    assert out[2]["user_share_ppm"] == 500_000


def test_kanonymity_census_empty(spark):
    from meteor_spark.operators.usage import kanonymity_census

    empty = spark.createDataFrame([], "user_id long, event_type string")
    assert kanonymity_census(empty).count() == 0
