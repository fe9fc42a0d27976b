"""Skew-handling helpers: salted aggregation and salted broadcast-side
join — the manual levers when AQE's skew-join splitting isn't enough
(e.g. a single hot key inside one aggregation).

Salted aggregation = two-phase: groupBy(key, salt) partial -> groupBy(key)
final. The hot key's rows spread over `salt_buckets` reducers in phase 1;
phase 2 merges `salt_buckets` partials per key — total extra cost is one
narrow shuffle of |keys| x salt_buckets rows. Results are EXACTLY equal to
the unsalted aggregate for decomposable aggregates (sum/count/min/max),
which is what the oracle gate asserts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from meteor_spark.io import persist


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, Column]],
    salt_buckets: int = 16,
    salt_on: str | None = None,
) -> DataFrame:
    """Two-phase salted aggregation.

    aggs: output_name -> (merge_fn_name, partial_agg_column), e.g.
      {"n": ("sum", F.count("*")), "total": ("sum", F.sum("value")),
       "mx": ("max", F.max("value"))}
    The salt is a deterministic hash of a high-cardinality column (or
    random-free row hash) mod salt_buckets — deterministic so the plan is
    reproducible run to run.
    """
    salt_src = F.col(salt_on) if salt_on else F.xxhash64(*df.columns)
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(salt_src), F.lit(salt_buckets)))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[col.alias(f"__p_{name}") for name, (_, col) in aggs.items()]
    )
    final = partial.groupBy(*keys).agg(
        *[getattr(F, fn)(f"__p_{name}").alias(name) for name, (fn, _) in aggs.items()]
    )
    return final


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: a hot join key (one customer with 10% of
    all events, the null bucket, ...) lands every matching fact row in
    ONE shuffle partition under a plain join. Salting splits each fact
    key into `salt_buckets` sub-keys (deterministic row hash, so plans
    reproduce) and replicates the dim side once per bucket, turning the
    single hot partition into `salt_buckets` even ones.

    `on`: join column names present in BOTH frames. Supports inner and
    left joins (the fact side is preserved: each fact row carries exactly
    one salt and the replicated dim covers all salts, so multiplicity is
    unchanged). Use when the dim is too big to broadcast but small enough
    that x`salt_buckets` replication is acceptable — the standard middle
    ground between broadcast and AQE skew-join splitting.
    """
    if how not in ("inner", "left"):
        # fact rows carry ONE salt but dim rows exist for EVERY salt, so
        # right/full would surface each unmatched dim row salt_buckets
        # times — plausible-looking, wrong output; fail fast instead
        raise ValueError(f"salted_join supports inner/left, not {how!r}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salt_buckets))
    f = fact.withColumn("__salt", salt)
    d = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return f.join(d, on=[*on, "__salt"], how=how).drop("__salt")


def key_skew_report(
    df: DataFrame,
    keys: list[str],
    top_k: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """Heavy-hitter diagnostic: the top-k join/aggregation keys by row
    count, each with its share of the table and its skew factor (count
    over the mean count per distinct key). A skew factor in the hundreds
    means a plain shuffle on this key serializes on one reducer — the
    signal to reach for salted_join/salted_agg or AQE skew splitting.

    One map-side-combined groupBy over the facts; the per-key counts are
    then joined to a broadcast 1-row global summary (total rows, number
    of distinct keys) and top-k'd via TakeOrderedAndProject — no global
    sort. The counts frame is persisted because it feeds BOTH the
    summary and the top-k: without it each branch re-scans the input
    (one row per distinct key — small next to the facts).
    """
    counts = persist(df.groupBy(*keys).agg(F.count("*").alias("n")))
    totals = counts.agg(
        F.sum("n").alias("__total"), F.count("*").alias("__n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            *keys,
            "n",
            F.round(F.col("n") / F.col("__total"), round_to).alias("share"),
            F.round(F.col("n") * F.col("__n_keys") / F.col("__total"), round_to).alias("skew_factor"),
        )
        .orderBy(F.col("n").desc(), *keys)
        .limit(top_k)
    )
