"""Usage & join-statistics aggregation — the audit-log workload.

Reference computation (plugins/extractors/bigquery/auditlog/stats.go):
from a log of completed queries, derive per-table stats:
  - TableUsage:  urn -> how many queries referenced it        (stats.go:69-75)
  - JoinDetail:  urn -> joined-urn -> {usage count, conditions} (stats.go:77-115)
  - FilterConditions: urn -> set of filter predicates           (stats.go:117-129)
merged into TableProfile.usage_count / joins / filters
(bigquery/profile.go:8-47).

Spark design (shuffle-lean, 100 TB-ready):
  - joins:   explode ordered pairs per query -> groupBy(urn, joined).
             Pairs are emitted with urn < joined to halve the shuffle
             volume; conditions aggregated with collect_set.

The log schema expected here: one row per query with
  referenced: array<string>   (table urns touched)
  conditions: array<string>   (join/filter condition strings, optional)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meteor_spark.io import persist


def join_usage(log: DataFrame, referenced_col: str = "referenced", conditions_col: str | None = None) -> DataFrame:
    """(urn, joined_urn) -> join count [+ conditions] (stats.go:77-115).

    Unordered pairs from each query's referenced set; emitted once with
    urn < joined_urn so the pair space (and the shuffle) is halved.
    """
    refs = F.array_sort(F.array_distinct(F.col(referenced_col)))
    pairs = log.select(
        refs.alias("refs"),
        *([F.col(conditions_col).alias("conds")] if conditions_col else []),
    ).select(
        F.explode(
            F.expr(
                "flatten(transform(refs, (x, i) -> "
                "transform(slice(refs, i + 2, size(refs)), y -> struct(x as urn, y as joined_urn))))"
            )
        ).alias("pair"),
        *([F.col("conds")] if conditions_col else []),
    )
    grouped = pairs.groupBy("pair.urn", "pair.joined_urn")
    if conditions_col:
        return grouped.agg(
            F.count("*").alias("join_count"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("conds")))).alias("conditions"),
        )
    return grouped.agg(F.count("*").alias("join_count"))


def event_transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    round_to: int = 4,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: (src_type, dst_type, n, p) with p = P(next=dst | cur=src).

    The behavioral-analytics complement to the funnel/retention gates:
    which action follows which, unconditional on time gaps. One lead()
    window per user (the same user-keyed shuffle every sessionization
    op pays — at scale this partitioning is shared across the whole
    family) and a (src,dst)-keyed count; the per-src normalizer rides a
    window over the tiny |types|² matrix, not the event stream.
    """
    from pyspark.sql import Window

    pairs = transition_counts(events, user_col, type_col, order_cols)
    tot = Window.partitionBy("src_type")
    return pairs.select(
        "src_type",
        "dst_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.sum("n").over(tot), round_to).alias("p"),
    )


def co_usage_pairs(
    ut: DataFrame, user_col: str = "user_id", type_col: str = "event_type"
) -> DataFrame:
    """(a, b, n) co-occurrence counts over a DISTINCT (user, type)
    frame: a < b canonical, n = users having both. The one self-join
    behind the pagerank, triangle, and lift gates (reference stats.go) —
    shared so their pair-mining semantics cannot drift apart. Callers
    build `ut = events.select(user, type).distinct()` themselves so they
    can reuse the same frame for margins/user counts."""
    a_, b_ = ut.alias("a"), ut.alias("b")
    return (
        a_.join(b_, user_col)
        .filter(F.col(f"a.{type_col}") < F.col(f"b.{type_col}"))
        .groupBy(F.col(f"a.{type_col}").alias("a"), F.col(f"b.{type_col}").alias("b"))
        .agg(F.count("*").alias("n"))
    )


def transition_counts(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """(src_type, dst_type, n): per-user lead()-window transition pair
    counts — the ONE pipeline both the transition matrix and the
    conditional-entropy gate aggregate, so their windowing/tie-break
    semantics cannot drift apart."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(*[F.col(c) for c in order_cols])
    return (
        events.withColumn("__next", F.lead(type_col).over(w))
        .filter(F.col("__next").isNotNull())
        .groupBy(F.col(type_col).alias("src_type"), F.col("__next").alias("dst_type"))
        .agg(F.count("*").alias("n"))
    )


def activity_gini(
    events: DataFrame, user_col: str = "user_id", round_to: int = 4
) -> DataFrame:
    """Engagement inequality: Gini coefficient over per-user event
    counts — one row (n_users, n_events, gini). 0 = uniform activity,
    →1 = a few power users generate everything (the audience-health
    number an activity dashboard leads with).

    The rank formula needs a GLOBAL ordering of users by count — and
    the count value itself is the range-partition key: rank(user) =
    prefix-sum offset of all smaller counts + row_number within the
    user's count group (id tiebreak). The only global window runs over
    the DISTINCT-count dim (bounded by max activity, not user count),
    so the corpus-wide order statistic costs two small shuffles and no
    single-reducer sort — the same computed-rank discipline as
    sorted-neighborhood blocking and training-order interleave.
    """
    from pyspark.sql import Window

    counts = events.groupBy(user_col).agg(F.count("*").alias("c"))
    sizes = counts.groupBy("c").agg(F.count("*").alias("n_c"))
    offsets = sizes.select(
        "c",
        F.coalesce(
            F.sum("n_c").over(
                Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("off"),
    )
    in_group = Window.partitionBy("c").orderBy(user_col)
    ranked = (
        counts.withColumn("rg", F.row_number().over(in_group))
        .join(F.broadcast(offsets), "c")
        .select("c", (F.col("off") + F.col("rg")).alias("i"))
    )
    n = F.count("*").cast("double")
    tot = F.sum("c").cast("double")
    return ranked.groupBy().agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("c").cast("long").alias("n_events"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("c")) / (n * tot) - (n + 1) / n, round_to
        ).alias("gini"),
    )


def kanonymity_census(
    events: DataFrame,
    user_col: str = "user_id",
    attr_col: str = "event_type",
) -> DataFrame:
    """Privacy audit of behavioral data: k-anonymity census over
    users' GENERALIZED quasi-identifier signatures — each attr value
    the user exhibits paired with its count's magnitude band
    (floor(log2(c)) + 1, computed integer-exactly as length(bin(c))
    on both engines — no libm): the count histogram coarsened to
    powers of two. Generalization is the point of a k-anonymity
    audit: the raw per-user histogram is almost always unique
    (measured: 100% k=1 at sf0.01), so the question a release review
    asks is whether users remain re-identifiable AFTER coarsening to
    the buckets an attacker can realistically link on.
    The anonymity set of a signature is every user sharing it; k = 1
    means the coarsened fingerprint alone re-identifies the user.
    Output: one row per anonymity-set size k with the number of
    distinct signatures and users at that k, plus the exact-ppm share
    of all users (the k = 1 row is the headline number).

    Scale design: two aggregations (user x attr counts, then signature
    build per user) and two tiny ones (set sizes, census). Signatures
    are deterministic strings — sort_array over the distinct attr set,
    so both engines order identically — bounded by the attr-domain
    size, never by event count. No window over users, no collect;
    the census output is at most |distinct k| rows. user_share_ppm is
    exact-integer (ppm_expr), bit-stable at any N with n_users <=
    9.2e15."""
    from meteor_spark.functions.exactmath import ppm_expr

    h = events.groupBy(user_col, attr_col).agg(F.count("*").alias("c"))
    banded = h.select(
        user_col, attr_col, F.length(F.bin("c")).cast("long").alias("band")
    )
    sig = banded.groupBy(user_col).agg(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list(F.struct(attr_col, "band"))),
                lambda x: F.concat(x[attr_col], F.lit(":"), x["band"].cast("string")),
            ),
        ).alias("sig")
    )
    sets = sig.groupBy("sig").agg(F.count("*").alias("k"))
    total = sig.agg(F.count("*").cast("long").alias("n_total"))
    census = (
        sets.groupBy("k")
        .agg(F.count("*").cast("long").alias("n_signatures"))
        .crossJoin(F.broadcast(total))
    )
    return census.select(
        F.col("k").cast("long").alias("k"),
        "n_signatures",
        (F.col("k") * F.col("n_signatures")).cast("long").alias("n_users"),
        F.expr(ppm_expr("k * n_signatures", "n_total", "div"))
        .cast("long")
        .alias("user_share_ppm"),
    ).orderBy("k")


def ldiversity_census(
    events: DataFrame,
    user_col: str = "user_id",
    attr_col: str = "event_type",
) -> DataFrame:
    """l-diversity census — k-anonymity's necessary second question:
    a large anonymity set still leaks if everyone in it shares the
    SENSITIVE value (the homogeneity attack). Quasi-identifier =
    the same generalized signature as kanonymity_census (per-attr
    count magnitude bands); sensitive value = the user's DOMINANT
    attr (largest count, ties to the lexicographically smallest —
    fully deterministic). For each anonymity set, l = distinct
    dominant values among its users; published per diversity level:
    (l, n_sets, n_users, user_share_ppm). The l = 1 row is the
    population whose sensitive value an attacker learns WITHOUT
    re-identifying anyone.

    Scale: the kanonymity aggregations plus one bounded per-user
    window over the (user x attr) count frame (attr-domain-sized
    groups) and one distinct-count per signature. All-integer
    census, ppm-exact at any N."""
    from pyspark.sql import Window

    from meteor_spark.functions.exactmath import ppm_expr

    h = events.groupBy(user_col, attr_col).agg(F.count("*").alias("c"))
    wdom = Window.partitionBy(user_col).orderBy(
        F.col("c").desc(), F.col(attr_col).asc()
    )
    dominant = (
        h.withColumn("__r", F.row_number().over(wdom))
        .filter(F.col("__r") == 1)
        .select(user_col, F.col(attr_col).alias("sens"))
    )
    banded = h.select(
        user_col, attr_col, F.length(F.bin("c")).cast("long").alias("band")
    )
    sig = banded.groupBy(user_col).agg(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list(F.struct(attr_col, "band"))),
                lambda x: F.concat(x[attr_col], F.lit(":"), x["band"].cast("string")),
            ),
        ).alias("sig")
    )
    per_set = (
        sig.join(dominant, user_col)
        .groupBy("sig")
        .agg(
            F.count("*").alias("k"),
            F.countDistinct("sens").alias("l"),
        )
    )
    total = sig.agg(F.count("*").cast("long").alias("n_total"))
    return (
        per_set.groupBy("l")
        .agg(
            F.count("*").cast("long").alias("n_sets"),
            F.sum("k").cast("long").alias("n_users"),
        )
        .join(F.broadcast(total))
        .select(
            F.col("l").cast("long").alias("l"),
            "n_sets",
            "n_users",
            F.expr(ppm_expr("n_users", "n_total", "div")).cast("long").alias("user_share_ppm"),
        )
        .orderBy("l")
    )


def tcloseness_census(
    events: DataFrame,
    user_col: str = "user_id",
    attr_col: str = "event_type",
) -> DataFrame:
    """t-closeness census — the third privacy audit after k-anonymity
    (set sizes) and l-diversity (distinct sensitive values): a set can
    be large AND diverse yet still leak if its sensitive-value
    DISTRIBUTION differs sharply from the global one (the skewness
    attack). Distance = total variation between the set's
    dominant-value distribution and the population's, exact-integer:

        t_ppm = floor(1e6 * Σ_i |c_i·N_g − g_i·k| / (2·k·N_g))

    (c_i: users with dominant value i in the set, k: set size, g_i /
    N_g: the global counts) via fixed_div_expr — valid while
    2·k·N_g <= 9.2e17, i.e. to ~1e8 users whatever the skew; shard
    the census past that. Published per anonymity-set size k:
    (k, n_sets, max_t_ppm) — the worst set at each size is what a
    release review reads.

    Scale: the kanonymity/l-diversity aggregations plus one
    (sets x attr-domain) grid join — |sigs|·|types| rows, never user-
    sized — and a one-row global broadcast."""
    from pyspark.sql import Window

    from meteor_spark.functions.exactmath import fixed_div_expr

    h = events.groupBy(user_col, attr_col).agg(F.count("*").alias("c"))
    wdom = Window.partitionBy(user_col).orderBy(
        F.col("c").desc(), F.col(attr_col).asc()
    )
    dominant = (
        h.withColumn("__r", F.row_number().over(wdom))
        .filter(F.col("__r") == 1)
        .select(user_col, F.col(attr_col).alias("sens"))
    )
    banded = h.select(
        user_col, attr_col, F.length(F.bin("c")).cast("long").alias("band")
    )
    sig = banded.groupBy(user_col).agg(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list(F.struct(attr_col, "band"))),
                lambda x: F.concat(x[attr_col], F.lit(":"), x["band"].cast("string")),
            ),
        ).alias("sig")
    )
    # persist: the (user, sig, sens) frame feeds FOUR consumers (set
    # counts, set sizes, global distribution, total); without it each
    # recomputes the count/window/signature pipeline — one user-sized
    # frame cached vs 4x the upstream work, the standard trade
    j = persist(sig.join(dominant, user_col))
    set_counts = j.groupBy("sig", "sens").agg(F.count("*").cast("long").alias("c"))
    set_sizes = j.groupBy("sig").agg(F.count("*").cast("long").alias("k"))
    glob = j.groupBy("sens").agg(F.count("*").cast("long").alias("g"))
    n_g = j.agg(F.count("*").cast("long").alias("n_g"))
    grid = (
        set_sizes.join(F.broadcast(glob))
        .join(set_counts, ["sig", "sens"], "left")
        .join(F.broadcast(n_g))
        .select(
            "sig",
            "k",
            F.abs(
                F.coalesce(F.col("c"), F.lit(0)) * F.col("n_g")
                - F.col("g") * F.col("k")
            ).alias("term"),
            "n_g",
        )
    )
    per_set = grid.groupBy("sig", "k", "n_g").agg(
        F.sum("term").cast("long").alias("t_num")
    )
    t_ppm = F.expr(fixed_div_expr("t_num", "2 * k * n_g", 6, "div")).cast("long")
    return (
        per_set.select("k", t_ppm.alias("t_ppm"))
        .groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_sets"),
            F.max("t_ppm").cast("long").alias("max_t_ppm"),
        )
        .orderBy("k")
    )
