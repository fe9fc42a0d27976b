"""Deterministic sampling: hash-Bernoulli and stratified.

Beyond-reference operators (BASELINE.json north star). Training-data
pipelines need samples that are (a) reproducible across runs and
engines — no RNG state, no partition-order dependence — and (b)
stratified, e.g. downsample dominant languages while keeping the tail.

Construction: bucket = first 8 hex chars of md5(key) mod `buckets`;
keep the row iff bucket < rate * buckets. md5 is identical in Spark,
DuckDB, and Python, so the selected row SET is exact and oracle-checkable
(unlike df.sample, which depends on partitioning and seed plumbing).

Scale design: the predicate is a pure per-row expression — no shuffle,
no state, fully codegen'd, applied right above the scan. Changing the
corpus only changes membership of added/removed keys (consistent
hashing), so incremental pipeline runs reprocess only new data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from meteor_spark.io import persist

BUCKETS = 10_000


def hash_bucket(key: Column, buckets: int = BUCKETS) -> Column:
    """Deterministic bucket in [0, buckets) from md5 of the key string."""
    return (F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long") % buckets).cast("int")


def bucket_threshold(rate: float, buckets: int = BUCKETS) -> int:
    """rate -> bucket count, half-up. A bare int(rate * buckets)
    TRUNCATES the float product one bucket low for ~6% of exact
    4-decimal rates (0.0003 * 10000 == 2.999...96 -> 2) — a large
    relative error at small rates, and split tables summing to 1.0
    could still leave an unassigned bucket."""
    return int(rate * buckets + 0.5)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    buckets: int = BUCKETS,
) -> DataFrame:
    """Per-stratum sampling rates (e.g. {"en": 0.2, "fr": 1.0}).

    The threshold is a chained CASE on the stratum — still a single
    shuffle-free filter above the scan.
    """
    threshold: Column = F.lit(bucket_threshold(default_rate, buckets))
    for stratum, rate in rates.items():
        threshold = F.when(
            F.col(stratum_col) == stratum, F.lit(bucket_threshold(rate, buckets))
        ).otherwise(threshold)
    return df.filter(hash_bucket(F.col(key_col), buckets) < threshold)


def weighted_sample(
    df: DataFrame, key_col: str, weight: Column, k: int, round_to: int = 8
) -> DataFrame:
    """Deterministic weighted sampling without replacement (top-k of the
    Efraimidis-Spirakis A-Res order): each row gets priority u^(1/w) with
    u a deterministic md5-derived uniform in (0, 1]; the k largest
    priorities are the sample. Computed in log space (ln(u)/w, monotone
    in u^(1/w)) and rounded so last-ulp libm differences between engines
    cannot flip the selection; ties broken by key.

    One scan + TakeOrderedAndProject — no shuffle of the corpus, no
    global sort; weights can be any positive expression (doc length,
    quality score, ...). Reproducible row SET, so exactly
    oracle-checkable (df.sample is not).
    """
    # 13 hex chars = 52 bits -> exact double; +1 keeps u > 0
    u = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 13), 16, 10).cast("double")
        + 1
    ) / F.lit(float(1 << 52))
    lp = F.round(F.log(u) / weight, round_to)
    return (
        df.withColumn("log_priority", lp)
        .orderBy(F.col("log_priority").desc(), F.col(key_col))
        .limit(k)
    )


def quota_cap(
    df: DataFrame,
    key_col: str,
    group_col: str,
    cap: int,
    buckets: int = BUCKETS,
) -> DataFrame:
    """Cap every group at `cap` rows — the domain-balancing primitive of
    web-corpus curation (no single source/domain may dominate the mix).

    Selection is deterministic: rows rank within their group by
    (md5-bucket of key, key) and ranks > cap are dropped, so the
    surviving row SET is stable across runs, partitionings, and engines,
    and a re-crawl only swaps members whose hash order changed. Ordering
    by the hash rather than arrival order makes the cap an unbiased
    subsample of the group instead of a head-of-crawl prefix.

    Scale: row_number + `<= cap` is Spark's WindowGroupLimit shape — the
    limit is applied map-side BEFORE the exchange, so a hot domain with
    100M pages ships only `cap` candidate rows per input partition, not
    the whole group, through the shuffle. No full-group sort ever
    materializes.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key_col), buckets), F.col(key_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


def source_mix_weights(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    round_to: int = 4,
) -> DataFrame:
    """Static domain-mixture rebalancing weights: per source, the
    down-sampling rate that moves the corpus's token distribution toward
    a UNIFORM target share (the degenerate but standard case of
    DoReMi/Pile-style mixture reweighting — swap the 1/n_sources target
    for a learned weight vector without changing the plan).

        weight(s)      = target_share / token_share(s)
        sample_rate(s) = weight(s) / max_s weight(s)

    so the scarcest domain keeps every token (rate 1) and oversized
    domains are cut proportionally. One map-side-combined groupBy over
    the corpus; the two scalars (total tokens + max weight) ride
    broadcast one-row joins — nothing corpus-sized shuffles twice.
    """
    from meteor_spark.operators.text import normalize_text, words

    s = df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(words(normalize_text(F.col(text_col))))).cast("long").alias("n_tokens"),
    )
    tot = s.agg(
        F.sum("n_tokens").cast("double").alias("total"),
        F.count("*").cast("double").alias("n_sources"),
    )
    w = s.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("total")).alias("share"),
        ((F.lit(1.0) / F.col("n_sources")) / (F.col("n_tokens") / F.col("total"))).alias("w"),
    )
    mx = w.agg(F.max("w").alias("mw"))
    return w.crossJoin(F.broadcast(mx)).select(
        group_col,
        "n_docs",
        "n_tokens",
        F.round("share", round_to).alias("token_share"),
        F.round("w", round_to).alias("weight"),
        F.round(F.col("w") / F.col("mw"), round_to).alias("sample_rate"),
    )


def dsir_log_weights(
    df: DataFrame,
    target_filter: Column,
    buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by how much more likely its hashed-unigram bag is under the TARGET
    subcorpus's distribution than under the raw corpus's.

        feature(w)  = md5-bucket of the token, in [0, buckets)
        p_T(b)      = (count_T(b) + 1) / (total_T + buckets)   (add-one)
        p_R(b)      = (count_R(b) + 1) / (total_R + buckets)
        log_w(doc)  = Σ_tokens ln(p_T(b) / p_R(b))

    Sampling proportionally to exp(log_w) then reproduces the target
    distribution — here we emit the deterministic per-doc log-weight and
    leave the draw to `weighted_sample` (same hash-Bernoulli machinery).

    Scale design: tokens reduce to per-(doc, bucket) multiplicities
    first (map-side combine — the shuffle carries ≤ `buckets` rows per
    doc, not one per token); both bucket distributions are ≤ `buckets`-row
    aggregates broadcast to the scoring join; the log-ratio table is
    computed ONCE and reused — the per-doc pass is one explode + two
    hash aggregates, no corpus-sized join.

    Exactly oracle-checkable: md5 bucketing and add-one smoothing are
    plain SQL in DuckDB (see queries.dsir_importance_weights).
    """
    from meteor_spark.operators.text import normalize_text, words

    bkt = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 4), 16, 10).cast("long") % buckets
    ).cast("int")
    tok = df.select(
        F.col(id_col),
        target_filter.alias("__is_target"),
        F.explode(words(normalize_text(F.col(text_col)))).alias("w"),
    ).select(id_col, "__is_target", bkt.alias("bkt"))

    # per-(doc, bucket) multiplicities: the only corpus-sized aggregate.
    # Persisted because THREE divergent consumers read it (raw, tgt, and
    # the final scoring join) and tgt's filter changes the subplan, so
    # exchange reuse can't collapse them — without the cache the corpus
    # tokenize+explode+groupBy runs up to 3x per action (the same
    # two-consumer shape skew.key_skew_report persists for)
    m = persist(tok.groupBy(id_col, "__is_target", "bkt").agg(F.count("*").alias("m")))

    raw = m.groupBy("bkt").agg(F.sum("m").alias("cr"))
    tgt = m.filter(F.col("__is_target")).groupBy("bkt").agg(F.sum("m").alias("ct"))
    dist = raw.join(tgt, "bkt", "left").na.fill({"ct": 0})
    tots = dist.agg(
        F.sum("ct").cast("double").alias("tot_t"),
        F.sum("cr").cast("double").alias("tot_r"),
    )
    lp = (
        dist.crossJoin(F.broadcast(tots))
        .select(
            "bkt",
            (
                F.log((F.col("ct") + 1.0) / (F.col("tot_t") + buckets))
                - F.log((F.col("cr") + 1.0) / (F.col("tot_r") + buckets))
            ).alias("lp"),
        )
    )
    return (
        m.join(F.broadcast(lp), "bkt")
        .groupBy(id_col)
        .agg(
            F.sum("m").cast("long").alias("n_tokens"),
            # + 0.0 folds IEEE -0.0 to +0.0: a tiny negative weight sum
            # rounds to -0.0 in sign-preserving engines (DuckDB) but 0.0
            # here — equal under ==, different under repr-level hashing
            (F.round(F.sum(F.col("m") * F.col("lp")), round_to) + F.lit(0.0)).alias(
                "log_weight"
            ),
        )
    )


def training_order_interleave(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    epoch: int = 0,
) -> DataFrame:
    """Deterministic epoch-shuffled, source-interleaved training order:
    every document gets a global `position` such that reading in position
    order (a) visits each source round-robin (no source-contiguous runs —
    the curriculum property batch-wise mixing needs) and (b) permutes
    WITHIN each source by a seeded hash (the epoch shuffle), reproducibly
    across runs, engines, and partitionings.

        source_rank = rank of the doc inside its source, ordered by
                      md5('ep{epoch}:' || doc_id)
        position    = (source_rank - 1) · n_sources + source_index

    Scale design: position is COMPUTED, not assigned by a global
    row_number — a global window would funnel 100 TB through one
    reducer. The only window is per-source (bounded by the largest
    source; for a handful of giant sources the same rank is obtained
    with the standard per-partition-count prefix-sum offset, plan
    unchanged downstream), and the source-index dim is a tiny broadcast.
    Positions are strictly ordered but not contiguous once short sources
    exhaust — harmless for a sort key.
    """
    from pyspark.sql import Window

    seed = F.lit(f"ep{epoch}:")
    shuffle_key = F.md5(F.concat(seed, F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(shuffle_key, F.col(id_col))

    sdim = df.select(group_col).distinct()
    sidx = sdim.select(
        group_col,
        F.row_number()
        .over(Window.orderBy(group_col))
        .alias("__si"),  # tiny dim: the one legitimate global window
    )
    n_sources = sdim.count()

    ranked = df.select(
        F.col(id_col),
        F.col(group_col),
        F.row_number().over(w).cast("long").alias("source_rank"),
    )
    # NULL-SAFE join: sdim/row_number give a NULL group its own source
    # index, but a plain equi-join on the column name never matches
    # NULL = NULL — every NULL-source doc would silently vanish from
    # the training order
    return (
        ranked.join(F.broadcast(sidx), ranked[group_col].eqNullSafe(sidx[group_col]))
        .drop(sidx[group_col])
        .select(
            id_col,
            group_col,
            "source_rank",
            ((F.col("source_rank") - 1) * n_sources + F.col("__si") - 1)
            .cast("long")
            .alias("position"),
        )
        .orderBy("position")
    )


def holdout_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float] | None = None,
    buckets: int = BUCKETS,
) -> DataFrame:
    """Deterministic train/val/test assignment from the same md5 bucket
    as stratified_sample: cumulative bucket ranges over `splits`
    (insertion order), e.g. {"train": 0.9, "val": 0.05, "test": 0.05} ->
    buckets [0,9000) train, [9000,9500) val, [9500,10000) test.

    Why hash ranges and not df.randomSplit: the assignment is a pure
    per-row expression — reproducible across runs, engines, and corpus
    versions (a document keeps its split when the corpus grows, so eval
    contamination can't creep in through resampling), shuffle-free, and
    exactly reproducible in SQL for the oracle. Rates that don't sum to
    1 leave a remainder of unassigned rows (label NULL) — useful as a
    discard band.
    """
    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    bucket = hash_bucket(F.col(key_col), buckets)
    label: Column = F.lit(None).cast("string")
    lo = 0
    cases = []
    for name, rate in splits.items():
        hi = lo + bucket_threshold(rate, buckets)
        cases.append((name, lo, hi))
        lo = hi
    for name, lo_b, hi_b in reversed(cases):
        label = F.when((bucket >= lo_b) & (bucket < hi_b), F.lit(name)).otherwise(label)
    return df.withColumn("split", label)


def temperature_mix_weights(
    df: DataFrame,
    alpha: float = 0.3,
    text_col: str = "text",
    group_col: str = "source",
    round_to: int = 6,
) -> DataFrame:
    """Temperature-scaled mixture sampling weights (the mT5/XLM-R
    p_s ∝ share_s^α law, α ∈ (0, 1]): soften the corpus's natural token
    distribution toward uniform WITHOUT fully flattening it — low-resource
    domains are boosted, head domains tamed, and α tunes how far
    (α=1 natural mix, α→0 uniform; source_mix_weights is the α→0 limit
    as explicit down-sampling rates).

        target_share(s) = share(s)^α / Σ_t share(t)^α
        mix_factor(s)   = target_share(s) / share(s)   (per-doc sampling
                          odds multiplier realizing the target)

    Same plan shape as source_mix_weights: one corpus groupBy, the two
    scalar reductions (total tokens, normalizer) ride broadcast one-row
    joins — nothing corpus-sized shuffles twice.
    """
    from meteor_spark.operators.text import normalize_text, words

    s = df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(words(normalize_text(F.col(text_col))))).cast("long").alias("n_tokens"),
    )
    tot = s.agg(F.sum("n_tokens").cast("double").alias("total"))
    shared = s.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("total")).alias("share"),
        F.pow(F.col("n_tokens") / F.col("total"), F.lit(alpha)).alias("pa"),
    )
    z = shared.agg(F.sum("pa").alias("z"))
    return shared.crossJoin(F.broadcast(z)).select(
        group_col,
        "n_docs",
        "n_tokens",
        F.round("share", round_to).alias("token_share"),
        F.round(F.col("pa") / F.col("z"), round_to).alias("target_share"),
        F.round((F.col("pa") / F.col("z")) / F.col("share"), round_to).alias("mix_factor"),
    )


def token_budget_allocation(
    df: DataFrame,
    budget_factor: int = 2,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Token-budget planner: given the corpus's per-source token counts
    and a global training budget (budget_factor x total corpus tokens),
    allocate budget tokens per source under a sqrt-temperature mix
    (alpha = 0.5) and report the implied epoch count — "how many passes
    over each source does this mix actually mean", the question a
    data-mixing plan has to answer before a run is priced.

    Bit-stable by construction, no float sums anywhere:
      weight_milli = floor(sqrt(n_tokens)·1e3 + 0.5)   — sqrt is IEEE
        correctly-rounded (unlike pow), so both engines produce the
        identical double, and the one multiply+floor is identical too;
      share_ppm    = floor(weight·1e6 / Σweights)       — ppm_expr keeps
        every intermediate in int64;
      alloc_tokens = budget·share_ppm / 1e6             — exact int64 for
        budgets to ~9.2e12 tokens (tens of TB); past that, shard or
        rescale per the ppm_expr playbook;
      epochs_ppm   = floor(alloc·1e6 / n_tokens)        — ppm again.
    The plan is one corpus groupBy plus broadcast one-row scalars —
    nothing corpus-sized shuffles twice (same shape as
    temperature_mix_weights)."""
    from meteor_spark.functions.exactmath import ppm_expr
    from meteor_spark.operators.text import normalize_text, words

    s = df.groupBy(group_col).agg(
        F.sum(F.size(words(normalize_text(F.col(text_col))))).cast("long").alias("n_tokens"),
    )
    w = F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1e3 + F.lit(0.5)).cast("long")
    s = s.withColumn("weight_milli", w)
    z = s.agg(
        F.sum("weight_milli").alias("z"),
        (F.sum("n_tokens") * budget_factor).cast("long").alias("budget"),
    )
    out = s.crossJoin(F.broadcast(z))
    share_ppm = F.expr(ppm_expr("weight_milli", "z", "div")).cast("long")
    out = out.withColumn("share_ppm", share_ppm)
    # integer floor, not double division: budget*share_ppm stays int64
    # (budget <= 9.2e12 bound documented above)
    alloc = F.expr("(budget * share_ppm) div 1000000").cast("long")
    out = out.withColumn("alloc_tokens", alloc)
    epochs = F.expr(ppm_expr("alloc_tokens", "n_tokens", "div")).cast("long")
    return out.select(
        group_col, "n_tokens", "weight_milli", "share_ppm",
        "alloc_tokens", epochs.alias("epochs_ppm"),
    )


def mw_domain_reweight(
    df: DataFrame,
    iters: int = 8,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """DoReMi-shaped domain reweighting via multiplicative weights:
    starting from uniform, each iteration upweights domains whose loss
    proxy EXCEEDS the current mixture's weighted average and
    downweights the rest (Group-DRO dynamics — the mixture chases the
    domains the current mixture is worst on). The loss proxy here is a
    deterministic corpus statistic (per-domain token mass in ppm of
    the largest domain — a real model's excess loss drops in without
    changing the update); the UPDATE is the product:

      center(t)   = Σ_d w_t(d) · loss(d) / 1e6          (exact int)
      excess(d)   = loss(d) − center(t)                  ∈ [−1e6, 1e6]
      factor(d)   = 1e6 + ((excess + 1e6) // 4 − 250000) (η = 1/4,
                    shifted before the floor-div so NEGATIVE division
                    never happens — Spark div truncates toward zero
                    while DuckDB // floors, and they disagree exactly
                    and only on negative operands)
      w_{t+1}(d)  = floor(w_t(d) · factor(d) · 1e6 / Σ raw)  (ppm_expr)

    All int64 throughout (w ≤ 1e6, factor ≤ 1.25e6 ⇒ raw ≤ 1.25e12;
    Σ raw over ≤ 7000 domains stays under ppm_expr's 9.2e15 divisor
    bound). The iteration state is DOMAIN-count-sized: one corpus
    groupBy computes the loss proxy, then each step is arithmetic on K
    integers — collected once, iterated exactly in driver ints (the
    bounded-collect pattern of power_iteration_pc1: K = |domains|,
    never corpus rows), and the final weights return as one K-row
    frame. The DuckDB oracle replays every iteration through chained
    MATERIALIZED CTEs and must match bit-for-bit."""
    from meteor_spark.operators.text import normalize_text, words

    s = df.groupBy(group_col).agg(
        F.sum(F.size(words(normalize_text(F.col(text_col)))))
        .cast("long")
        .alias("n_tokens"),
    )
    rows = sorted((r[group_col], r["n_tokens"]) for r in s.collect())
    if not rows:
        return s.select(
            group_col,
            F.col("n_tokens"),
            F.lit(0).cast("long").alias("loss_ppm"),
            F.lit(0).cast("long").alias("weight_ppm"),
        )
    mx = max(n for _, n in rows)
    loss = {d: (n * 1_000_000) // mx for d, n in rows}
    k = len(rows)
    w = {d: 1_000_000 // k for d, _ in rows}
    for _ in range(iters):
        center = sum(w[d] * loss[d] for d in w) // 1_000_000
        raw = {
            d: w[d] * (1_000_000 + ((loss[d] - center + 1_000_000) // 4 - 250_000))
            for d in w
        }
        tot = sum(raw.values())
        w = {d: (raw[d] * 1_000_000) // tot for d in w}
    spark = df.sparkSession
    out = spark.createDataFrame(
        [(d, n, loss[d], w[d]) for d, n in rows],
        f"{group_col} string, n_tokens long, loss_ppm long, weight_ppm long",
    )
    return out




def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """2-D Pareto frontier (skyline operator): keep every row not
    DOMINATED on the (x, y) criteria — e dominates d iff x_e >= x_d,
    y_e >= y_d, and at least one is strict. Classic multi-criteria
    curation shape: "no doc on the frontier is beaten on BOTH length
    and lexical quality at once". Equal (x, y) points do not dominate
    each other — duplicates of a frontier point all survive.

    No O(N^2) self-join anywhere. d is dominated iff

        max(y  |  x' > x)  >= y      (strictly greater x, y at least equal)
     OR max(y  |  x' = x)  >  y      (same x, strictly greater y)

    Two phases:
    - Phase 1 (NARROW, shuffle-free): an Arrow-batched mapInPandas
      prefilter applies the exact dominance rule WITHIN each batch
      (sort by x desc, exclusive running max of per-x y-max). Correct
      for any batching: the global frontier is a subset of the union
      of local frontiers — a dominator in d's own batch removes d
      locally, dominators elsewhere are phase 2's job. On real data
      this leaves ~frontier-sized survivors per batch.
    - Phase 2 (exact, tiny): the same rule as two window functions
      over an integer ORDER BY x (rangeBetween(1, unbounded) for the
      strict-x case, partitionBy(x) for ties) — one single-partition
      sort over phase-1 survivors, never over N.

    Output is the exact global frontier regardless of partitioning
    (pinned by a partition-invariance test)."""
    from pyspark.sql import Window

    def _local(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            gmax = pdf.groupby(x_col)[y_col].transform("max")
            grp = pdf.groupby(x_col)[y_col].max().sort_index(ascending=False)
            # max y over strictly greater x — cast to nullable Int64
            # BEFORE shift: a plain shift(1) promotes int64 to float64
            # (NaN hole), and above 2^53 the m1 >= y comparison could
            # spuriously hold and drop a true frontier row that phase 2
            # cannot restore. Int64 keeps the running max exact.
            prior = grp.cummax().astype("Int64").shift(1)
            m1 = pdf[x_col].map(prior).astype("Int64")
            keep = (pdf[y_col] == gmax) & ~(m1 >= pdf[y_col]).fillna(False)
            yield pdf[keep]

    survivors = df.mapInPandas(_local, schema=df.schema)

    w_gt = (
        Window.orderBy(F.col(x_col).asc())
        .rangeBetween(1, Window.unboundedFollowing)
    )
    w_eq = Window.partitionBy(x_col)
    dominated = F.coalesce(
        F.max(y_col).over(w_gt) >= F.col(y_col), F.lit(False)
    ) | (F.max(y_col).over(w_eq) > F.col(y_col))
    return (
        survivors.withColumn("__dom", dominated)
        .filter(~F.col("__dom"))
        .drop("__dom")
    )


def quota_apportionment(
    df: DataFrame,
    group_col: str,
    budget: int,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an integer budget
    across groups in proportion to their row counts — the exact answer
    to "split 1000 sampling slots across sources fairly" that naive
    per-group rounding gets wrong (floors under-allocate, rounds can
    over-allocate; Hamilton hands the Σfloor shortfall to the largest
    fractional remainders, so seats always sum EXACTLY to the budget).

    All-integer: floor_i = (B * n_i) div N, remainder_i = (B * n_i)
    mod N, and the (B - Σ floor_i) leftover seats go to the largest
    remainders (ties by group name — fully deterministic). int64-safe
    while B * n_i < 9.2e18; with B in the thousands that is ~1e15 rows
    per group — shard the budget past that.

    Scale: one map-side-combined groupBy to counts, then every
    scalar (total, leftover) is a GLOBAL WINDOW over the group-count-
    sized frame — one single-partition exchange of |groups| rows, no
    scalar-agg re-joins, the fact table scanned once. Returns
    (group, n_rows, floor_seats, extra, seats)."""
    from pyspark.sql import Window

    counts = df.groupBy(group_col).agg(F.count("*").alias("n_rows"))
    w_all = Window.partitionBy()
    base = counts.withColumn(
        "n_total", F.sum("n_rows").over(w_all).cast("long")
    ).select(
        group_col,
        "n_rows",
        F.expr(f"({budget} * n_rows) div n_total").cast("long").alias("floor_seats"),
        F.expr(f"({budget} * n_rows) % n_total").cast("long").alias("remainder"),
    )
    w = Window.orderBy(F.col("remainder").desc(), F.col(group_col))
    return (
        base.withColumn(
            "leftover", F.lit(budget) - F.sum("floor_seats").over(w_all)
        )
        .withColumn("pos", F.row_number().over(w))
        .select(
            group_col,
            "n_rows",
            "floor_seats",
            F.when(F.col("pos") <= F.col("leftover"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("extra"),
        )
        .withColumn("seats", (F.col("floor_seats") + F.col("extra")).cast("long"))
    )


def consistent_hash_reshard(
    df: DataFrame,
    key_col: str,
    old_shards: int,
    new_shards: int,
    vnodes: int = 16,
) -> DataFrame:
    """Consistent-hashing shard assignment + movement census when the
    shard count changes — THE reshard question for any keyed store
    (band stores, feature shards, embedding indexes): how much data
    moves when capacity is added? Modulo sharding moves ~(1 - 1/new)
    of all keys; a consistent-hash ring moves only the arcs the new
    shard captures (~1/new), and every moved key lands ON the new
    shard — properties this census reports rather than asserts.

    Ring: vnodes positions per shard at p = md5int32("ring|s|j"); the
    low 6 bits encode the shard id (p*64 + s) so positions are unique
    and the successor lookup IS the assignment (no tie branch). A key
    hashes to h*64 and belongs to the shard of the smallest ring
    position >= it, wrapping to the global minimum.

    Scale: the ring is SHARD-count-sized (the kmeans/pc1 bounded-
    collect class) — each engine builds its own ring from range() +
    md5, Spark collects the <=64*vnodes longs once and embeds them as
    an array literal, and assignment is an O(|ring|) JVM filter/min
    per row: no shuffle, no expand, corpus scanned once. The census
    groupBy carries <= old*new keys.

    Returns (old_shard, new_shard, n_keys, share_ppm) for MOVED keys
    (share over all keys), ordered; empty when new == old."""
    from meteor_spark.functions.exactmath import ppm_expr

    spark = df.sparkSession

    def ring(n: int) -> list[int]:
        rd = spark.range(n * vnodes).selectExpr(
            f"conv(substring(md5(concat('ring|', CAST(id div {vnodes} AS STRING),"
            f" '|', CAST(id % {vnodes} AS STRING))), 1, 8), 16, 10)"
            f" * 64 + id div {vnodes} AS p"
        )
        return sorted(r["p"] for r in rd.collect())

    def assign(col_positions: list[int]):
        # the key hash is a pre-projected COLUMN, not an expression
        # inlined into the lambda body: the interpreted HOF filter
        # evaluates its predicate per ring element, so an embedded
        # md5+conv ran |ring| times per row per ring (1.4M extra md5s
        # at 5k keys) — and both rings share the one hash column
        arr = F.lit(col_positions)
        return F.coalesce(
            F.array_min(F.filter(arr, lambda x: x >= F.col("__h64"))),
            F.lit(min(col_positions)),
        ) % 64

    h64 = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        * 64
    )
    assigned = df.select(h64.alias("__h64")).select(
        assign(ring(old_shards)).cast("long").alias("old_shard"),
        assign(ring(new_shards)).cast("long").alias("new_shard"),
    )
    moved = (
        assigned.groupBy("old_shard", "new_shard")
        .agg(F.count("*").alias("n_keys"))
    )
    total = assigned.agg(F.count("*").cast("long").alias("n_total"))
    return (
        moved.filter(F.col("old_shard") != F.col("new_shard"))
        .join(F.broadcast(total))
        .select(
            "old_shard",
            "new_shard",
            F.col("n_keys").cast("long").alias("n_keys"),
            F.expr(ppm_expr("n_keys", "n_total", "div")).cast("long").alias("share_ppm"),
        )
    )
