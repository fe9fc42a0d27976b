"""Similarity search over embedding columns (array<float>).

Beyond-reference operators (BASELINE.json north star):

- brute-force cosine top-k: the exactness baseline. Query set x corpus
  equi-free join with the query side broadcast (queries << corpus in any
  real ANN workload), dot products via zip_with/aggregate — built-in
  higher-order functions, JVM-side, no UDF. Top-k via window row_number
  partitioned by query.

- LSH-bucketed ANN (random hyperplane / SRP): the scale path. Each
  vector gets a deterministic n-bit signature: bit i = sign(v · h_i)
  where hyperplane h_i's components are derived from md5(i, j) — no
  stored model, reproducible on any engine. Candidates = signature
  bucket collisions (optionally multi-probe by also matching Hamming-1
  neighbors); exact cosine re-ranks within buckets. At 100 TB the
  bucket join replaces the full cross product with a shuffle on the
  signature key.

- IVF-style variant: k-means-free coarse quantizer using the top
  hyperplane bits as cells; same join shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from meteor_spark.io import persist


def _sql_double(x: float) -> str:
    """Render one double as an exact SQL literal. Python's repr emits the
    shortest decimal that round-trips to the same IEEE-754 double, and
    Java's Double.parseDouble is correctly rounding, so `repr(x) + "D"`
    parses back to the identical bits (non-finite values have no SQL
    literal form and are rejected — no caller produces them)."""
    x = float(x)
    if x != x or x in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite double literal: {x!r}")
    return repr(x) + "D"


def render_double_array(vals) -> str:
    """`array(...)` SQL text for a list of doubles (see lit_double_array)."""
    return "array(" + ",".join(_sql_double(v) for v in vals) + ")"


def lit_double_array(vals) -> Column:
    """array<double> literal rendered as ONE SQL string through F.expr.

    The element-wise form `F.array(*[F.lit(x) for x in vals])` costs one
    py4j round-trip per element — measured ~0.66s of pure DRIVER time per
    8x64-component construction (the kmeans assign expression), invoked
    per iteration. The parsed expression tree (CreateArray of double
    Literals) is identical, so plans and results are bit-identical;
    only the driver-side construction cost changes. Same class of win as
    io._bucket_search_expr (round 12)."""
    if not vals:
        return F.array().cast("array<double>")
    return F.expr(render_double_array(vals))


def lit_long_array(vals) -> Column:
    """array<bigint> literal as ONE SQL string (see lit_double_array)."""
    if not vals:
        return F.array().cast("array<bigint>")
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in vals) + ")")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    round_to: int = 4,
) -> DataFrame:
    """Exact cosine top-k per query: (query_id, neighbor_id, cos) rows.

    The query side is broadcast — the corpus is never shuffled, each
    partition scores its slice and the per-query top-k is a single
    window over (queries x corpus) after local pruning.
    """
    # norms projected once per row below the join (N+Q evaluations, not
    # 2·N·Q): same doubles in the same order -> rounded cosine unchanged
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), round_to
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _hyperplane_component(bit: int, j: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1] from
    md5 — reproducible across engines and sessions, no stored model."""
    import hashlib

    h = hashlib.md5(f"{bit}:{j}".encode()).hexdigest()
    return int(h[:8], 16) / float(0x7FFFFFFF) - 1.0


def srp_signature(vec: Column, dim: int, bits: int = 8) -> Column:
    """n-bit signed-random-projection signature as a long.

    Hyperplanes are literal arrays (built once, driver-side, ~bits*dim
    doubles — broadcast as part of the plan), so the signature is pure
    codegen arithmetic per row.
    """
    sig = F.lit(0).cast("long")
    for b in range(bits):
        plane = lit_double_array([_hyperplane_component(b, j) for j in range(dim)])
        bit = (dot(vec.cast("array<double>"), plane) > 0).cast("long")
        sig = sig + F.shiftleft(bit, b)
    return sig


def srp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    bits: int = 8,
    round_to: int = 4,
) -> DataFrame:
    """ANN via SRP bucket collision + exact re-rank within buckets.

    Recall is tunable with `bits` (fewer bits -> bigger buckets -> higher
    recall, more compute). The candidate join is an equi-join on the
    signature, so it scales with bucket sizes, not corpus^2.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        srp_signature(F.col(vec_col), dim, bits).alias("sig"),
    ).withColumn("cn", norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        srp_signature(F.col(vec_col), dim, bits).alias("sig"),
    ).withColumn("qn", norm(F.col("qv")))
    scored = (
        c.join(F.broadcast(q), "sig")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), round_to
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    round_to: int = 4,
) -> DataFrame:
    """IVF-style ANN: k-means coarse quantizer + multi-probe + exact re-rank.

    Index build = one KMeans fit (seeded, deterministic) + one pass
    assigning each corpus vector to its cell. Search = each query probes
    its n_probe nearest centroids, candidates are the union of those
    cells (an equi-join on cell id — scales with cell sizes, not corpus
    size), then exact cosine re-ranks. Recall/latency tunes with
    n_cells x n_probe, the classic IVF trade.

    On a real cluster the assigned corpus would be written partitioned by
    cell (partition pruning turns a query into n_probe partition reads).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    corpus_v = persist(corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    ))  # KMeans makes one pass per iteration; never re-read parquet
    # random init (seeded, deterministic) skips the k-means|| init jobs;
    # quantizer cells only need to be roughly balanced, not optimal, so a
    # short iteration budget is plenty
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="features", predictionCol="cell", initMode="random", maxIter=5
    ).fit(corpus_v)
    assigned = model.transform(corpus_v).select(
        "neighbor_id", F.col("cv").cast("array<double>").alias("cv"), "cell"
    ).withColumn("cn", norm(F.col("cv")))

    centers = [list(map(float, c)) for c in model.clusterCenters()]
    centers_arr = F.expr("array(" + ",".join(render_double_array(c) for c in centers) + ")")
    # per query: rank centroids by cosine, keep n_probe cells
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    probes = (
        q.select("query_id", "qv", F.posexplode(centers_arr).alias("cell", "center"))
        .withColumn("c_cos", cosine(F.col("qv").cast("array<double>"), F.col("center")))
        .withColumn("p_rank", F.row_number().over(Window.partitionBy("query_id").orderBy(F.col("c_cos").desc(), "cell")))
        .filter(F.col("p_rank") <= n_probe)
        .select("query_id", F.col("qv").cast("array<double>").alias("qv"), "cell")
        .withColumn("qn", norm(F.col("qv")))
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), round_to
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_pivot_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 3,
    round_to: int = 4,
) -> DataFrame:
    """IVF ANN with a hash-pivot coarse quantizer — the exactly-checkable
    sibling of ivf_topk.

    Cells are the n_cells corpus vectors with the smallest
    md5(CAST(id AS VARCHAR)) — deterministic "random" pivots, no
    iterative fit — so a SQL oracle rebuilds pivots, cell assignment,
    query probes, and final ranks value-for-value (Spark ML KMeans'
    seeded init is engine-internal and NOT SQL-reproducible, which is
    why ivf_topk can only be rows-only gated). Pivot-sampled IVF is a
    legitimate quantizer in its own right (random-pivot coarse
    quantizers trade a little cell balance for zero training).

    Scale shape: the pivot set is a bounded driver-side collect
    (n_cells · dim doubles); pivots are UNIT-normalized driver-side so
    cell assignment ranks by dot(v, unit_pivot) — order-identical to
    cosine (the row norm is a constant positive factor across pivots)
    but needs no per-pivot norm folds, cutting the assignment work per
    row ~3x vs the cosine fold it replaces. The dots stay higher-order
    functions (zip_with/aggregate): a fully literal-expanded dot was
    measured SLOWER here (8 cells x 64 dims blows janino's 64 KB method
    limit, so whole-stage codegen fails and the whole scan stage falls
    back — 4.5s vs 2.0s at sf0.1), while HOFs evaluate inline inside
    the codegen'd stage. Assignment is SHUFFLE-FREE: argmax via
    array_min over (-dot, hash_ord, cell) structs, first-in-hash-order
    on exact ties. Search = multi-probe (each query ranks pivots by the
    same unit-dot, keeps n_probe cells) + exact cosine re-rank within
    probed cells, the same bucket equi-join shape as ivf_topk.
    Tie robustness: the oracle ranks by cosine(v, pivot); dot(v, unit
    pivot) agrees except on sub-ulp near-ties between two pivots, which
    real-valued embeddings don't produce (parity-verified at sf0.01).
    """
    import math

    pivot_rows = (
        corpus.select(
            F.col(id_col).cast("long").alias("cell"),
            F.col(vec_col).cast("array<double>").alias("pv"),
            F.md5(F.col(id_col).cast("string")).alias("__h"),
        )
        .orderBy("__h")
        .limit(n_cells)
        .collect()
    )

    def py_norm(v) -> float:
        s = 0.0
        for x in v:
            s += x * x
        return math.sqrt(s)

    # unit pivots computed with sequential sums — the exact arithmetic
    # the oracle's sqrt(list_dot_product)/divide performs
    units = []
    for r in pivot_rows:
        n = py_norm(r["pv"])
        units.append((int(r["cell"]), [float(x) / n for x in r["pv"]]))

    centers_arr = F.expr(
        "array("
        + ",".join(
            f"struct({o} AS o, {int(cid)}L AS cell, {render_double_array(up)} AS up)"
            for o, (cid, up) in enumerate(units)
        )
        + ")"
    )

    def best_cell(vec: Column) -> Column:
        cands = F.transform(
            centers_arr,
            lambda c: F.struct(
                (-dot(vec, c["up"])).alias("ns"), c["o"].alias("o"), c["cell"].alias("cell")
            ),
        )
        return F.array_min(cands)["cell"]

    assigned = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        .withColumn("cn", norm(F.col("cv")))
        .withColumn("cell", best_cell(F.col("cv")))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    probes = (
        q.select("query_id", "qv", F.explode(centers_arr).alias("c"))
        .withColumn("c_dot", dot(F.col("qv"), F.col("c.up")))
        .withColumn(
            "p_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.col("c_dot").desc(), F.col("c.cell"))
            ),
        )
        .filter(F.col("p_rank") <= n_probe)
        .select("query_id", "qv", F.col("c.cell").alias("cell"))
        .withColumn("qn", norm(F.col("qv")))
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), round_to
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pq_pivot_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    m: int = 16,
    n_codes: int = 8,
    n_candidates: int = 64,
    round_to: int = 4,
) -> DataFrame:
    """Product-quantization ANN with a hash-pivot codebook — the
    exactly-checkable sibling of pq_topk (whose numpy-kmeans codebook
    uses pairwise float summation no SQL engine reproduces bitwise).

    Codebook: the n_codes corpus vectors with smallest md5(id),
    L2-normalized, each split into m subspaces — no training, fully
    deterministic. Every float op is arranged to be bit-identical on
    any engine with sequential left-to-right reductions:

    - normalization divides by sqrt(sequential sum of squares);
    - the per-subspace code is argmin of (||c_j||² - 2·x_j·c_j) — the
      row-constant ||x_j||² dropped so the comparison is two dots and
      two flops; strict < keeps the lowest code index on exact ties;
    - the asymmetric-distance score is the m per-subspace LUT dots
      summed by a LEFT-ASSOCIATIVE + chain (DuckDB mirrors with
      list_reduce over the terms ordered by subspace).

    Search: score every corpus code against each query (PQ scans codes
    by design — the codes are m bytes, the point of PQ at 100 TB), keep
    the global top n_candidates per query, exact-cosine re-rank the
    candidates' raw vectors to top k. The scoring join broadcasts the
    query side; codes, not vectors, flow through the window.
    """
    import math

    pivot_rows = (
        corpus.select(
            F.col(vec_col).cast("array<double>").alias("pv"),
            F.md5(F.col(id_col).cast("string")).alias("__h"),
        )
        .orderBy("__h")
        .limit(n_codes)
        .collect()
    )
    if not pivot_rows:
        raise ValueError("pq_pivot_topk: empty corpus")
    # dim from the already-collected pivots — the separate first() job
    # this replaced cost one extra full corpus scan per call
    dim = len(pivot_rows[0]["pv"])
    if m <= 0 or dim % m != 0:
        raise ValueError(f"pq: dim ({dim}) must divide evenly into m ({m}) subspaces")
    d_sub = dim // m

    def py_dot(a: list, b: list) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    centroids: list[list[float]] = []
    for r in pivot_rows:
        n = math.sqrt(py_dot(r["pv"], r["pv"]))
        centroids.append([float(x) / n for x in r["pv"]])
    # per (subspace, code): the centroid subvector and its squared norm
    cent_sub = [
        [c[j * d_sub : (j + 1) * d_sub] for c in centroids] for j in range(m)
    ]
    cent_yy = [[py_dot(s, s) for s in subs] for subs in cent_sub]

    def _normed(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        # norm projected once per row, then one element-wise divide
        return (
            df.select(
                F.col(id_col).alias(out_id),
                F.col(vec_col).cast("array<double>").alias("__v"),
            )
            .withColumn("__n", norm(F.col("__v")))
            .select(
                out_id,
                F.transform(F.col("__v"), lambda x: x / F.col("__n")).alias(out_vec),
            )
        )

    base = _normed(corpus, "neighbor_id", "nv")

    # The codebook rides a 128-row broadcast frame and every per-row
    # expression stays small — an earlier formulation inlined all
    # m x n_codes literal subvectors into one projection and blew janino's
    # 64 KB generated-method limit (codegen fallback, 2x slower).
    spark = corpus.sparkSession
    ct = spark.createDataFrame(
        [(j, c, cent_sub[j][c], cent_yy[j][c]) for j in range(m) for c in range(n_codes)],
        "j int, c int, cs array<double>, yy double",
    )

    def dot_sub(a: Column, b: Column) -> Column:
        # element-wise expanded dot over d_sub components: codegen'd,
        # left-associative — the oracle's list_dot_product order
        acc = F.element_at(a, 1) * F.element_at(b, 1)
        for t in range(1, d_sub):
            acc = acc + F.element_at(a, t + 1) * F.element_at(b, t + 1)
        return acc

    subs = base.select(
        "neighbor_id",
        F.posexplode(
            F.array(*[F.slice(F.col("nv"), j * d_sub + 1, d_sub) for j in range(m)])
        ).alias("j", "xs"),
    )
    # per (vector, subspace): argmin code, ties -> lowest c (min_by on
    # the (s, c) struct = the oracle's ORDER BY s, c); the winning
    # centroid subvector rides along for the ADC stage
    enc = (
        subs.join(F.broadcast(ct), "j")
        .select(
            "neighbor_id",
            "j",
            "c",
            "cs",
            (F.col("yy") - 2.0 * dot_sub(F.col("xs"), F.col("cs"))).alias("s"),
        )
        .groupBy("neighbor_id", "j")
        .agg(
            F.min_by(
                F.struct(F.col("c"), F.col("cs")), F.struct(F.col("s"), F.col("c"))
            ).alias("best")
        )
        .select("neighbor_id", "j", F.col("best.cs").alias("cs"))
    )

    q = _normed(queries, "query_id", "qnv")

    def dot_sub_at(qv: Column, j: Column, b: Column) -> Column:
        acc = F.element_at(qv, j * d_sub + 1) * F.element_at(b, 1)
        for t in range(1, d_sub):
            acc = acc + F.element_at(qv, j * d_sub + t + 1) * F.element_at(b, t + 1)
        return acc

    term = enc.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        "j",
        dot_sub_at(F.col("qnv"), F.col("j"), F.col("cs")).alias("t"),
    )
    # ADC = the m subspace terms summed IN SUBSPACE ORDER (array_sort on
    # (j, t) structs, then a sequential fold) — matches the oracle's
    # list_reduce(list(t ORDER BY j))
    adc_df = (
        term.groupBy("query_id", "neighbor_id")
        .agg(F.collect_list(F.struct("j", "t")).alias("jt"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.transform(F.array_sort(F.col("jt")), lambda x: x["t"]),
                F.lit(0.0),
                lambda a, b: a + b,
            ).alias("adc"),
        )
    )
    w_c = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), "neighbor_id")
    cand = (
        adc_df.withColumn("crank", F.row_number().over(w_c))
        .filter(F.col("crank") <= n_candidates)
        .select("query_id", "neighbor_id")
    )

    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    rescored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), round_to
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return rescored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    bits: int = 8,
    dim: int | None = None,
    round_to: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, cos >= threshold) via SRP
    blocking + exact verification — the embedding twin of MinHash LSH."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    # persist: both sides of the self-join would otherwise recompute the
    # bits*dim-term signature expression from raw vectors
    sigs = persist(df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("v"),
        srp_signature(F.col(vec_col), dim, bits).alias("sig"),
    ).withColumn("nv", norm(F.col("v"))))
    l, r = sigs.alias("l"), sigs.alias("r")
    return (
        l.join(r, "sig")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.round(
                dot(F.col("l.v"), F.col("r.v")) / (F.col("l.nv") * F.col("r.nv")), round_to
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .distinct()
    )


def semantic_assign(
    df: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its nearest seed centroid by cosine
    (ties -> lowest cluster id): the coarse clustering step of SemDeDup
    (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    through semantic deduplication").

    Seeds are the `n_clusters` lowest-id vectors — a deterministic
    zero-iteration quantizer, reproducible on any engine (the oracle
    re-derives the identical seeds in SQL). The seed matrix is collected
    driver-side (n_clusters x dim doubles — KB-scale, a broadcast dim in
    spirit) and inlined as literal arrays, so assignment is pure codegen
    arithmetic per row: one scan, no shuffle, no UDF. At 100 TB the
    seeds would come from a deterministic sample instead of a LIMIT, and
    n_clusters grows ~sqrt(N) so cluster sizes stay bounded.
    """
    seeds = [
        [float(x) for x in r[0]]
        for r in df.orderBy(id_col).limit(n_clusters).select(vec_col).collect()
    ]
    v = F.col(vec_col).cast("array<double>")
    # argmax by (cos, -cluster): struct max is lexicographic, so equal
    # cosines deterministically pick the LOWEST cluster id
    scored = F.array(
        *[
            F.struct(
                cosine(v, lit_double_array(s)).alias("c"),
                F.lit(-ci).alias("nc"),
            )
            for ci, s in enumerate(seeds)
        ]
    )
    cluster = (-F.array_max(scored).getField("nc")).cast("int")
    return df.select(F.col(id_col), v.alias("v"), cluster.alias("cluster"))


def semantic_dedup_pairs(
    assigned: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    round_to: int = 4,
    blocks: int = 8,
) -> DataFrame:
    """SemDeDup semantic near-dup pairs: within-cluster cosine >= threshold,
    over a `semantic_assign` output frame (persist it — both sides of the
    self-join read it).

    The pairing self-join is an equi-join on the cluster id — the point
    of the coarse quantizer is that candidate generation scales with
    sum(cluster_size^2), never corpus^2. Join-key cardinality is only
    n_clusters though, which caps parallelism at n_clusters tasks and
    serialized the hottest cluster on one core at 100x (measured r11) —
    so the join key is 2D-BLOCKED: left rows carry (cluster, bi(id), j)
    for every j, right rows (cluster, i, bj(id)) for every i, and the
    equi-join on (cluster, i, j) meets every pair EXACTLY once in task
    (bi(l), bj(r)). Work and output are unchanged; parallelism grows
    x blocks^2 and shuffle input x blocks (input-linear — trivia next
    to the pair compute it unlocks). Exact given the seeds: every
    within-cluster pair is scored, so the DuckDB oracle reproduces the
    full result, unlike probabilistic LSH.

    Norms are projected ONCE PER ROW below the join (2N evaluations)
    instead of inside the pair expression (2·Σcluster² evaluations) —
    the same doubles in the same order, so the rounded cosine is
    bit-identical to the naive form, measurably cheaper at pair counts.
    """
    sided = assigned.withColumn("__nv", norm(F.col("v")))
    grid = F.array(*[F.lit(k) for k in range(blocks)])
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)).cast("int")
    # the probe side must be SPREAD before the join: when Catalyst picks
    # a broadcast join (it does here — the build side fits), the stream
    # side keeps its INPUT partitioning, and a single-file fixture scan
    # is ONE partition — measured at 100x as the whole quadratic pair
    # compute serialized on one core. A round-robin repartition of the
    # input-linear probe rows parallelizes the broadcast case; in the
    # shuffle-join case (real-cluster build sides) the (cluster, i, j)
    # exchange below subsumes it.
    par = max(assigned.sparkSession.sparkContext.defaultParallelism, 8)
    # Repartition ONCE before deriving both aliases: whichever side
    # Catalyst picks as broadcast build (both have near-identical size
    # estimates), the other — the stream side that inherits input
    # partitioning — is already spread, so a planner stats tiebreak
    # can't re-serialize the pair compute on one core.
    sided = sided.repartition(par)
    l = (
        sided.withColumn("__bi", blk)
        .withColumn("__bj", F.explode(grid))
        .alias("l")
    )
    r = (
        sided.withColumn("__bj", blk)
        .withColumn("__bi", F.explode(grid))
        .alias("r")
    )
    return (
        l.join(r, ["cluster", "__bi", "__bj"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            "cluster",
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.round(
                dot(F.col("l.v"), F.col("r.v")) / (F.col("l.__nv") * F.col("r.__nv")),
                round_to,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semantic_dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup keep-set: drop every vector that appears as the higher id
    of a qualifying pair (min-id representative per semantic match —
    SemDeDup's 'keep one per duplicate group' with a deterministic,
    SQL-expressible survivor rule). Anti-join: no new shuffle shape."""
    removed = pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(removed, id_col, "left_anti")


def make_semantic_exact_decider(threshold: float, round_to: int = 4):
    """decide_exact(x, y) for the two-zone band: left-to-right float64
    folds (Spark F.aggregate / DuckDB list_dot_product evaluation
    order) + HALF_UP decimal rounding of the shortest repr (Java
    BigDecimal.valueOf semantics, Spark's Round)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-round_to)
    tau = Decimal(str(threshold))

    def _seq_cos(x, y) -> float:
        d = 0.0
        na = 0.0
        nb = 0.0
        for xi, yi in zip(x.tolist(), y.tolist()):
            d += xi * yi
        for xi in x.tolist():
            na += xi * xi
        for yi in y.tolist():
            nb += yi * yi
        return d / (math.sqrt(na) * math.sqrt(nb))

    def decide(x, y) -> bool:
        c = Decimal(repr(_seq_cos(x, y))).quantize(q, rounding=ROUND_HALF_UP)
        return c >= tau

    return decide


def prefix_max_dropped_mask(X, boundary: float, eps: float, decide_exact) -> "object":
    """Numpy core of the pair-free SemDeDup survivor rule: row b of the
    id-sorted matrix X is DROPPED iff some earlier row's cosine clears
    `boundary` — blocked GEMM for the bulk, `decide_exact(x, y)` for
    pairs inside the ±eps band (the two-zone discipline documented on
    semantic_dedup_survivors_scalable). Shared by the Spark operator
    and the 100x scale-tier oracle; the arithmetic is pinned against
    the independent pair-join form at committed SFs
    (tests/test_similarity.py)."""
    import numpy as np

    n = len(X)
    nrm = np.sqrt(np.einsum("ij,ij->i", X, X))
    dropped = np.zeros(n, dtype=bool)
    amb: dict[int, list[int]] = {}
    B = 2048
    for i0 in range(0, n, B):
        i1 = min(i0 + B, n)
        for j0 in range(0, i1, B):
            j1 = min(j0 + B, i1)
            G = (X[i0:i1] @ X[j0:j1].T) / np.outer(nrm[i0:i1], nrm[j0:j1])
            if j0 == i0:
                # same block: only strictly-earlier columns count
                G = np.where(
                    np.arange(j0, j1)[None, :] < np.arange(i0, i1)[:, None],
                    G,
                    -2.0,
                )
            elif j0 > i0:
                continue
            hit = G >= boundary + eps
            dropped[i0:i1] |= hit.any(axis=1)
            band = (G >= boundary - eps) & ~hit
            if band.any():
                for r, c in zip(*np.nonzero(band)):
                    amb.setdefault(i0 + int(r), []).append(j0 + int(c))
    for b, cands in amb.items():
        if dropped[b]:
            continue
        if any(decide_exact(X[a], X[b]) for a in cands):
            dropped[b] = True
    return dropped


def semantic_dedup_survivors_scalable(
    assigned: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    round_to: int = 4,
) -> DataFrame:
    """SemDeDup keep-set WITHOUT materializing the pair set — the form
    that survives 100× scale-ups where the within-cluster pair join is
    quadratic (Σ cluster² ≈ 2.5e9 cosines at 200k vectors / 8 clusters).

    Identity: b is dropped iff ∃ a < b in b's cluster with
    round(cos(a, b), round_to) >= threshold — i.e. iff the PREFIX-MAX
    cosine over earlier same-cluster vectors clears the decision
    boundary. That max needs no pair rows: per cluster (one
    applyInPandas group, sorted by id), blocked GEMM computes every
    row's max cosine against all earlier rows at BLAS speed.

    Exactness contract (the reason this can share the pair-based
    gate's oracle bit-for-bit): GEMM reassociates float sums, so a
    GEMM cosine can differ from the engines' sequential fold by ~1e-13.
    Decisions are therefore two-zoned around the boundary
    (threshold - 0.5·10^-round_to): anything farther than eps=1e-9 from
    the boundary is decided by the GEMM value (the error bound is 4
    orders of magnitude smaller); pairs INSIDE the band are re-checked
    with a left-to-right float64 fold — bit-identical to Spark's
    F.aggregate and DuckDB's list_dot_product — and Spark's literal
    HALF_UP decimal rounding. On real data the band is empty or a
    handful of pairs; the recheck cost is O(band).

    Scale: flops = Σ cluster²/2 × dim — 3.2e11 at the 100× fixture,
    ~seconds of BLAS across 8 parallel groups; memory is one
    (block × block) tile at a time. At 100 TB, n_clusters grows ~sqrt(N)
    (see semantic_assign), keeping per-group state bounded."""
    import numpy as np
    import pandas as pd

    boundary = threshold - 0.5 * 10 ** (-round_to)
    eps = 1e-9
    _dropped_exact = make_semantic_exact_decider(threshold, round_to)

    def per_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        if len(pdf) <= 1:
            return pdf[[id_col, "cluster"]]
        X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        dropped = prefix_max_dropped_mask(X, boundary, eps, _dropped_exact)
        return pdf.loc[~dropped, [id_col, "cluster"]]

    return (
        assigned.select(id_col, "cluster", "v")
        .groupBy("cluster")
        .applyInPandas(per_cluster, f"{id_col} long, cluster int")
    )


def _np_kmeans(X, k: int, seed: int, iters: int = 10):
    """Tiny deterministic Lloyd's k-means (numpy) for PQ codebooks.

    PQ codebooks are always trained on a driver-side SAMPLE (the
    codebook is KB-sized); legacy RandomState guarantees reproducible
    init across runs. Empty cells keep their previous centroid."""
    import numpy as np

    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)].astype("float64").copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        for j in range(len(C)):
            pts = X[a == j]
            if len(pts):
                C[j] = pts.mean(0)
    return C


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    m: int = 16,
    n_codes: int = 32,
    n_candidates: int = 128,
    sample: int = 2048,
    seed: int = 42,
    round_to: int = 4,
) -> DataFrame:
    """Product-quantization ANN: the memory-bound scale path.

    Index: vectors are L2-normalized, split into `m` subspaces, and each
    subspace is quantized to one of `n_codes` centroids -> an m-byte code
    per vector. At 100 TB this is the point: 64 float32 (256 B) compress
    to m bytes, so a multi-billion-vector index stays in cluster memory;
    the codebook (m x n_codes x dim/m doubles) is trained driver-side on
    a deterministic sample and shipped in the task closure.

    Search (asymmetric distance): per query, a lookup table of partial
    dot products against every centroid; a vectorized mapInPandas pass
    over the CODES (never the raw vectors) scores each batch via numpy
    gathers and emits only the per-batch top `n_candidates` per query —
    map-side top-k, so the shuffle carries candidates, not the corpus.
    Global top `n_candidates` per query then re-ranks with exact cosine
    on the raw vectors of the candidates alone.

    Approximate by construction -> gated rows-only; recall pinned by
    tests against brute_force_topk.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    # ---- codebooks from a deterministic sample (driver-side, tiny)
    samp = corpus.orderBy(id_col).limit(sample).select(vec_col).collect()
    X = np.array([r[0] for r in samp], dtype="float64")
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if m <= 0 or dim % m != 0:
        # a silent dim//m would drop the trailing dim % m dimensions
        # from every code (or degenerate to empty subspaces at dim < m)
        raise ValueError(f"pq: dim ({dim}) must divide evenly into m ({m}) subspaces")
    d_sub = dim // m
    books = np.stack(
        [_np_kmeans(X[:, j * d_sub : (j + 1) * d_sub], n_codes, seed + j) for j in range(m)]
    )  # (m, n_codes, d_sub)

    # ---- encode the corpus: argmin centroid per subspace, vectorized
    code_schema = T.StructType(
        [T.StructField("neighbor_id", T.LongType()), T.StructField("codes", T.ArrayType(T.IntegerType()))]
    )

    def encode(batches):
        for pdf in batches:
            V = np.array(list(pdf[vec_col]), dtype="float64")
            V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(V), m), dtype="int32")
            for j in range(m):
                sub = V[:, j * d_sub : (j + 1) * d_sub]  # (n, d_sub)
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = d2.argmin(1)
            yield pd.DataFrame({"neighbor_id": pdf[id_col], "codes": list(codes)})

    codes_df = corpus.select(id_col, vec_col).mapInPandas(encode, schema=code_schema)

    # ---- per-query LUTs (queries are the small side: collected like a
    # broadcast; m x n_codes doubles per query)
    qrows = queries.select(id_col, vec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype="int64")
    Q = np.array([r[1] for r in qrows], dtype="float64")
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    luts = np.stack(
        [np.stack([books[j] @ q[j * d_sub : (j + 1) * d_sub] for j in range(m)]) for q in Q]
    )  # (n_q, m, n_codes)

    adc_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            codes = np.array(list(pdf["codes"]), dtype="int64")  # (n, m)
            ids = pdf["neighbor_id"].to_numpy()
            for qi, qid in enumerate(qids):
                # ADC dot product: sum of LUT gathers, one add per subspace
                s = luts[qi][np.arange(m)[None, :], codes].sum(1)  # (n,)
                mask = ids != qid
                s_m, ids_m = s[mask], ids[mask]
                top = np.argsort(-s_m, kind="stable")[:n_candidates]  # per-batch top-C
                yield_rows = pd.DataFrame(
                    {"query_id": qid, "neighbor_id": ids_m[top], "adc": s_m[top]}
                )
                yield yield_rows

    cand = codes_df.mapInPandas(score, schema=adc_schema)
    w_c = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), "neighbor_id")
    cand = (
        cand.withColumn("crank", F.row_number().over(w_c))
        .filter(F.col("crank") <= n_candidates)
        .select("query_id", "neighbor_id")
    )

    # ---- exact cosine re-rank on the candidates only
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    scored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), round_to
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ------------------------------------------------------ distributed k-means

def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
):
    """Distributed Lloyd's k-means over the embedding table — the
    clustering step of cluster-balanced data mixing (and the trained
    big-data sibling of semantic_assign's zero-iteration quantizer /
    _np_kmeans' driver-side codebook trainer).

    Per iteration:
    - ASSIGN: centroids inline as literal arrays (k x dim doubles —
      KB-scale), nearest by squared L2 via the argmax of
      v·c − |c|²/2 (the |v|² term is constant across centroids and
      drops); ties break to the lowest cluster id. Pure codegen
      arithmetic in one scan — no shuffle, no UDF.
    - UPDATE: posexplode the vector to (cluster, pos, val) and average
      per (cluster, pos). Partial aggregation combines map-side, so the
      shuffle carries ≤ k·dim rows PER PARTITION, never N·dim; the k·dim
      result is collected driver-side (bounded) to become the next
      iteration's literals. Components are rounded to `round_to` —
      summation-order noise cannot leak across iterations, so the fit is
      reproducible across partitionings and cluster sizes.

    Empty clusters keep their previous centroid (same rule as
    _np_kmeans). At 100 TB: persist `df` once (every iteration re-reads
    it), grow k ~ sqrt(N), and cap iterations — each costs exactly one
    scan + one k·dim-row shuffle.

    Returns (assigned DataFrame (id, cluster), centroids list).
    """
    # every iteration re-scans the vectors: persist once (at 100 TB this
    # is THE difference between iters x full-table reads and one read)
    base = persist(df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")))
    cents = [
        [float(x) for x in r[0]]
        for r in base.orderBy(id_col).limit(k).select("v").collect()
    ]

    def assign(centroids) -> DataFrame:
        scored = F.array(
            *[
                F.struct(
                    (
                        dot(F.col("v"), lit_double_array(c))
                        - sum(x * x for x in c) / 2.0
                    ).alias("s"),
                    F.lit(-ci).alias("nc"),
                )
                for ci, c in enumerate(centroids)
            ]
        )
        cluster = (-F.array_max(scored).getField("nc")).cast("int")
        return base.select(id_col, "v", cluster.alias("cluster"))

    for _ in range(iters):
        a = assign(cents)
        rows = (
            a.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("x"), round_to).alias("m"))
            .collect()
        )
        new = [list(c) for c in cents]  # empty cluster -> keep previous
        by_cluster: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        for ci, comp in by_cluster.items():
            new[ci] = [comp[p] for p in range(len(comp))]
        cents = new

    return assign(cents).select(id_col, "cluster"), cents


def kmeans_cluster_profile(
    df: DataFrame,
    k: int = 8,
    iters: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-cluster mix report over a k-means fit: size, dominant label
    and its share — the 'is my mixture balanced / which clusters to
    up-sample' readout of cluster-aware curation. Label mode is
    deterministic (max by (count, label)). One join on id + two
    aggregates; the label dim never shuffles the vectors."""
    assigned, _ = kmeans_fit(df, k=k, iters=iters, vec_col=vec_col, id_col=id_col)
    lab = (
        assigned.join(df.select(id_col, label_col), id_col)
        .groupBy("cluster", label_col)
        .agg(F.count("*").alias("n"))
    )
    top = lab.groupBy("cluster").agg(
        F.sum("n").cast("long").alias("n_vecs"),
        F.max(F.struct(F.col("n"), F.col(label_col).cast("long").alias("l"))).alias("t"),
    )
    return top.select(
        "cluster",
        "n_vecs",
        F.col("t.l").cast("int").alias("top_label"),
        F.round(F.col("t.n") / F.col("n_vecs"), 4).alias("top_label_share"),
    ).orderBy("cluster")


def kcenter_select(
    emb: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Greedy k-center (Gonzalez) coreset selection: k diverse rows,
    each the point farthest (squared euclidean, min over selected
    centers) from everything already chosen.

    The data-curation use: a small maximally-spread subset of a huge
    embedding table (eval-seed selection, diverse few-shot pools,
    coverage probes). Greedy k-center is a 2-approximation to the
    optimal covering radius and — unlike sampling — deterministic here:
    distances round to `round_to` before every argmax and ties break on
    the smaller id, so any engine replays the identical selection (the
    DuckDB oracle re-runs all k steps as chained CTEs and checks full
    equality).

    Each of the k iterations is one scan: fold the newest center (a
    64-double literal, part of the plan) into the running min-distance
    column, then TakeOrdered(1) for the next argmax. Only ONE row is
    ever collected per iteration; the frame itself is never shuffled
    (no window, no join) and is localCheckpoint'd so the lineage stays
    k-free. Output: (rank, vec_id, dist2) — dist2 the point's distance
    to the set selected before it (0 for the seed, by convention).
    """
    pts = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("n2", F.round(dot(F.col("v"), F.col("v")), round_to))
    first = pts.orderBy(F.col("n2").desc(), F.col("vec_id")).limit(1).collect()
    if not first:
        return emb.sparkSession.createDataFrame(
            [], "rank int, vec_id long, dist2 double"
        )
    selected = [(1, first[0]["vec_id"], 0.0)]
    cur = pts.withColumn("mind", F.lit(None).cast("double"))
    center_v, center_n2 = first[0]["v"], float(first[0]["n2"])
    for rank in range(2, k + 1):
        cv = lit_double_array(center_v)
        d2 = F.round(
            F.col("n2") + F.lit(center_n2) - 2.0 * dot(F.col("v"), cv), round_to
        )
        cur = cur.withColumn("mind", F.least(F.coalesce(F.col("mind"), d2), d2))
        cur = cur.localCheckpoint(eager=False)
        nxt = (
            cur.filter(~F.col("vec_id").isin([s[1] for s in selected]))
            .orderBy(F.col("mind").desc(), F.col("vec_id"))
            .limit(1)
            .collect()
        )
        if not nxt:
            break
        selected.append((rank, nxt[0]["vec_id"], float(nxt[0]["mind"])))
        center_v, center_n2 = nxt[0]["v"], float(nxt[0]["n2"])
    return emb.sparkSession.createDataFrame(
        selected, "rank int, vec_id long, dist2 double"
    )


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-label mean embedding via posexplode + (label, dim) average —
    (label, n_vecs, centroid array). Fully relational: the shuffle
    carries (label, dim) partial sums (|labels|·dim rows per partition
    after map-side combine), never vectors; array_agg reassembles in
    dim order. Component means are rounded so any engine reproduces
    the centroid digit-for-digit."""
    exploded = emb.select(
        F.col(label_col).alias("label"), F.posexplode(F.col(vec_col).cast("array<double>"))
    )
    per_dim = exploded.groupBy("label", "pos").agg(
        F.round(F.avg("col"), round_to).alias("m"), F.count("*").alias("cnt")
    )
    return per_dim.groupBy("label").agg(
        (F.max("cnt")).cast("long").alias("n_vecs"),
        F.array_sort(
            F.collect_list(F.struct("pos", "m"))
        ).getField("m").alias("centroid"),
    )


def label_centroid_similarity(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Pairwise cosine similarity between per-label centroids:
    (label_a, label_b, cos) for label_a < label_b — the class-overlap /
    source-drift report over an embedding table (labels whose centroids
    converge are candidates for merge or relabeling audits). The
    centroid frame is |labels| rows, so the pair join is a broadcast
    self-join over a tiny dim — the corpus itself is touched exactly
    once by the centroid aggregation."""
    cents = label_centroids(emb, label_col, vec_col)
    a = cents.select(
        F.col("label").alias("label_a"), F.col("centroid").alias("ca")
    )
    b = cents.select(
        F.col("label").alias("label_b"), F.col("centroid").alias("cb")
    )
    pairs = a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
    return pairs.select(
        "label_a",
        "label_b",
        (
            F.round(
                dot(F.col("ca"), F.col("cb")) / (norm(F.col("ca")) * norm(F.col("cb"))),
                round_to,
            )
            + F.lit(0.0)  # fold -0.0: near-orthogonal centroids
        ).alias("cos"),
    )


def dim_truncation_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: tuple[int, ...] = (8, 16, 32, 64),
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 4,
) -> DataFrame:
    """Matryoshka-style evaluation: recall@k of PREFIX-truncated cosine
    search against full-dimension ground truth, one row per truncated
    width — (trunc_dim, n_pairs, n_hits, recall_ppm).

    The storage/bandwidth question this answers: "how few leading
    dimensions can the first-stage index keep before recall breaks?" —
    truncated vectors cost d/D of the scan bytes and the re-rank stage
    only touches the k survivors. Plan shape matches brute_force_topk:
    the query side (fanned by the dim ladder, a constant-width literal
    explode) is broadcast, the corpus is scanned once and never
    shuffled, and per-(dim, query) top-k is one window after local
    pruning. recall_ppm is exact integer arithmetic (hits * 1e6 DIV
    pairs) — bit-stable by construction.
    """
    # full-width ground truth through the SAME zero-norm guard as the
    # truncated arms (cos = 0 for a zero-norm vector): an all-zero
    # embedding would otherwise crash ANSI mode (0.0/0.0) or rank FIRST
    # everywhere via NaN (NaN sorts greatest in Spark), while the
    # DuckDB oracle's guarded full-width arm ranks it orthogonal
    fq = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("fqv"),
    ).withColumn("fqn", norm(F.col("fqv")))
    fc = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("fcv"),
    ).withColumn("fcn", norm(F.col("fcv")))
    fdenom = F.col("fqn") * F.col("fcn")
    fscored = fc.join(F.broadcast(fq), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(
            F.when(fdenom == 0, F.lit(0.0)).otherwise(
                dot(F.col("fqv"), F.col("fcv")) / fdenom
            ),
            round_to,
        ).alias("cos"),
    )
    fw = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    full = (
        fscored.withColumn("rank", F.row_number().over(fw))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    dimfan = F.explode(F.array(*[F.lit(d) for d in dims])).alias("trunc_dim")
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv0"),
        )
        .select("query_id", "qv0", dimfan)
        .select(
            "query_id",
            "trunc_dim",
            F.slice("qv0", F.lit(1), F.col("trunc_dim")).alias("qv"),
        )
        .withColumn("qn", norm(F.col("qv")))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv0"),
    )
    denom = F.col("qn") * norm(F.slice("cv0", F.lit(1), F.col("trunc_dim")))
    # a zero-norm PREFIX is structurally common (signal in later dims) —
    # define its cosine as 0 (orthogonal), guarded so ANSI mode never
    # sees the 0/0
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "trunc_dim",
        "query_id",
        "neighbor_id",
        F.round(
            F.when(denom == 0, F.lit(0.0)).otherwise(
                dot(F.col("qv"), F.slice("cv0", F.lit(1), F.col("trunc_dim")))
                / denom
            ),
            round_to,
        ).alias("cos"),
    )
    w = Window.partitionBy("trunc_dim", "query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    hits = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("trunc_dim", "query_id", F.col("neighbor_id").alias("hit_id"))
    )
    # both join sides are |queries|·k·|dims| rows — broadcast the hits
    # (the right side of the left join; only the non-preserved side can
    # be broadcast) so the tiny reconciliation never plans a sort-merge
    hits = F.broadcast(hits)
    fanned_truth = full.select("query_id", "neighbor_id", dimfan)
    joined = fanned_truth.join(
        hits,
        (fanned_truth["query_id"] == hits["query_id"])
        & (fanned_truth["neighbor_id"] == hits["hit_id"])
        & (fanned_truth["trunc_dim"] == hits["trunc_dim"]),
        "left",
    ).select(fanned_truth["trunc_dim"], fanned_truth["query_id"], "neighbor_id", "hit_id")
    return (
        joined.groupBy("trunc_dim")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.count("hit_id").cast("long").alias("n_hits"),
        )
        .select(
            F.col("trunc_dim").cast("int").alias("trunc_dim"),
            "n_pairs",
            "n_hits",
            F.expr("n_hits * 1000000L div n_pairs").cast("long").alias("recall_ppm"),
        )
        .orderBy("trunc_dim")
    )


def dimension_profile(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension statistics of an embedding column — the input a
    whitening / normalization / dead-dimension audit needs: n, mean,
    spread, extremes for every coordinate.

    posexplode keeps dimension order (0-based `dim`); one combine-
    friendly groupBy on the ~dim-count keys is the whole shuffle. The
    published aggregates follow the bit-stable discipline
    (docs: fixed-point int64, not float sums): each value is widened
    float->double (exact), scaled once, and floor(x·s + 0.5)'d — a
    single IEEE multiply+add+floor both engines compute identically —
    then SUMMED AS INT64, so association order cannot move an ulp.
      sum_micro     = Σ round(x·1e6)        (micro-units; mean = /1e6/n)
      sum_sq_milli  = Σ round(x·1e3)²       (milli² units; var derivable)
    min/max are exact order statistics of exact doubles — safe as-is.
    Scale bound: |x| ≤ 10 ⇒ micro terms ≤ 1e7 → int64 holds to ~9e11
    rows per dimension; the milli² terms ≤ 1e8 → ~9e10 rows. Past that,
    re-scale or shard the sum (same ppm_expr playbook)."""
    ex = df.select(F.posexplode(F.col(vec_col)).alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    micro = F.floor(F.col("x") * 1e6 + F.lit(0.5)).cast("long")
    milli = F.floor(F.col("x") * 1e3 + F.lit(0.5)).cast("long")
    return ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(micro).alias("sum_micro"),
        F.sum(milli * milli).alias("sum_sq_milli"),
        F.min("x").alias("min_val"),
        F.max("x").alias("max_val"),
    )


def power_iteration_pc1(
    df: DataFrame,
    vec_col: str = "embedding",
    iters: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top principal direction of the (uncentered) second-moment matrix
    by QUANTIZED power iteration — the dominant anisotropy axis that
    embedding whitening removes first, computed with EXACT integer
    arithmetic end to end so a SQL oracle replays it bit-for-bit.

    The float version of power iteration is unpublishable across
    engines (every iteration is a float matrix-vector product whose
    association order differs), so the operator iterates on an exact
    0.01-grid copy of the data instead:

      xm_d   = floor(x_d·100 + 0.5)              (int64, exact per value)
      dot_i  = Σ_d xm_id·v_d                     (int64 fold, JVM-side)
      s_d    = Σ_i xm_id·dot_i                   (one groupBy per iter)
      v'_d   = sign·floor(|s_d|·1e4 / max|s|)    (L∞ normalization via
               fixed_div_expr-equivalent integer math; sign makes the
               largest-|s| component positive, ties to the lowest dim)

    Integer overflow bounds (documented, not silent): with |x| <= 10
    and dims <= 64, s_d <= rows·1e3·(64·1e3·1e4) — int64-safe to ~1e7
    rows per... ~1.4e7 rows; past that, quantize to 0.1 or shard the
    row sum. The returned direction is exact for the quantized matrix
    and within quantization error of the float one (pinned by a unit
    test against numpy on the same grid).

    Distribution shape: the corpus never moves — each iteration is one
    Arrow-free JVM fold for the dots plus one 64-key groupBy; only the
    64-int state vector is collected per iteration (the kmeans/kcenter
    bounded-collect pattern).
    """
    xm = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * 100 + F.lit(0.5)).cast("long")
    )
    # NULL vectors carry no direction information; dropping them also
    # keeps the dim probe below from landing on a NULL row
    base = persist(
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), xm.alias("xm"))
    )
    first = base.select(F.size("xm").alias("d")).first()
    if first is None:
        return df.sparkSession.createDataFrame([], "dim long, pc1_fixed long")
    n_dim = first["d"]
    v = [10_000] * n_dim

    for _ in range(iters):
        varr = lit_long_array(v)
        dot = F.aggregate(
            F.zip_with("xm", varr, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, y: acc + y,
        )
        s_rows = (
            base.withColumn("dot", dot)
            .select(F.posexplode("xm").alias("dim", "xval"), "dot")
            .groupBy("dim")
            .agg(F.sum(F.col("xval") * F.col("dot")).alias("s"))
            .collect()
        )
        s = [0] * n_dim
        for r in s_rows:
            s[r["dim"]] = r["s"]
        # deterministic sign: component with the largest |s| (ties ->
        # lowest dim) must be positive; all-integer comparisons
        lead = min(range(n_dim), key=lambda d: (-abs(s[d]), d))
        sgn = -1 if s[lead] < 0 else 1
        mx = abs(s[lead])
        if mx == 0:
            v = [0] * n_dim
            break
        # magnitude-only division (floor vs trunc agree on non-negatives)
        v = [
            (-1 if sd * sgn < 0 else 1) * ((abs(sd) * 10_000) // mx)
            for sd in s
        ]
    base.unpersist()
    return df.sparkSession.createDataFrame(
        [(d, int(v[d])) for d in range(n_dim)], "dim long, pc1_fixed long"
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    round_to: int = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most COSINE-SIMILAR items carrying a DIFFERENT label — the
    negatives that actually move an InfoNCE/triplet loss, vs the easy
    negatives random sampling returns. Same plan shape as
    brute_force_topk (anchors broadcast, corpus never shuffled, one
    per-anchor window), with the label-exclusion predicate fused into
    the broadcast join so excluded pairs are never materialized.

    Returns (query_id, query_label, neighbor_id, neighbor_label, cos,
    rank); ties broken by neighbor id — fully deterministic."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    scored = c.join(
        F.broadcast(q),
        (F.col("query_id") != F.col("neighbor_id"))
        & (F.col("query_label") != F.col("neighbor_label")),
    ).select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        F.round(
            dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), round_to
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= k)


def margin_bitext_mine(
    side_a: DataFrame,
    side_b: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
) -> DataFrame:
    """Margin-based parallel-pair mining (the Artetxe & Schwenk
    bitext-mining shape): a candidate pair (x, y) across two corpora
    is scored not by raw cosine — which is miscalibrated across
    embedding-space density — but by cosine NORMALIZED by the mean
    similarity of each endpoint's k-nearest neighborhood:

        margin(x, y) = 2k * c(x, y) / (sum_fwd(x) + sum_bwd(y))

    where c is cosine quantized to exact int (round(cos * 1e4)),
    sum_fwd(x) = Σ c over x's k-NN in B, sum_bwd(y) = Σ c over y's
    k-NN in A. Published as margin_ppm through ppm_expr — all-integer,
    so the ratio is bit-stable. Pairs with negative quantized cosine
    or non-positive neighborhood mass are unmineable and dropped
    (keeps every floor-division numerator/denominator non-negative,
    where engines agree).

    Plan: the query side (bounded) broadcasts into one scan of B
    (forward k-NN); the candidate targets (<= |Q|·k) broadcast into
    one scan of A (backward k-NN); neither corpus ever shuffles.
    Returns the best target per query by margin (rank 1 of a
    margin-desc window, ties by target id):
    (src_id, tgt_id, cos_e4, margin_ppm)."""
    from meteor_spark.functions.exactmath import ppm_expr

    def prep(df: DataFrame, ident: str, vec: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(ident),
            F.col(vec_col).cast("array<double>").alias(vec),
        ).withColumn(f"{vec}_n", norm(F.col(vec)))

    q = prep(queries, "src_id", "qv")
    b = prep(side_b, "tgt_id", "bv")
    a = prep(side_a, "cand_id", "av")

    c4 = lambda u, un, v, vn: F.round(  # noqa: E731
        dot(F.col(u), F.col(v)) / (F.col(un) * F.col(vn)) * 10000
    ).cast("long")

    wq = Window.partitionBy("src_id").orderBy(F.col("c4").desc(), F.col("tgt_id"))
    # persist: the forward k-NN feeds three consumers (pair candidates,
    # per-query mass, target set) — without it the |B| x |Q| broadcast
    # scan re-runs per consumer; persisted it is one pass over B and
    # |Q|*k rows of state
    fwd = persist(
        b.join(F.broadcast(q), F.lit(True))
        .select("src_id", "tgt_id", c4("qv", "qv_n", "bv", "bv_n").alias("c4"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= k)
    )
    fwd_sum = fwd.groupBy("src_id").agg(F.sum("c4").alias("sum_fwd"))

    cand = fwd.select("tgt_id").distinct().join(b, "tgt_id")
    wt = Window.partitionBy("tgt_id").orderBy(F.col("c4").desc(), F.col("cand_id"))
    bwd = (
        a.join(F.broadcast(cand), F.lit(True))
        .filter(F.col("cand_id") != F.col("tgt_id"))
        .select("tgt_id", "cand_id", c4("bv", "bv_n", "av", "av_n").alias("c4"))
        .withColumn("r", F.row_number().over(wt))
        .filter(F.col("r") <= k)
    )
    bwd_sum = bwd.groupBy("tgt_id").agg(F.sum("c4").alias("sum_bwd"))

    scored = (
        fwd.select("src_id", "tgt_id", "c4")
        .join(F.broadcast(fwd_sum), "src_id")
        .join(F.broadcast(bwd_sum), "tgt_id")
        .filter(
            (F.col("c4") >= 0) & (F.col("sum_fwd") + F.col("sum_bwd") >= 1)
        )
        .withColumn(
            "margin_ppm",
            F.expr(
                ppm_expr(f"2 * {k} * c4", "sum_fwd + sum_bwd", "div")
            ).cast("long"),
        )
    )
    wbest = Window.partitionBy("src_id").orderBy(
        F.col("margin_ppm").desc(), F.col("tgt_id")
    )
    return (
        scored.withColumn("best", F.row_number().over(wbest))
        .filter(F.col("best") == 1)
        .select("src_id", "tgt_id", F.col("c4").alias("cos_e4"), "margin_ppm")
    )
