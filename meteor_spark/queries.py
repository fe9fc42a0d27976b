"""The engine's query catalog: every operator exposed as a
(spark, sf_dir) -> DataFrame callable with (where SQL-expressible) an
exactly-equivalent DuckDB oracle SQL string.

Determinism contract shared by every pair:
- aggregates over doubles are round()ed (2dp for large sums, 4dp for
  ratios/averages) so engine-side summation-order noise cannot flip the
  value hash;
- hashes are md5 (identical across Spark/DuckDB/Python);
- top-k queries order by (rounded metric, id) so both engines pick the
  same row set;
- every computed column is aliased identically in both formulations.

Each gate call builds its own inputs; no frame, rule list or catalog
view is kept between calls. A caller that builds and collects a gate
inside one `io.cache_scope()` leaves no cache behind. A caller outside
any scope (an external harness, perfbench) keeps what the operators
persisted in Spark's CacheManager, which matches by plan and so serves
a fixture rewritten in-session stale, until it clears the cache.

Reference parity notes are cited per query (file:line into
/root/reference) — see SURVEY.md §2 for the inventory this covers.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import meteor_spark.processors  # noqa: F401 — registers processor plugins (enrich_catalog)
import meteor_spark.sources  # noqa: F401 — registers source plugins used by catalog queries
from meteor_spark.io import persist
from meteor_spark.operators import dedup, drift, sampling, similarity, text, usage
from meteor_spark.operators.profile import profile_df
from meteor_spark.functions import sqlparser, unix_us

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _session_tmpdir(prefix: str) -> str:
    """mkdtemp + atexit rmtree: the streaming gates need a FRESH dir
    per invocation (append batches / checkpoints can't be reused), but
    repeated parity/bench sweeps in one process must not leak /tmp
    trees — each dir is removed at interpreter exit."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _stage_microbatches(base: str, parts: tuple[DataFrame, ...]) -> str:
    """Stage each frame of `parts` as one parquet file
    `<base>/in/batch_<i>.parquet` with mtimes 1000s apart in list order,
    so a maxFilesPerTrigger=1 file stream reads them as ordered
    microbatches; returns the watch dir `<base>/in`."""
    import glob
    import os
    import shutil

    watch = os.path.join(base, "in")
    os.makedirs(watch)
    for i, part in enumerate(parts):
        d = os.path.join(base, f"b{i}")
        part.coalesce(1).write.mode("overwrite").parquet(d)
        src = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(watch, f"batch_{i}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (1_700_000_000 + i * 1000,) * 2)
    return watch


_PROC_TMP_ROOT: str | None = None


def _proc_tmpdir(sub: str) -> str:
    """One mkdtemp root per PROCESS (cached at module level, removed at
    interpreter exit), with a named subdir per caller. The catalog
    round-trip gates want path REUSE across repeated sweeps in one
    process (mode("overwrite") rewrites in place instead of leaking a
    fixture-sized tree per invocation) — but a fixed, predictable name
    in shared /tmp raced concurrent sweeps over the same fixture and
    was a symlink-squat surface on multi-user hosts. mkdtemp gives an
    unpredictable, 0700, per-process root; the subdir keys the gate +
    fixture so different tables never collide within the process."""
    global _PROC_TMP_ROOT
    import atexit
    import os
    import shutil
    import tempfile

    if _PROC_TMP_ROOT is None:
        _PROC_TMP_ROOT = tempfile.mkdtemp(prefix="msk_root_")
        atexit.register(shutil.rmtree, _PROC_TMP_ROOT, ignore_errors=True)
    d = os.path.join(_PROC_TMP_ROOT, sub)
    os.makedirs(d, exist_ok=True)
    return d


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from meteor_spark.io import read_parquet_table

    try:
        # every oracle comparison assumes UTC wall-clock semantics
        # (unix_us NTZ casts, date_trunc/hour bucketing); pin it even on
        # a caller-constructed session so a non-UTC host can't skew them
        if spark.conf.get("spark.sql.session.timeZone") != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # noqa: BLE001 — conf may be restricted
        pass
    return read_parquet_table(spark, f"{sf_dir}/{name}.parquet")


def _fp_lift(col: Column, scale: int = 100) -> Column:
    """Exact fixed-point lift of a NON-NEGATIVE n-decimal double:
    CAST(x*scale + 0.5 AS LONG). Equals round-half-up for x >= 0 but
    stays whole-stage-codegen arithmetic — F.round(double) routes every
    row through BigDecimal.setScale, which measured 2.3x the whole q1
    runtime at 10x (docs/SCALING.md r11). NOT for signed columns:
    truncation-toward-zero flips the half-up direction below 0."""
    return (col * scale + F.lit(0.5)).cast("long")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table for compute-heavy operators (hashing, shingling,
    regex): the fixture is ONE small parquet file -> one input partition,
    which would serialize all per-row compute on a single core. A tiny
    repartition shuffle (the table is KBs..MBs) buys full parallelism —
    the standard small-input/big-compute fan-out. CONDITIONAL on the
    file count (metadata only, no job): a production-scale table already
    has >= cores' worth of input splits, and repartitioning 100 TB of
    text to "spread the load" would be a pure-overhead full shuffle."""
    df = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < par:
        df = df.repartition(par)
    return df


_TABLES = ["customer", "documents", "embeddings", "events", "lineitem", "nation", "orders", "part", "region", "supplier"]

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _shingle_sql(k: int) -> str:
    """DuckDB mirror of operators.dedup.shingles (distinct word k-grams
    over normalized text)."""
    return (
        f"list_distinct(list_transform(range(1, greatest(len(nws) - {k - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice(nws, i, i + {k - 1}), ' ')))"
    )



# static column counts of the fixture schemas (TESTDATA.md)
_N_COLS = {
    "customer": 5, "documents": 5, "embeddings": 3, "events": 6, "lineitem": 11,
    "nation": 3, "orders": 6, "part": 6, "region": 2, "supplier": 4,
}


# --------------------------------------------------------------------------
# Relational / aggregation queries (the profiling & usage-stats workload
# family of SURVEY.md §2.6-2.7 exercised on the TPC-H-ish fixtures)
# --------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    WITH fx AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity) AS BIGINT)            AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(round(l_discount * 100) AS BIGINT)      AS disc_pct,
             CAST(round(l_tax * 100) AS BIGINT)           AS tax_pct
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02')
    SELECT l_returnflag, l_linestatus,
           round(CAST(CAST(sum(qty) AS BIGINT) AS DOUBLE), 2)               AS sum_qty,
           round(CAST(CAST(sum(price_c) AS BIGINT) AS DOUBLE) / 100, 2)     AS sum_base_price,
           round(CAST(CAST(sum(price_c * (100 - disc_pct)) AS BIGINT) AS DOUBLE) / 1e4, 2) AS sum_disc_price,
           round(CAST(CAST(sum(price_c * (100 - disc_pct) * (100 + tax_pct)) AS BIGINT) AS DOUBLE) / 1e6, 2) AS sum_charge,
           round(CAST(CAST(sum(qty) AS BIGINT) AS DOUBLE) / count(*), 4)    AS avg_qty,
           round(CAST(CAST(sum(price_c) AS BIGINT) AS DOUBLE) / (100 * count(*)), 4) AS avg_price,
           round(CAST(CAST(sum(disc_pct) AS BIGINT) AS DOUBLE) / (100 * count(*)), 4) AS avg_disc,
           count(*)                                                          AS count_order
    FROM fx
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan+aggregate: the canonical 'one wide groupBy'
    profile workload. Filter pushes to the parquet scan; partial
    aggregation makes the shuffle 6 rows.

    Money sums ride EXACT fixed-point int64 (the sql_api_revenue /
    orders_rollup discipline): TPC-H decimals are 2-place by
    construction, so price lifts to cents, discount/tax to integer
    percent, disc_price to 1e-4 units and charge to 1e-6 units exactly;
    one int->double conversion + division + round at publish. The
    600M-row rung (x1000 lineitem axis) caught the float form: each
    group's corpus-spanning sum reaches ~2.8e18 micro-units where
    float64 association order drifted past the 2-decimal boundary
    (spark ...730.09 vs duckdb ...730.40). Headroom: charge_micro sums
    to ~2.8e18 of int64's 9.2e18 at 600M rows — the next magnitude
    needs split accumulators, recorded in docs/SCALING.md."""
    li = _t(spark, sf_dir, "lineitem")
    # codegen-only lifts (_fp_lift): the F.round(double) form routed
    # every row through BigDecimal and cost 2.3x the whole query at 10x
    # (measured r11, docs/SCALING.md); quantity is an exact integral
    # double, plain cast
    qty = F.col("l_quantity").cast("long")
    price_c = _fp_lift(F.col("l_extendedprice"))
    disc_pct = _fp_lift(F.col("l_discount"))
    tax_pct = _fp_lift(F.col("l_tax"))
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .select("l_returnflag", "l_linestatus",
                qty.alias("qty"), price_c.alias("price_c"),
                disc_pct.alias("disc_pct"), tax_pct.alias("tax_pct"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("qty").cast("double"), 2).alias("sum_qty"),
            F.round(F.sum("price_c").cast("double") / 100, 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("price_c") * (100 - F.col("disc_pct"))).cast("double") / 1e4, 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("price_c") * (100 - F.col("disc_pct")) * (100 + F.col("tax_pct"))
                ).cast("double") / 1e6, 2
            ).alias("sum_charge"),
            F.round(F.sum("qty").cast("double") / n, 4).alias("avg_qty"),
            F.round(F.sum("price_c").cast("double") / (100 * n), 4).alias("avg_price"),
            F.round(F.sum("disc_pct").cast("double") / (100 * n), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q3_top_orders",
    """
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(o.o_orderdate AS VARCHAR)                         AS orderdate,
           o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate < TIMESTAMP '1995-03-15' AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate + deterministic top-k. The customer dim is
    broadcast (small side); ordering is on the rounded metric + key so
    the selected set is engine-independent."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-03-15").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(o.filter(F.col("o_orderdate") < cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.col("o_orderdate").cast("string").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@query(
    "q5_nation_revenue",
    """
    SELECT n.n_name,
           round(CAST(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                               * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                      AS BIGINT) AS DOUBLE) / 1e4, 2) AS revenue
    FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
    GROUP BY n.n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join: every dim is broadcast; only lineitem-orders
    shuffles (and under AQE even that can go broadcast at small SF).
    Revenue rides exact fixed-point 1e-4 units (the q1/orders_rollup
    discipline): the SIXTH ladder bug — per-nation sums span 24M rows
    at the x1000 join axis, where float64 association order crossed the
    2-decimal publish boundary exactly as q1's did at 600M (r11)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    o = _t(spark, sf_dir, "orders")
    rev_u = _fp_lift(F.col("l_extendedprice")) * (
        100 - _fp_lift(F.col("l_discount"))
    )
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(rev_u).cast("double") / 1e4, 2).alias("revenue")
        )
    )


@query(
    "top_customers",
    """
    SELECT o_custkey,
           count(*)                      AS n_orders,
           round(sum(o_totalprice), 2)   AS total_spent
    FROM orders
    GROUP BY o_custkey
    ORDER BY total_spent DESC, o_custkey
    LIMIT 10
    """,
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usage-count-style aggregation (reference: audit-log TableUsage,
    auditlog/stats.go:69-75 — 'how often is each entity touched')."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
        .orderBy(F.col("total_spent").desc(), "o_custkey")
        .limit(10)
    )


@query(
    "orders_running_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER w AS BIGINT)            AS rn,
           round(sum(o_totalprice) OVER w, 2)             AS running_total
    FROM orders
    WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: per-customer order sequence + running revenue.
    One shuffle on the partition key; the filter prunes at the scan."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.filter(F.col("o_custkey") < 50)
        .select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("long").alias("rn"),
            F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
        )
    )


@query(
    "orders_rollup",
    # fixed-point cents, NOT round(sum(double)): the float sum's
    # accumulation order differs between engines, and at the x1000
    # fixture (150M rows) the ulp drift crossed the 2-decimal rounding
    # boundary — the first hash mismatch the fourth magnitude caught
    # (the r3 sql_api_revenue lesson, resurfacing one ladder rung up).
    # Cents stay exact in int64 to ~9e16 rows; one final division is
    # correctly rounded on any IEEE engine.
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
             AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: ROLLUP over status x priority (subtotals + grand
    total) — Catalyst expands to a single Expand+Aggregate. The price
    sum rides exact integer cents (strict at 150M rows; the float sum
    it replaces hash-mismatched there)."""
    o = _t(spark, sf_dir, "orders")
    cents = _fp_lift(F.col("o_totalprice"))
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum(cents) / 100.0, 2).alias("total"),
    )


@query(
    "customer_order_set_ops",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 100000
    """,
)
def customer_order_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: INTERSECT of two key sets (semi-join under AQE)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = o.filter(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("c_custkey")).distinct()
    return building.intersect(big)


@query(
    "user_event_grants",
    """
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS grants
    FROM events
    GROUP BY user_id
    """,
)
def user_event_grants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """string_agg-style aggregation — the postgres grants computation
    (reference: postgres.go:221-224 string_agg(privilege_type, ',')
    GROUP BY grantee) re-expressed as concat_ws(sort_array(collect_set))."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("grants")
    )


@query(
    "preview_lineitem",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    LIMIT 5
    """,
)
def preview_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preview rows (reference: bigquery.go:280-337 first-N preview) made
    deterministic with an explicit TOTAL ordering before the limit — the
    fixture's (l_orderkey, l_linenumber) is NOT unique at sf0.1, so a
    partial key let each engine cut ties at row 5 differently."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
        .limit(5)
    )


@query(
    "enrich_catalog",
    " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, 'prod' AS env, 'meteor' AS managed_by" for t in _TABLES
    ),
)
def enrich_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enrich processor end-to-end inside the gate: catalog assets ->
    enrich (attributes JSON merge, processor.go:57-86) -> projected
    attribute values via get_json_object."""
    from meteor_spark.registry import extractors, processors

    ex = extractors.get("parquet_catalog")
    ex.init({"path": sf_dir, "include_row_count": False})
    proc = processors.get("enrich")
    proc.init({"env": "prod", "managed_by": "meteor"})
    assets = proc.process(ex.extract(spark))
    return assets.select(
        F.col("resource.name").alias("table_name"),
        F.get_json_object(F.col("properties.attributes"), "$.env").alias("env"),
        F.get_json_object(F.col("properties.attributes"), "$.managed_by").alias("managed_by"),
    )


# --------------------------------------------------------------------------
# Events: usage stats, join-pair mining, sessionization, JSON props
# (the audit-log workload family, reference bigquery/auditlog/stats.go)
# --------------------------------------------------------------------------


@query(
    "events_usage",
    """
    SELECT event_type,
           count(*)                    AS n_events,
           count(DISTINCT user_id)     AS n_users,
           round(sum(value), 2)        AS total_value,
           round(avg(value), 4)        AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def events_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-usage aggregation (reference: auditlog/stats.go:69-75)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


@query(
    "event_join_pairs",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS urn, b.event_type AS joined_urn, count(*) AS join_count
    FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
)
def event_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-pair mining (reference: auditlog/stats.go:77-115 JoinDetail):
    which entity pairs co-occur in one 'query' (here: one user's event
    set). Uses the ordered-pair explode of operators.usage.join_usage —
    pairs emitted once (urn < joined_urn), halving the shuffle."""
    e = _t(spark, sf_dir, "events")
    log = e.groupBy("user_id").agg(F.collect_set("event_type").alias("referenced"))
    return usage.join_usage(log)


@query(
    "user_sessions",
    """
    WITH g AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800 * 1000000 OR
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id, count(*) AS n_events, CAST(sum(new_session) AS BIGINT) AS n_sessions
    FROM g GROUP BY user_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via window lag: a new session starts after a
    30-minute gap. Window partitioned by user — one shuffle, then a
    map-side-combined groupBy on the same key (no second shuffle thanks
    to the shared partitioning)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = unix_us("ts")
    lag = F.lag(us).over(w)
    new_session = F.when(lag.isNull() | ((us - lag) > 1800 * 1_000_000), 1).otherwise(0)
    return (
        e.select("user_id", new_session.alias("new_session"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("new_session").cast("long").alias("n_sessions"))
    )


@query(
    "events_hourly_rollup",
    """
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed rollup — the batch shape of the streaming windowed
    aggregation (meteor_spark.streaming uses the same expression under
    a watermark)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("string").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@query(
    "props_json_agg",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)    AS sum_k,
           count(*) FILTER (WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50) AS n_big
    FROM events
    GROUP BY event_type
    """,
)
def props_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-JSON attribute handling (the structpb.Struct decision of
    SURVEY.md §1.5): attributes live as JSON strings, extracted with
    get_json_object — still JVM-side, no UDF."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.when(k > 50, 1)).alias("n_big"),
    )


@query(
    "event_key_skew_report",
    """
    WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
    t AS (SELECT sum(n) AS total, count(*) AS n_keys FROM c)
    SELECT user_id, n, round(n / total, 4) AS share,
           round(n * n_keys / total, 4) AS skew_factor
    FROM c, t ORDER BY n DESC, user_id LIMIT 10
    """,
)
def event_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnostic (skew.key_skew_report): top-10 event keys
    with table share and skew factor vs the mean key — the
    decide-before-you-salt report for join/agg key choice."""
    from meteor_spark.operators import skew

    return skew.key_skew_report(_t(spark, sf_dir, "events"), ["user_id"], top_k=10)


@query(
    "props_variant_agg",
    """
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT))           AS max_k
    FROM events GROUP BY event_type
    """,
)
def props_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured attributes via Spark 4's native VariantType:
    parse_json once, variant_get typed extraction. Unlike the JSON-string
    path (props_json_agg), variant is the storage form that supports
    shredding — at 100 TB the parsed/typed representation is written
    once instead of re-parsing strings per query."""
    e = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "events_asof_purchase",
    # the right side is deduped to ONE purchase per (user, ts) BEFORE
    # the ASOF join, picking the largest event_id — the operator's
    # documented right-right tie contract (largest value struct wins;
    # event_id is unique, so it decides). Without this the oracle is
    # UNDERDETERMINED whenever a user has two purchases at the same
    # timestamp: DuckDB's native ASOF assumes unique (key, ts) and
    # picks arbitrarily — exactly what the Zipf skew fixture surfaced
    # (merging users onto one hot key creates equal-ts purchase pairs
    # the uniform fixtures never had).
    """
    SELECT e.event_id, e.user_id,
           p.event_id                 AS purchase_event_id_asof,
           round(p.value, 2)          AS purchase_value_asof
    FROM events e
    ASOF LEFT JOIN (
      SELECT user_id, ts, event_id, value
      FROM (SELECT user_id, ts, event_id, value,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'purchase')
      WHERE rn = 1) p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.asof): each event annotated with the user's
    most recent purchase at or before it. Spark lacks ASOF JOIN; the
    union+window formulation costs ONE shuffle of |L|+|R| rows — checked
    against DuckDB's native ASOF LEFT JOIN."""
    from meteor_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    out = asof_join(
        e,
        purchases.select("user_id", "ts", F.col("event_id").alias("purchase_event_id"), F.col("value").alias("purchase_value")),
        ts_col="ts",
        by_col="user_id",
        value_cols=["purchase_event_id", "purchase_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("purchase_event_id_asof"),
        F.round(F.col("purchase_value_asof"), 2).alias("purchase_value_asof"),
    )


@query(
    "events_usage_salted",
    """
    SELECT event_type,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value,
           round(max(value), 2) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def events_usage_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase salted aggregation (operators.skew.salted_agg):
    identical results to the plain groupBy — which is exactly what this
    oracle asserts — while a hot key spreads over 16 reducers."""
    from meteor_spark.operators.skew import salted_agg

    e = _t(spark, sf_dir, "events")
    out = salted_agg(
        e,
        keys=["event_type"],
        aggs={
            "n_events": ("sum", F.count("*")),
            "total_value": ("sum", F.sum("value")),
            "max_value": ("max", F.max("value")),
        },
        salt_on="event_id",
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("total_value", 2).alias("total_value"),
        F.round("max_value", 2).alias("max_value"),
    )


@query(
    "nation_revenue_salted_join",
    """
    SELECT s.s_nationkey,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
)
def nation_revenue_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe SALTED JOIN (operators.skew.salted_join) — the join
    twin of events_usage_salted's salted aggregation, completing the
    oracle-gated salted-twin pair: the fact side carries a
    deterministic row-hash salt, the dim side replicates once per salt
    bucket, and a hot supplier key spreads over 16 reducers instead of
    one. The oracle is the PLAIN relational join — equality is the
    entire claim, and it is what lets a 100 TB deployment flip salting
    on (where one reducer's hot partition exceeds its task budget;
    measured break-even in docs/SCALING.md SKEW) without re-validating
    semantics. Revenue rides the exact-cents fixed-point discipline.
    Certified on the uniform fixtures AND the Zipf(1.2) skew fixture
    whose hottest per-copy supplier draws ~15% of rows."""
    from meteor_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        _fp_lift(F.col("l_extendedprice")).alias("price_cents"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(li, supp, on=["l_suppkey"], salt_buckets=16)
    return joined.groupBy("s_nationkey").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("price_cents").cast("long").alias("revenue_cents"),
    )


@query(
    "events_multi_rollup",
    """
    SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR)  AS day,
           CAST(date_trunc('hour', ts) AS VARCHAR)                    AS hour,
           event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((day, event_type), (day, hour, event_type))
    """,
)
def events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour- and day-granularity
    rollups in one pass via GROUPING SETS (one Expand + one aggregate,
    instead of two scans)."""
    e = _t(spark, sf_dir, "events")
    e = e.withColumn("day", F.date_trunc("day", "ts").cast("string")).withColumn(
        "hour", F.date_trunc("hour", "ts").cast("string")
    )
    return spark.sql(
        """
        SELECT day, hour, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM {events}
        GROUP BY GROUPING SETS ((day, event_type), (day, hour, event_type))
        """,
        events=e,
    )


# sum + count(DISTINCT) in ONE aggregate makes Catalyst Expand every
# fact row into 2 copies (one per aggregate group) before the shuffle —
# 2x the fact exchange at any scale. The two-level form below computes
# the per-order partial first (orderkey is already a join key, so the
# extra group column is nearly free map-side) and counts rows at the
# outer level: same answer, no Expand. Identical text runs on both
# engines.
# Revenue in fixed-point: prices carry 2 decimals and discounts 2, so
# price_cents * (100 - discount_pct) is an exact int64 in ten-
# thousandths — the float sum it replaces differed from DuckDB in the
# last ulp at sf0.001 (caught by the strict full-precision parity
# sweep; the published 2-decimal value was right, the bits were not).
# One division at the end is correctly rounded on any IEEE engine.
# A template: Spark binds each {table} to a frame, the oracle to its name.
_SQL_API_TABLES = ("lineitem", "orders", "supplier", "nation")
_SQL_API_REVENUE = """
    SELECT n_name, o_orderpriority,
           round(sum(rev_fp) / CAST(10000 AS DOUBLE), 2) AS revenue,
           count(*) AS n_orders
    FROM (
      SELECT n.n_name, o.o_orderpriority, o.o_orderkey,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS rev_fp
      FROM {lineitem} l
        JOIN {orders} o   ON l.l_orderkey = o.o_orderkey
        JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
        JOIN {nation} n   ON s.s_nationkey = n.n_nationkey
      GROUP BY n.n_name, o.o_orderpriority, o.o_orderkey
    ) per_order
    GROUP BY n_name, o_orderpriority
    """


@query("sql_api_revenue", _SQL_API_REVENUE.format(**{t: t for t in _SQL_API_TABLES}))
def sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql() path: the oracle's text with each table bound to
    its parquet frame; Catalyst plans it the same as the DataFrame API.
    n_orders counts DISTINCT orders per (nation, priority): the inner
    per-order aggregate makes each (group, orderkey) one row, so the
    outer count(*) is the distinct count without an Expand rewrite."""
    return spark.sql(_SQL_API_REVENUE, **{t: _t(spark, sf_dir, t) for t in _SQL_API_TABLES})


# --------------------------------------------------------------------------
# Column profiling (reference: bigquery.go:386-411) & catalog extraction
# --------------------------------------------------------------------------

_PROFILE_COLS = {
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus"],
    "orders": ["o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"],
}

_NUMERIC_SQL_TYPES = {"BIGINT", "INTEGER", "DOUBLE", "FLOAT"}


def _profile_oracle(table: str, cols: list[str], numeric: set[str]) -> str:
    parts = []
    for c in cols:
        if c in numeric:
            avg = f"round(avg({c}), 4)"
            med = f"round(median({c}), 4)"
        else:
            avg = "CAST(NULL AS DOUBLE)"
            med = "CAST(NULL AS DOUBLE)"
        # deterministic mode: most frequent value, ties -> smallest value
        # (mirrors profile_df's min_by(v, (-cnt, v)))
        top = (
            f"(SELECT CAST(v AS VARCHAR) FROM (SELECT {c} AS v, count(*) AS cnt FROM {table} "
            f"WHERE {c} IS NOT NULL GROUP BY 1 ORDER BY cnt DESC, v ASC LIMIT 1))"
        )
        parts.append(
            f"SELECT '{c}' AS \"column\", CAST(min({c}) AS VARCHAR) AS \"min\", "
            f"CAST(max({c}) AS VARCHAR) AS \"max\", {avg} AS \"avg\", {med} AS \"med\", "
            f'count(DISTINCT {c}) AS "unique", count({c}) AS "count", {top} AS "top" FROM {table}'
        )
    return " UNION ALL ".join(parts)


def _profile_li_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact lineitem profile both profile gates consume. Carries
    exact p45/p55 from the same (column, v, cnt) frequency frames as
    the median, for the approx gate's median rank window — no extra
    scan of lineitem, and the window stays exact."""
    return profile_df(
        _t(spark, sf_dir, "lineitem"),
        _PROFILE_COLS["lineitem"],
        quantiles={"p45": 0.45, "p55": 0.55},
    )


@query(
    "profile_lineitem",
    _profile_oracle(
        "lineitem",
        _PROFILE_COLS["lineitem"],
        {"l_quantity", "l_extendedprice", "l_discount", "l_tax"},
    ),
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiles in ONE aggregation pass (vs the reference's
    query-per-column, bigquery.go:237-254). Exact aggregates here so the
    oracle matches; the approx variants (percentile_approx,
    approx_count_distinct, mode) live in operators.profile."""
    return _profile_li_exact(spark, sf_dir).select(
        "column", "min", "max", "avg", "med", "unique", "count", "top"
    )


@query(
    "profile_orders",
    _profile_oracle("orders", _PROFILE_COLS["orders"], {"o_custkey", "o_totalprice"}),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return profile_df(o, _PROFILE_COLS["orders"])


@query(
    "row_counts",
    " UNION ALL ".join(f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}" for t in _TABLES),
)
def row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TotalRows per table (reference: oracle.go:145-146 count(*) per
    table; mongodb.go:138 EstimatedDocumentCount). Counts run as one
    Spark job per table on parquet metadata (fast path)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(_TABLES)) as pool:
        counts = list(pool.map(lambda t: (t, _t(spark, sf_dir, t).count()), _TABLES))
    return spark.createDataFrame(counts, "table_name string, n_rows long")


@query(
    "catalog_assets",
    " UNION ALL ".join(
        f"SELECT '{t}' AS table_name, {_N_COLS[t]} AS n_columns, count(*) AS total_rows FROM {t}"
        for t in _TABLES
    ),
)
def catalog_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog extraction path end-to-end (parquet_catalog source →
    asset DataFrame → projection), reduced to engine-independent columns."""
    from meteor_spark.registry import extractors

    ex = extractors.get("parquet_catalog")
    ex.init({"path": sf_dir, "include_row_count": True})
    assets = ex.extract(spark)
    return assets.select(
        F.col("resource.name").alias("table_name"),
        F.size("schema").alias("n_columns"),
        F.col("profile.total_rows").alias("total_rows"),
    )


_CATALOG_SNAP_SQL = " UNION ALL ".join(
    f"SELECT '{t}' AS table_name, {_N_COLS[t]} AS n_columns, count(*) AS total_rows FROM {t}"
    for t in _TABLES
)


@query(
    "catalog_snapshot_diff",
    f"""
    WITH new_snap AS ({_CATALOG_SNAP_SQL}),
    old_snap AS (
      SELECT table_name, n_columns, total_rows FROM new_snap
      WHERE table_name NOT IN ('events', 'documents', 'embeddings', 'orders')
      UNION ALL
      SELECT 'orders', 6, count(*) FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      UNION ALL
      SELECT 'staging_tmp', 3, 42),
    o AS (SELECT table_name, TRUE AS in_old, n_columns AS n_columns_old, total_rows AS total_rows_old FROM old_snap),
    n AS (SELECT table_name, TRUE AS in_new, n_columns AS n_columns_new, total_rows AS total_rows_new FROM new_snap)
    SELECT table_name,
           CASE WHEN in_old IS NULL THEN 'added'
                WHEN in_new IS NULL THEN 'removed'
                WHEN n_columns_old IS DISTINCT FROM n_columns_new
                     OR total_rows_old IS DISTINCT FROM total_rows_new THEN 'changed'
                ELSE 'unchanged' END AS status,
           n_columns_old, n_columns_new, total_rows_old, total_rows_new
    FROM o FULL JOIN n USING (table_name)
    """,
)
def catalog_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog drift between two extraction runs (drift.snapshot_diff):
    the new snapshot is the REAL parquet_catalog walk; the old one
    replays it minus three tables (-> added), with a dropped staging
    table (-> removed) and orders frozen at an earlier date cutoff
    (-> changed). Full outer join on the asset key, null-safe attribute
    compare; presence flags decide membership."""
    new_snap = catalog_assets(spark, sf_dir)
    orders_old = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        .agg(F.count("*").alias("total_rows"))
        .select(F.lit("orders").alias("table_name"), F.lit(6).alias("n_columns"), "total_rows")
    )
    staging = spark.range(1).select(
        F.lit("staging_tmp").alias("table_name"),
        F.lit(3).alias("n_columns"),
        F.lit(42).cast("long").alias("total_rows"),
    )
    old_snap = (
        new_snap.filter(~F.col("table_name").isin("events", "documents", "embeddings", "orders"))
        .unionByName(orders_old)
        .unionByName(staging)
    )
    return drift.snapshot_diff(old_snap, new_snap, ["table_name"], ["n_columns", "total_rows"])


# --------------------------------------------------------------------------
# SQL condition mining (reference: bigquery/sqlparser/parser.go)
# --------------------------------------------------------------------------

_JOIN_PAT_SQL = sqlparser.JOIN_ON_PATTERN.replace("'", "''")
_FILTER_PAT_SQL = sqlparser.FILTER_PATTERN.replace("'", "''")


@query(
    "sql_condition_mining",
    f"""
    WITH q AS (
      SELECT 'SELECT * FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_orderpriority = '
             || o_orderpriority AS qtext
      FROM orders)
    SELECT regexp_extract(qtext, '{_JOIN_PAT_SQL}', 1)   AS join_condition,
           regexp_extract(qtext, '{_FILTER_PAT_SQL}', 1) AS filter_condition,
           count(*) AS n_queries
    FROM q
    GROUP BY 1, 2
    """,
)
def sql_condition_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex join/filter condition extraction over a query log
    (reference: parser.go:58-77), run JVM-side with regexp_extract —
    the identical pattern strings drive Spark, DuckDB, and the Python
    helpers in functions.sqlparser."""
    o = _t(spark, sf_dir, "orders")
    qtext = F.concat(
        F.lit("SELECT * FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_orderpriority = "),
        F.col("o_orderpriority"),
    )
    return (
        o.select(
            F.regexp_extract(qtext, sqlparser.JOIN_ON_PATTERN, 1).alias("join_condition"),
            F.regexp_extract(qtext, sqlparser.FILTER_PATTERN, 1).alias("filter_condition"),
        )
        .groupBy("join_condition", "filter_condition")
        .agg(F.count("*").alias("n_queries"))
    )


# --------------------------------------------------------------------------
# Text analysis (beyond-reference: training-data pipeline operators)
# --------------------------------------------------------------------------

_SW_SQL = {lang: "[" + ", ".join(f"'{w}'" for w in ws) + "]" for lang, ws in text.LANG_STOPWORDS.items()}

_TEXT_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\\s+')                 AS ws,
         regexp_split_to_array(trim(lower(text)), '\\s+')          AS lws,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))       AS norm
  FROM documents),
feat AS (
  SELECT doc_id, text, ws, norm,
         len(list_filter(lws, w -> list_contains({_SW_SQL['en']}, w))) AS s_en,
         len(list_filter(lws, w -> list_contains({_SW_SQL['de']}, w))) AS s_de,
         len(list_filter(lws, w -> list_contains({_SW_SQL['fr']}, w))) AS s_fr,
         len(list_filter(lws, w -> list_contains({_SW_SQL['es']}, w))) AS s_es,
         len(ws)                                                        AS n_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_regex_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))               AS n_symbol,
         length(text)                                                   AS n_chars
  FROM base),
feat2 AS (
  SELECT doc_id, norm, n_tokens, n_regex_tokens, n_chars,
         CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
              WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
              WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
              WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
              WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
              ELSE 'und' END                                            AS lang_guess,
         round(CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
               / greatest(n_tokens, 1), 4)                              AS mean_token_len,
         round(CAST(n_symbol AS DOUBLE) / greatest(n_regex_tokens, 1), 4) AS punct_ratio,
         round(CAST(s_en AS DOUBLE) / greatest(n_tokens, 1), 4)         AS stopword_ratio,
         round(CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
               / greatest(n_chars, 1), 4)                               AS uppercase_ratio
  FROM feat)
SELECT doc_id, lang_guess, n_tokens, n_regex_tokens, n_chars, mean_token_len,
       punct_ratio, stopword_ratio, uppercase_ratio,
       round(least(stopword_ratio * 2, 1.0) * 0.4 +
             CASE WHEN mean_token_len >= 3 AND mean_token_len <= 10 THEN 0.4 ELSE 0.1 END +
             greatest(0.0, 0.2 - punct_ratio), 4)                       AS quality,
       substr(md5(norm), 1, 16)                                         AS fingerprint
FROM feat2
"""


_WINNOW_K = 3
_WINNOW_W = 4
_WINNOW_ORACLE = f"""
WITH nd AS (
  SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS nws FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(nws) - {_WINNOW_K - 1}, 1) + 1),
                i -> array_to_string(list_slice(nws, i, i + {_WINNOW_K - 1}), ' '))) AS gram,
         unnest(range(1, greatest(len(nws) - {_WINNOW_K - 1}, 1) + 1)) AS pos
  FROM nd),
hashes AS (
  SELECT doc_id, pos, ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h FROM grams),
winnowed AS (
  SELECT DISTINCT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS fp
  FROM hashes)
SELECT doc_id, count(*) AS n_fps, min(fp) AS min_fp, max(fp) AS max_fp
FROM winnowed GROUP BY doc_id
"""


_OVERLAP_ORACLE = f"""
WITH nd AS (
  SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS nws FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(nws) - {_WINNOW_K - 1}, 1) + 1),
                i -> array_to_string(list_slice(nws, i, i + {_WINNOW_K - 1}), ' '))) AS gram,
         unnest(range(1, greatest(len(nws) - {_WINNOW_K - 1}, 1) + 1)) AS pos
  FROM nd),
hashes AS (
  SELECT doc_id, pos, ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h FROM grams),
winnowed AS (
  SELECT DISTINCT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS fp
  FROM hashes),
sfp AS (SELECT DISTINCT d.source, w.fp FROM winnowed w JOIN documents d USING (doc_id)),
cnt AS (SELECT source, count(*) AS n FROM sfp GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_fps,
       round(count(*)::DOUBLE / (ca.n + cb.n - count(*)), 4) AS jaccard,
       round(count(*)::DOUBLE / least(ca.n, cb.n), 4) AS overlap
FROM sfp a JOIN sfp b ON a.fp = b.fp AND a.source < b.source
JOIN cnt ca ON ca.source = a.source JOIN cnt cb ON cb.source = b.source
GROUP BY a.source, b.source, ca.n, cb.n
"""


@query(
    "temperature_mix_weights",
    f"""
    WITH s AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(regexp_split_to_array({_NORM_SQL}, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM s),
    sh AS (
      SELECT s.source, s.n_docs, s.n_tokens,
             s.n_tokens / t.total AS share,
             pow(s.n_tokens / t.total, 0.3) AS pa
      FROM s, t),
    z AS (SELECT sum(pa) AS z FROM sh)
    SELECT source, n_docs, n_tokens,
           round(share, 6) AS token_share,
           round(pa / z.z, 6) AS target_share,
           round((pa / z.z) / share, 6) AS mix_factor
    FROM sh, z
    """,
)
def temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (mT5/XLM-R p ∝ share^α,
    α=0.3): per-source target shares softened toward uniform and the
    per-doc odds multiplier realizing them
    (operators.sampling.temperature_mix_weights) — the tunable sibling
    of source_mix_weights' uniform target."""
    from meteor_spark.operators.sampling import temperature_mix_weights as tmw

    return tmw(_t(spark, sf_dir, "documents"), alpha=0.3)


_RRF_L, _RRF_K, _RRF_C = 50, 10, 60


@query(
    "hybrid_search_rrf",
    f"""
    WITH nd AS (SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS ws FROM documents),
    tok AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM nd),
    tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM tok
           WHERE w IN ('spark', 'window', 'hash') GROUP BY doc_id, dl, w),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(ws)) AS avgdl FROM nd),
    dfq AS (SELECT w, CAST(count(*) AS DOUBLE) AS dft FROM tf GROUP BY w),
    bm AS (SELECT tf.doc_id,
                  round(sum(ln(1 + (n_docs - dft + 0.5) / (dft + 0.5))
                            * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
           FROM tf JOIN dfq USING (w) CROSS JOIN stats GROUP BY tf.doc_id),
    lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM bm
            QUALIFY rank <= {_RRF_L}),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    vec AS (SELECT vec_id AS doc_id,
                   row_number() OVER (
                     ORDER BY round(list_dot_product(qv, cv)
                                    / (sqrt(list_dot_product(qv, qv))
                                       * sqrt(list_dot_product(cv, cv))), 4) DESC,
                              vec_id) AS rank
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
                  WHERE vec_id <> 0) CROSS JOIN q
            QUALIFY rank <= {_RRF_L}),
    u AS (SELECT doc_id, rank FROM lex UNION ALL SELECT doc_id, rank FROM vec)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_systems,
           round(sum(1.0 / ({_RRF_C} + rank)), 6) AS rrf
    FROM u GROUP BY doc_id ORDER BY rrf DESC, doc_id LIMIT {_RRF_K}
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval via reciprocal-rank fusion
    (retrieval.rrf_fuse): BM25 top-L over documents and brute-force
    cosine top-L around query embedding vec_id=0 (doc_id == vec_id is
    the fixture's linking convention), fused as Σ 1/(60 + rank). Only
    ranks cross systems — no score calibration — and the fusion is one
    tiny union+groupBy over the top-L candidate lists."""
    from pyspark.sql import Window

    from meteor_spark.operators.retrieval import bm25_topk, rrf_fuse
    from meteor_spark.operators.similarity import brute_force_topk

    docs = _docs(spark, sf_dir)
    lex = bm25_topk(docs, _BM25_TERMS, k=_RRF_L).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
        .alias("rank"),
    )
    emb = _t(spark, sf_dir, "embeddings")
    vec = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=_RRF_L).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, vec], k=_RRF_K, c=_RRF_C)


_RERANK_L = 25
_RERANK_Q = "('spark', 'window', 'hash')"

from meteor_spark.functions.exactmath import ppm_expr as _rr_ppm  # noqa: E402

_RERANK_PPM = _rr_ppm(
    "(4 * hits + 2 * adj)", "greatest(4 * hits + 2 * adj + dl, 1)", "//"
)


@query(
    "rerank_cross_encoder",
    f"""
    WITH nd AS (SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS ws FROM documents),
    tok AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM nd),
    tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM tok
           WHERE w IN {_RERANK_Q} GROUP BY doc_id, dl, w),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(ws)) AS avgdl FROM nd),
    dfq AS (SELECT w, CAST(count(*) AS DOUBLE) AS dft FROM tf GROUP BY w),
    bm AS (SELECT tf.doc_id,
                  round(sum(ln(1 + (n_docs - dft + 0.5) / (dft + 0.5))
                            * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
           FROM tf JOIN dfq USING (w) CROSS JOIN stats GROUP BY tf.doc_id),
    lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM bm
            QUALIFY rank <= {_RRF_L}),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    vec AS (SELECT vec_id AS doc_id,
                   row_number() OVER (
                     ORDER BY round(list_dot_product(qv, cv)
                                    / (sqrt(list_dot_product(qv, qv))
                                       * sqrt(list_dot_product(cv, cv))), 4) DESC,
                              vec_id) AS rank
            FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
                  WHERE vec_id <> 0) CROSS JOIN q
            QUALIFY rank <= {_RRF_L}),
    u AS (SELECT doc_id, rank FROM lex UNION ALL SELECT doc_id, rank FROM vec),
    cand AS (SELECT doc_id FROM u GROUP BY doc_id
             ORDER BY round(sum(1.0 / ({_RRF_C} + rank)), 6) DESC, doc_id
             LIMIT {_RERANK_L}),
    cdocs AS (SELECT n.doc_id, n.ws FROM nd n SEMI JOIN cand c ON n.doc_id = c.doc_id),
    h AS (SELECT doc_id, CAST(sum(least(c, 3)) AS BIGINT) AS hits
          FROM (SELECT doc_id, w, count(*) AS c
                FROM (SELECT doc_id, unnest(ws) AS w FROM cdocs)
                WHERE w IN {_RERANK_Q} GROUP BY doc_id, w)
          GROUP BY doc_id),
    aj AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS adj
           FROM (SELECT doc_id, unnest(range(1, len(ws))) AS i, ws FROM cdocs)
           WHERE list_extract(ws, CAST(i AS INT)) IN {_RERANK_Q}
             AND list_extract(ws, CAST(i AS INT) + 1) IN {_RERANK_Q}
           GROUP BY doc_id),
    feat AS (
      SELECT cd.doc_id,
             CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
             CAST(coalesce(aj.adj, 0) AS BIGINT) AS adj,
             CAST(len(cd.ws) AS BIGINT) AS dl
      FROM cdocs cd LEFT JOIN h ON h.doc_id = cd.doc_id
      LEFT JOIN aj ON aj.doc_id = cd.doc_id)
    SELECT doc_id, hits, adj, dl,
           CAST({_RERANK_PPM} AS BIGINT) AS score_ppm
    FROM feat
    ORDER BY score_ppm DESC, doc_id LIMIT {_RRF_K}
    """,
)
def rerank_cross_encoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third retrieval stage (retrieval.cross_encoder_rerank): the
    hybrid RRF candidate list (top-{_RERANK_L}) is re-scored by a
    deterministic cross-encoder-shaped stub — one Arrow-batched
    mapInPandas pass over the raw (query, document-text) pairs emitting
    joint interaction features (saturating term hits, adjacent-pair
    count, doc length), published as an exact-integer score_ppm via
    exactmath.ppm_expr. Completes retrieve -> fuse -> rerank: the
    candidate list broadcasts into one corpus scan (no shuffle, no
    SMJ), the Python stage sees only L rows, and a real model scorer
    drops into the _score_batches seam without touching the plan. The
    oracle replays the full three-stage pipeline in SQL."""
    from pyspark.sql import Window

    from meteor_spark.operators.retrieval import (
        bm25_topk,
        cross_encoder_rerank,
        rrf_fuse,
    )
    from meteor_spark.operators.similarity import brute_force_topk

    docs = _docs(spark, sf_dir)
    lex = bm25_topk(docs, _BM25_TERMS, k=_RRF_L).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
        .alias("rank"),
    )
    emb = _t(spark, sf_dir, "embeddings")
    vec = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=_RRF_L).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    cand = rrf_fuse([lex, vec], k=_RERANK_L, c=_RRF_C)
    return cross_encoder_rerank(cand, docs, _BM25_TERMS, k=_RRF_K)


@query(
    "audio_silence_segments",
    """
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE length(text) >= 64),
    fr AS (
      SELECT doc_id, unnest(range(0, length(text) // 64)) AS f, text FROM d),
    en AS (
      SELECT doc_id, f,
             list_avg(list_transform(range(1, 65),
               i -> CAST(pow(ascii(substr(text, CAST(f * 64 + i AS INT), 1)) - 128, 2)
                         AS DOUBLE))) AS energy
      FROM fr),
    sil AS (SELECT doc_id, f FROM en WHERE energy < 1940.0),
    isl AS (
      SELECT doc_id, f,
             f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS g
      FROM sil)
    SELECT doc_id, min(f) AS seg_start, max(f) AS seg_end,
           CAST(count(*) AS BIGINT) AS n_frames
    FROM isl GROUP BY doc_id, g
    """,
)
def audio_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio VAD-style silence segmentation (multimodal.frame_energies +
    silence_segments): binary blobs -> per-frame RMS^2 energy via
    Arrow-batched mapInPandas (deterministic fake PCM decode — see
    multimodal.decode_audio), then relational gap-and-islands merge of
    below-threshold frames. Energies are exact integers in double, so
    the oracle reproduces the identical framing and energy math over the
    same bytes in SQL."""
    from meteor_spark.operators import multimodal

    docs = _docs(spark, sf_dir)
    media = multimodal.attach_binary(docs)
    en = multimodal.frame_energies(media, frame_len=64)
    return multimodal.silence_segments(en, threshold=1940.0)


@query(
    "doc_containment_pairs",
    f"""
    WITH nd AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS nws FROM documents),
    sh AS (
      SELECT doc_id, {_shingle_sql(3)} AS sh FROM nd)
    SELECT a.doc_id AS a, b.doc_id AS b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 4)
             AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE len(a.sh) > 0
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= len(a.sh) * 0.7
    """,
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment join (dedup.containment_pairs): ordered pairs
    where >= 70% of a's 3-shingles occur in b — the asymmetric overlap
    that catches short docs swallowed by long ones, which Jaccard's
    union-normalization misses. Spark side is asymmetric prefix
    filtering (contained-side rare-gram prefix vs full postings,
    lossless); the oracle brute-forces every directed pair."""
    docs = _docs(spark, sf_dir)
    return dedup.containment_pairs(docs, threshold=0.7)


_CM_DEPTH, _CM_WIDTH = 4, 256


@query(
    "event_type_count_min",
    f"""
    WITH cells AS (
      SELECT r, ('0x' || substr(md5(e.event_type || '|' || CAST(r AS VARCHAR)), 1, 8))::BIGINT
                 % {_CM_WIDTH} AS c,
             count(*) AS cnt
      FROM events e, range({_CM_DEPTH}) t(r) GROUP BY 1, 2),
    items AS (SELECT DISTINCT event_type FROM events),
    pos AS (
      SELECT event_type, r,
             ('0x' || substr(md5(event_type || '|' || CAST(r AS VARCHAR)), 1, 8))::BIGINT
               % {_CM_WIDTH} AS c
      FROM items, range({_CM_DEPTH}) t(r)),
    est AS (
      SELECT p.event_type, min(cells.cnt) AS cm_estimate
      FROM pos p JOIN cells ON cells.r = p.r AND cells.c = p.c
      GROUP BY p.event_type)
    SELECT e.event_type, est.cm_estimate, count(*) AS exact_count
    FROM events e JOIN est ON est.event_type = e.event_type
    GROUP BY e.event_type, est.cm_estimate
    """,
)
def event_type_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates (sketches.count_min_partials
    / count_min_estimate): per-day d×w partial grids merged by plain sum,
    then point estimates (min over hash rows) for every event type next
    to the exact count — the CMS one-sided bound (estimate >= exact) made
    visible. Same engine-portable md5 hash family as sampling.hash_bucket,
    so the oracle rebuilds the identical grid in SQL. At 100 TB the grid
    is d*w integers per key group however many distinct items exist."""
    from meteor_spark.operators import sketches

    ev = _t(spark, sf_dir, "events")
    partials = sketches.count_min_partials(
        ev.withColumn("day", F.to_date("ts")), ["day"], "event_type",
        depth=_CM_DEPTH, width=_CM_WIDTH,
    )
    items = ev.select("event_type").distinct()
    est = sketches.count_min_estimate(
        partials, items, "event_type", depth=_CM_DEPTH, width=_CM_WIDTH
    )
    exact = ev.groupBy("event_type").agg(F.count("*").alias("exact_count"))
    return est.join(exact, "event_type").select("event_type", "cm_estimate", "exact_count")


@query(
    "next_fit_bin_packing",
    # tk MUST be MATERIALIZED: DuckDB inlines plain CTEs per reference,
    # so the recursive step re-evaluated the regexp token split once per
    # iteration — 327.8s -> 8.8s at 10x (the pagerank/minhash_eval
    # lesson's third sighting)
    f"""
    WITH RECURSIVE tk AS MATERIALIZED (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array({_NORM_SQL}, ' ')) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents),
    pk AS (
      SELECT doc_id, source, n_tokens, rn,
             CAST(0 AS BIGINT) AS bin_id,
             CAST(0 AS BIGINT) AS bin_offset,
             GREATEST(n_tokens, 0) AS fill
      FROM tk WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.source, t.n_tokens, t.rn,
             p.bin_id + CASE WHEN p.fill > 0
                              AND p.fill + GREATEST(t.n_tokens, 0) > 512
                             THEN 1 ELSE 0 END,
             CASE WHEN p.fill > 0 AND p.fill + GREATEST(t.n_tokens, 0) > 512
                  THEN 0 ELSE p.fill END,
             CASE WHEN p.fill > 0 AND p.fill + GREATEST(t.n_tokens, 0) > 512
                  THEN 0 ELSE p.fill END + GREATEST(t.n_tokens, 0)
      FROM tk t JOIN pk p ON t.source = p.source AND t.rn = p.rn + 1)
    SELECT doc_id, source, n_tokens, bin_id, bin_offset FROM pk
    """,
)
def next_fit_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document next-fit packing manifest (packing.next_fit_bins):
    each doc lands whole in the current 512-token bin or opens a new one.
    The recurrence is non-associative (no window form), so the Spark side
    is the documented applyInPandas sequential case — one (bin, fill)
    state pair per stream — and the oracle replays the identical
    recurrence as a DuckDB recursive CTE stepping one row per stream per
    iteration."""
    from meteor_spark.operators import packing

    docs = _t(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", "source", text.token_count(text.normalize_text(F.col("text"))).alias("n_tokens")
    )
    return packing.next_fit_bins(tk, "n_tokens", capacity=512)


@query(
    "corpus_holdout_split",
    """
    WITH b AS (
      SELECT doc_id, source, lang,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS bucket
      FROM documents)
    SELECT source, lang,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           count(DISTINCT doc_id) AS n_distinct
    FROM b GROUP BY source, lang, split
    """,
)
def corpus_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test holdout (sampling.holdout_split):
    md5-bucket ranges over doc_id — a document keeps its split forever as
    the corpus grows, so eval contamination can't creep in through
    resampling. Reported as per-(source, lang, split) counts; the oracle
    rebuilds the identical md5 bucket math in SQL."""
    from meteor_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.holdout_split(docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return out.groupBy("source", "lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_distinct"),
    )


@query("source_overlap_matrix", _OVERLAP_ORACLE)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap matrix (operators.text
    .source_overlap_matrix): shared winnowing fingerprints per source
    pair with Jaccard/overlap coefficients — mirrored-source forensics
    over the same fingerprint family the winnowing gate value-checks."""
    return text.source_overlap_matrix(_docs(spark, sf_dir), k=_WINNOW_K, window=_WINNOW_W)


@query("winnowing_fingerprints", _WINNOW_ORACLE)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (SWA'03) local fingerprints: k-gram md5 hashes, sliding
    window-min selection, distinct per doc — summarized per document.
    The oracle reproduces the identical selection."""
    docs = _docs(spark, sf_dir)
    fps = text.winnow_fingerprints(docs, k=_WINNOW_K, window=_WINNOW_W)
    return fps.groupBy("doc_id").agg(
        F.count("*").alias("n_fps"), F.min("fp").alias("min_fp"), F.max("fp").alias("max_fp")
    )


@query("text_analysis", _TEXT_ORACLE)
def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID + quality scoring + token counts + fingerprint in one
    scan (operators.text.analyze). Pure built-in functions — the whole
    row fuses into one codegen stage."""
    docs = _docs(spark, sf_dir)
    return text.analyze(docs)


_GOPHER_STOPWORDS = "['the','and','of','to','a','in','is','it','for','on']"


@query(
    "gopher_quality_gate",
    f"""
    WITH base AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\\s+') AS ws,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS wl,
             string_split(text, chr(10)) AS ls
      FROM documents),
    feat AS (
      SELECT doc_id,
             len(ws) AS n_words,
             round(list_sum(list_transform(ws, w -> len(w)))::DOUBLE / greatest(len(ws), 1), 4) AS mean_word_len,
             round(len(regexp_extract_all(text, '[#…]|\\.\\.\\.'))::DOUBLE / greatest(len(ws), 1), 4) AS symbol_ratio,
             round(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE / greatest(len(ws), 1), 4) AS alpha_ratio,
             len(list_intersect(list_distinct(wl), {_GOPHER_STOPWORDS})) AS n_stopwords,
             round(len(list_filter(ls, l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE / greatest(len(ls), 1), 4) AS bullet_ratio,
             round(len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))::DOUBLE / greatest(len(ls), 1), 4) AS ellipsis_ratio
      FROM base)
    SELECT *,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3 AND mean_word_len <= 10
            AND symbol_ratio < 0.1 AND alpha_ratio > 0.8
            AND n_stopwords >= 2
            AND bullet_ratio < 0.9 AND ellipsis_ratio <= 0.3) AS passes
    FROM feat
    """,
)
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021 A1.1): per-doc
    word-count/word-length/symbol/alpha/stopword/line-shape flags and
    the pass verdict — the first cut of a curation pipeline, before any
    dedup or LM scoring. One column-pruned scan, zero Python (see
    operators.text.gopher_rules); every ratio rounded pre-comparison so
    DuckDB reproduces each flag exactly."""
    docs = _docs(spark, sf_dir)
    return text.gopher_rules(docs)


_BM25_TERMS = ("spark", "window", "hash")
_BM25_K = 25


@query(
    "bm25_search_topk",
    f"""
    WITH nd AS (SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS ws FROM documents),
    tok AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM nd),
    tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM tok
           WHERE w IN ('spark', 'window', 'hash') GROUP BY doc_id, dl, w),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(ws)) AS avgdl FROM nd),
    dfq AS (SELECT w, CAST(count(*) AS DOUBLE) AS dft FROM tf GROUP BY w)
    SELECT tf.doc_id,
           count(*) AS n_terms,
           round(sum(ln(1 + (n_docs - dft + 0.5) / (dft + 0.5))
                     * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
    FROM tf JOIN dfq USING (w) CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, doc_id LIMIT {_BM25_K}
    """,
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval (operators.retrieval.bm25_topk): the
    corpus-search primitive of targeted curation — inverted-index
    postings restricted to the query terms inside the scan stage,
    df/N/avgdl as broadcast aggregates, TakeOrdered top-k."""
    from meteor_spark.operators.retrieval import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=_BM25_K)


_DSIR_BUCKETS = 256


@query(
    "dsir_importance_weights",
    f"""
    WITH tok AS (
      SELECT doc_id, lang = 'en' AS is_t,
             unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS w
      FROM documents),
    b AS (SELECT doc_id, is_t,
                 CAST(('0x' || substr(md5(w), 1, 4))::BIGINT % {_DSIR_BUCKETS} AS INT) AS bkt
          FROM tok),
    m AS (SELECT doc_id, is_t, bkt, count(*) AS m FROM b GROUP BY doc_id, is_t, bkt),
    raw AS (SELECT bkt, sum(m) AS cr FROM m GROUP BY bkt),
    tgt AS (SELECT bkt, sum(m) AS ct FROM m WHERE is_t GROUP BY bkt),
    dist AS (SELECT raw.bkt, coalesce(tgt.ct, 0) AS ct, raw.cr
             FROM raw LEFT JOIN tgt USING (bkt)),
    tots AS (SELECT CAST(sum(ct) AS DOUBLE) AS tot_t, CAST(sum(cr) AS DOUBLE) AS tot_r FROM dist),
    lp AS (SELECT bkt,
                  ln((ct + 1.0) / (tot_t + {_DSIR_BUCKETS}))
                  - ln((cr + 1.0) / (tot_r + {_DSIR_BUCKETS})) AS lp
           FROM dist CROSS JOIN tots)
    SELECT m.doc_id, CAST(sum(m.m) AS BIGINT) AS n_tokens,
           round(sum(m.m * lp.lp), 4) + 0.0 AS log_weight
    FROM m JOIN lp USING (bkt)
    GROUP BY m.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance reweighting (Xie et al. 2023) toward the 'en'
    subcorpus: hashed-unigram bucket log-likelihood ratios, add-one
    smoothed — the importance-resampling scorer of targeted data
    selection (operators.sampling.dsir_log_weights). Per-(doc,bucket)
    multiplicities shuffle once; both distributions broadcast."""
    from meteor_spark.operators.sampling import dsir_log_weights

    return dsir_log_weights(
        _docs(spark, sf_dir), F.col("lang") == "en", buckets=_DSIR_BUCKETS
    )


_PASSAGE_WORDS = 8


@query(
    "passage_dedup_survivors",
    f"""
    WITH nd AS (SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS ws FROM documents),
    ch AS (
      SELECT doc_id, CAST(j AS INT) AS chunk_id,
             array_to_string(list_slice(ws, j * {_PASSAGE_WORDS} + 1, j * {_PASSAGE_WORDS} + {_PASSAGE_WORDS}), ' ') AS passage
      FROM nd, unnest(range(0, CAST(ceil(len(ws) / {_PASSAGE_WORDS}.0) AS BIGINT))) AS t(j)),
    rk AS (SELECT doc_id, chunk_id, passage,
                  row_number() OVER (PARTITION BY md5(passage) ORDER BY doc_id, chunk_id) AS rn
           FROM ch),
    tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id),
    kept AS (SELECT doc_id, count(*) AS kept_chunks,
                    md5(string_agg(passage, ' ' ORDER BY chunk_id)) AS new_text_hash
             FROM rk WHERE rn = 1 GROUP BY doc_id)
    SELECT t.doc_id, t.n_chunks,
           coalesce(k.kept_chunks, 0) AS kept_chunks, k.new_text_hash
    FROM tot t LEFT JOIN kept k USING (doc_id)
    """,
)
def passage_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup with document reassembly
    (operators.dedup.passage_dedup): fixed-width word windows, first
    corpus-wide occurrence survives, doc re-stitched from surviving
    passages (hash of the reassembled text keeps the frame bounded) —
    C4's repeated-span drop at whole-passage granularity."""
    from meteor_spark.operators.dedup import passage_dedup

    return passage_dedup(_docs(spark, sf_dir), chunk_words=_PASSAGE_WORDS)


_HOT_PASSAGE_MIN = 3


@query(
    "hot_passage_scrub",
    f"""
    WITH nd AS (SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS ws FROM documents),
    ch AS (
      SELECT doc_id, CAST(j AS INT) AS chunk_id,
             array_to_string(list_slice(ws, j * {_PASSAGE_WORDS} + 1, j * {_PASSAGE_WORDS} + {_PASSAGE_WORDS}), ' ') AS passage
      FROM nd, unnest(range(0, CAST(ceil(len(ws) / {_PASSAGE_WORDS}.0) AS BIGINT))) AS t(j)),
    cnt AS (SELECT doc_id, chunk_id, passage,
                   count(*) OVER (PARTITION BY md5(passage)) AS n
            FROM ch),
    tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id),
    kept AS (SELECT doc_id, count(*) AS kept_chunks,
                    md5(string_agg(passage, ' ' ORDER BY chunk_id)) AS new_text_hash
             FROM cnt WHERE n < {_HOT_PASSAGE_MIN} GROUP BY doc_id)
    SELECT t.doc_id, t.n_chunks,
           coalesce(k.kept_chunks, 0) AS kept_chunks, k.new_text_hash
    FROM tot t LEFT JOIN kept k USING (doc_id)
    """,
)
def hot_passage_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (operators.dedup.hot_passage_scrub): every
    occurrence of a passage repeating >= 3 times corpus-wide
    is dropped — the RefinedWeb/Gopher repeated-line scrub at word-
    window granularity, complementing passage_dedup's keep-first
    semantics. Value-checks the reassembled text byte-for-byte via its
    md5."""
    from meteor_spark.operators.dedup import hot_passage_scrub

    return hot_passage_scrub(
        _docs(spark, sf_dir),
        chunk_words=_PASSAGE_WORDS,
        min_count=_HOT_PASSAGE_MIN,
    )


@query(
    "training_order_interleave",
    """
    WITH sdim AS (SELECT DISTINCT source FROM documents),
    sidx AS (SELECT source, row_number() OVER (ORDER BY source) AS si FROM sdim),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sdim),
    r AS (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY md5('ep0:' || CAST(doc_id AS VARCHAR)), doc_id) AS source_rank
          FROM documents)
    SELECT r.doc_id, r.source, CAST(r.source_rank AS BIGINT) AS source_rank,
           CAST((r.source_rank - 1) * ns.n + sidx.si - 1 AS BIGINT) AS position
    FROM r JOIN sidx USING (source) CROSS JOIN ns
    ORDER BY position
    """,
)
def training_order_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle + strict source round-robin training
    order (operators.sampling.training_order_interleave): position is
    COMPUTED as (source_rank-1)·n_sources + source_index — no global
    row_number funneling the corpus through one reducer; the only
    window is per-source and the source dim is a broadcast."""
    from meteor_spark.operators.sampling import training_order_interleave as toi

    return toi(_t(spark, sf_dir, "documents"))


_QSK_BINS = 64


@query(
    "event_value_quantile_sketch_rollup",
    f"""
    WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
    binned AS (
      SELECT event_type,
             greatest(least(CAST(floor((value - lo) / ((hi - lo) / {_QSK_BINS})) AS INTEGER),
                            {_QSK_BINS - 1}), 0) AS bin
      FROM events, b),
    merged AS (SELECT event_type, bin, count(*) AS cnt FROM binned GROUP BY event_type, bin),
    cum AS (
      SELECT event_type, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS c,
             sum(cnt) OVER (PARTITION BY event_type) AS total
      FROM merged)
    SELECT event_type, CAST(max(total) AS BIGINT) AS n_rows,
           round(lo + min(CASE WHEN c >= 0.5  * total THEN bin END) * (hi - lo) / {_QSK_BINS}, 4) AS p50,
           round(lo + min(CASE WHEN c >= 0.95 * total THEN bin END) * (hi - lo) / {_QSK_BINS}, 4) AS p95,
           round(lo + min(CASE WHEN c >= 0.99 * total THEN bin END) * (hi - lo) / {_QSK_BINS}, 4) AS p99
    FROM cum, b GROUP BY event_type, lo, hi
    """,
)
def event_value_quantile_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (operators.sketches.quantile_bin_*):
    per-(event_type, day) fixed-bin partials merged up to event_type and
    read off as p50/p95/p99 — the quantile twin of the HLL rollup, with
    EXACT merge semantics (integer bin counts sum associatively), so the
    oracle checks full value equality. Since sum-merge is exact, the
    oracle's one-stage grouping is definitionally identical to the
    engine's two-stage partial/merge path — the gate proves precisely
    the mergeability property. Bounds are one broadcast agg row."""
    from meteor_spark.operators.sketches import merge_quantile_bins, quantile_bin_partials

    ev = _t(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("value"), F.max("value")).collect()[0]
    partials = quantile_bin_partials(
        ev.withColumn("day", F.date_trunc("day", "ts")),
        ["event_type", "day"],
        "value",
        float(lo),
        float(hi),
        bins=_QSK_BINS,
    )
    return merge_quantile_bins(
        partials, ["event_type"], float(lo), float(hi), bins=_QSK_BINS
    )


@query(
    "lineitem_measure_unpivot",
    """
    WITH u AS (
      SELECT l_orderkey, 'quantity' AS measure, l_quantity AS v FROM lineitem
      UNION ALL
      SELECT l_orderkey, 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, 'discount', l_discount FROM lineitem)
    SELECT measure, count(*) AS n, round(sum(v), 2) AS total, round(avg(v), 4) AS mean
    FROM u GROUP BY measure
    """,
)
def lineitem_measure_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long) + per-measure profile: Spark's native
    `unpivot` emits one Expand node over a single scan — one pass,
    not the oracle's three-scan UNION ALL (the declarative form lets
    Catalyst keep it single-scan where a hand-written union cannot)."""
    li = _t(spark, sf_dir, "lineitem")
    u = li.unpivot(
        "l_orderkey",
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "v",
    ).withColumn("measure", F.regexp_replace("measure", "^l_", ""))
    return u.groupBy("measure").agg(
        F.count("*").alias("n"),
        F.round(F.sum("v"), 2).alias("total"),
        F.round(F.avg("v"), 4).alias("mean"),
    )


@query(
    "events_trailing_window",
    """
    WITH d AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) AS day_num,
             round(sum(value), 2) AS daily_total
      FROM events GROUP BY 1, 2)
    SELECT event_type, CAST(day_num AS BIGINT) AS day_num, daily_total,
           round(sum(daily_total) OVER w, 2) AS trailing7_total,
           round(avg(daily_total) OVER w, 4) AS trailing7_avg
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def events_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE sliding window: per-type daily revenue with a 7-day
    trailing sum/avg — RANGE BETWEEN over an integer day index (NOT rows:
    missing days must shrink the frame). Two layers: a map-side-combined
    daily aggregate (shuffle = types x days rows), then the range frame
    over that small frame — the raw table never enters the window."""
    ev = _t(spark, sf_dir, "events")
    day_num = F.datediff(
        F.to_date(F.date_trunc("day", "ts")), F.lit("1970-01-01").cast("date")
    ).cast("long")
    d = ev.groupBy("event_type", day_num.alias("day_num")).agg(
        F.round(F.sum("value"), 2).alias("daily_total")
    )
    w = Window.partitionBy("event_type").orderBy("day_num").rangeBetween(-6, 0)
    return d.select(
        "event_type",
        "day_num",
        "daily_total",
        F.round(F.sum("daily_total").over(w), 2).alias("trailing7_total"),
        F.round(F.avg("daily_total").over(w), 4).alias("trailing7_avg"),
    )


@query(
    "event_value_outliers",
    """
    WITH med AS (
      SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, med.med, abs(e.value - med.med) AS ad
      FROM events e JOIN med USING (event_type)),
    mad AS (
      SELECT event_type, percentile_cont(0.5) WITHIN GROUP (ORDER BY ad) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type, count(*) AS n,
           round(max(d.med), 4) AS med, round(max(mad.mad), 4) AS mad,
           CAST(sum(CASE WHEN d.ad > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad USING (event_type)
    GROUP BY d.event_type
    """,
)
def event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier statistics per key: median + MAD (median absolute
    deviation) + |x-med| > 3·MAD count — the heavy-tail-safe anomaly
    screen a value column gets before drift monitoring. Two exact
    interpolated percentiles (Spark F.percentile == SQL
    percentile_cont), medians broadcast back; three passes over the
    scan, never a per-row window."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.percentile("value", F.lit(0.5)).alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.percentile("ad", F.lit(0.5)).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.max("med"), 4).alias("med"),
            F.round(F.max("mad"), 4).alias("mad"),
            F.sum(F.when(F.col("ad") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
        )
    )


_PR_D = 0.85
_PR_ITERS = 5


def _pagerank_oracle() -> str:
    # every CTE MATERIALIZED: each pr level references e/nodes/nn and
    # the prior level — DuckDB inlines plain CTEs PER REFERENCE, so the
    # un-materialized form re-evaluated the 5M-row distinct + pair join
    # once per level per reference and filled the disk with spill at
    # the full ×100 fixture (the minhash_eval lesson, second sighting)
    base = """
    WITH ut AS MATERIALIZED (SELECT DISTINCT user_id, event_type FROM events),
    pairs AS MATERIALIZED (
      SELECT a.event_type AS a, b.event_type AS b, count(*) AS w
      FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2),
    edges AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM pairs UNION ALL SELECT b, a, w FROM pairs),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    wout AS MATERIALIZED (SELECT src, CAST(sum(w) AS DOUBLE) AS wout FROM edges GROUP BY src),
    e AS MATERIALIZED (SELECT src, dst, w / wout AS p FROM edges JOIN wout USING (src)),
    pr0 AS MATERIALIZED (SELECT node, round(1.0 / n, 8) AS pr FROM nodes, nn),
    """
    its = []
    for k in range(1, _PR_ITERS + 1):
        its.append(f"""pr{k} AS MATERIALIZED (
      SELECT nodes.node,
             round((1 - {_PR_D}) / nn.n + {_PR_D} * coalesce(c.s, 0), 8) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN (SELECT e.dst AS node, sum(pr{k - 1}.pr * e.p) AS s
                 FROM e JOIN pr{k - 1} ON e.src = pr{k - 1}.node GROUP BY e.dst) c
        ON c.node = nodes.node)""")
    return (
        base
        + ",\n    ".join(its)
        + f"\n    SELECT node, round(pr, 6) AS pagerank FROM pr{_PR_ITERS}"
    )


@query("workload_table_pagerank", _pagerank_oracle())
def workload_table_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asset centrality in the mined co-usage graph: the join-pair graph
    (the reference's auditlog join mining, reference stats.go) ranked by
    weighted PageRank (operators.graph.pagerank) — the dataset-search
    popularity signal a catalog layers over usage stats. Fixed
    iterations with per-iteration rounding make the run deterministic,
    so the oracle replays all 5 iterations as chained CTEs and checks
    full value equality — an iterative graph algorithm with an EXACT
    gate."""
    from meteor_spark.operators.graph import pagerank

    ut = _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    pairs = usage.co_usage_pairs(ut).select(
        F.col("a").alias("pa"), F.col("b").alias("pb"), F.col("n").alias("w")
    )
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst"), "w"
    ).unionByName(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"), "w"))
    return pagerank(edges, damping=_PR_D, iters=_PR_ITERS)


@query(
    "streaming_quantile_rollup",
    f"""
    WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
    binned AS (
      SELECT event_type,
             greatest(least(CAST(floor((value - lo) / ((hi - lo) / {_QSK_BINS})) AS INTEGER),
                            {_QSK_BINS - 1}), 0) AS bin
      FROM events, b),
    merged AS (SELECT event_type, bin, count(*) AS cnt FROM binned GROUP BY event_type, bin),
    cum AS (
      SELECT event_type, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS c,
             sum(cnt) OVER (PARTITION BY event_type) AS total
      FROM merged)
    SELECT event_type, CAST(max(total) AS BIGINT) AS n_rows,
           round(lo + min(CASE WHEN c >= 0.5  * total THEN bin END) * (hi - lo) / {_QSK_BINS}, 4) AS p50,
           round(lo + min(CASE WHEN c >= 0.95 * total THEN bin END) * (hi - lo) / {_QSK_BINS}, 4) AS p95,
           round(lo + min(CASE WHEN c >= 0.99 * total THEN bin END) * (hi - lo) / {_QSK_BINS}, 4) AS p99
    FROM cum, b GROUP BY event_type, lo, hi
    """,
)
def streaming_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile sketch: the events STREAM maintains per-(type,
    bin) counts in state (complete mode — integer bin counts are the
    mergeable sketch partials, updated incrementally per microbatch),
    then the finished state reads off p50/p95/p99. Because bin-count
    merge is EXACT, the bounded stream must equal the batch sketch to
    the last digit — an exact-oracle streaming aggregation, not an
    approximation gate. Bounds come from one static agg (a production
    stream fixes its sketch domain upfront the same way)."""
    from meteor_spark.operators.sketches import merge_quantile_bins, quantile_bin_partials
    from meteor_spark.streaming.pipeline import run_stream_to_batch, stream_events

    lo, hi = _t(spark, sf_dir, "events").agg(F.min("value"), F.max("value")).collect()[0]
    ev = stream_events(spark, sf_dir)
    partials = quantile_bin_partials(ev, ["event_type"], "value", float(lo), float(hi), bins=_QSK_BINS)
    state = run_stream_to_batch(partials, output_mode="complete")
    return merge_quantile_bins(state, ["event_type"], float(lo), float(hi), bins=_QSK_BINS)


def _bpe_cte_chain(n_merges: int) -> str:
    """Chained-CTE replay of bpe.train_bpe shared by the trainer and
    encoder oracles: word-type counts, then per merge step (1) weighted
    adjacent-pair counts + argmax (count desc, pair lexicographic —
    binary collation equals Python's tuple compare on the ASCII
    fixture), (2) the greedy left-to-right merge application. The
    sequential-looking apply step is relational: match positions that
    are CONSECUTIVE overlap (only possible when left==right), and
    Python's scan takes every other one — so chosen = odd row_number
    within each maximal run (pos − rank grouping), the gaps-and-islands
    trick. Token tuples can never collide across word types (a tuple
    always concatenates back to its word), so keying state by the
    original word is lossless. MATERIALIZED per step, same reason as
    the kmeans oracle. Exposes best{{s}} (the step-s rule) and
    tok{{n_merges}} (every word type's final token sequence — i.e. the
    encoded form of the whole vocabulary)."""
    head = f"""
WITH wn AS MATERIALIZED (
  SELECT word AS wid, count(*) AS n
  FROM (SELECT unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS word FROM documents)
  GROUP BY 1),
tok0 AS MATERIALIZED (
  SELECT wid, CAST(unnest(range(len(wid))) + 1 AS INT) AS pos,
         substr(wid, CAST(unnest(range(len(wid))) + 1 AS INT), 1) AS tok
  FROM wn)"""
    steps = []
    for s in range(n_merges):
        steps.append(f""",
prs{s} AS MATERIALIZED (
  SELECT t1.tok AS a, t2.tok AS b, CAST(sum(w.n) AS BIGINT) AS cnt
  FROM tok{s} t1 JOIN tok{s} t2 ON t1.wid = t2.wid AND t2.pos = t1.pos + 1
  JOIN wn w ON w.wid = t1.wid
  GROUP BY 1, 2),
best{s} AS MATERIALIZED (SELECT a, b, cnt FROM prs{s} ORDER BY cnt DESC, a, b LIMIT 1),
m{s} AS MATERIALIZED (
  SELECT t1.wid, t1.pos
  FROM tok{s} t1 JOIN tok{s} t2 ON t1.wid = t2.wid AND t2.pos = t1.pos + 1
  JOIN best{s} x ON t1.tok = x.a AND t2.tok = x.b),
ch{s} AS MATERIALIZED (
  SELECT wid, pos FROM (
    SELECT wid, pos,
           row_number() OVER (PARTITION BY wid, pos - rn ORDER BY pos) AS k
    FROM (SELECT wid, pos, row_number() OVER (PARTITION BY wid ORDER BY pos) AS rn FROM m{s}))
  WHERE k % 2 = 1),
tok{s + 1} AS MATERIALIZED (
  SELECT wid, CAST(row_number() OVER (PARTITION BY wid ORDER BY pos) AS INT) AS pos, tok FROM (
    SELECT c.wid, c.pos, x.a || x.b AS tok FROM ch{s} c CROSS JOIN best{s} x
    UNION ALL
    SELECT t.wid, t.pos, t.tok FROM tok{s} t
    WHERE NOT EXISTS (SELECT 1 FROM ch{s} c
                      WHERE c.wid = t.wid AND (c.pos = t.pos OR c.pos = t.pos - 1))))""")
    return head + "".join(steps)


def _bpe_oracle_sql(n_merges: int = 20) -> str:
    """Trainer readout over _bpe_cte_chain: the per-step argmax rows."""
    tail = "\nSELECT * FROM (" + "\nUNION ALL ".join(
        f'SELECT {s} AS step, a AS "left", b AS "right", a || b AS merged, cnt AS pair_count FROM best{s}'
        for s in range(n_merges)
    ) + ") ORDER BY step"
    return _bpe_cte_chain(n_merges) + tail


def _bpe_subword_tail(group_col: str, n_merges: int, with_ppm: bool) -> str:
    """Shared encoder readout over _bpe_cte_chain: tok{n} IS every word
    type encoded under the trained merges (train-time vocab update and
    encode-by-rank agree because a merge of rank r only ever creates
    tokens that participate in rules of rank > r — pinned by
    tests/test_bpe.py), so per-group subword counts are a word join
    away. LEFT JOIN + coalesce keeps any zero-length word type (absent
    from tok0 by construction) counted as 0 subwords, matching
    encode_word's empty tokenization. Parameterized on the grouping
    column (doc_id for the encode gate, lang for fertility) and the
    optional exact-ppm ratio."""
    from meteor_spark.functions.exactmath import ppm_expr

    ppm = (
        f",\n       CAST({ppm_expr('n_subwords', 'n_words', '//')} AS BIGINT)"
        " AS fertility_ppm"
        if with_ppm
        else ""
    )
    return f""",
wsub AS MATERIALIZED (
  SELECT wid, CAST(count(*) AS BIGINT) AS n_sub FROM tok{n_merges} GROUP BY wid),
docw AS (
  SELECT {group_col}, unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS wid FROM documents)
SELECT {group_col}, n_words, n_subwords{ppm}
FROM (
  SELECT {group_col}, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(coalesce(n_sub, 0)) AS BIGINT) AS n_subwords
  FROM docw LEFT JOIN wsub USING (wid)
  GROUP BY {group_col})
ORDER BY {group_col}"""


def _bpe_encode_oracle_sql(n_merges: int = 20) -> str:
    return _bpe_cte_chain(n_merges) + _bpe_subword_tail("doc_id", n_merges, False)


def _bpe_rules(docs: DataFrame) -> list:
    """The 20-merge rule table the trainer, encoder and fertility gates
    all read. Training is deterministic (count desc, pair lexicographic
    ties), so every gate trains the identical table."""
    from meteor_spark.operators.bpe import train_bpe

    return train_bpe(docs, n_merges=20)[0]


@query("bpe_merge_rules", _bpe_oracle_sql())
def bpe_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training on the corpus (operators.bpe.train_bpe):
    distributed word-type counting (the only corpus-scale pass), then a
    deterministic merge loop over the bounded word-type table — the
    HF-tokenizers split of labor. Output = the first 20 merge rules
    with their weighted pair counts. Upgraded from rows-only in round
    4: _bpe_oracle_sql replays the whole training loop, so the gate has
    full value equality."""
    from meteor_spark.operators.bpe import merge_rules_frame

    return merge_rules_frame(spark, _bpe_rules(_docs(spark, sf_dir)))


@query(
    "bpe_token_stats",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS w FROM documents)
    SELECT doc_id, count(*) AS n_words, CAST(sum(len(w)) AS BIGINT) AS n_chars
    FROM tok GROUP BY doc_id
    """,
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenization stats feeding the BPE trainer (word + char
    counts per doc — the bounds of any subword count: n_words <=
    n_subwords <= n_chars). The encode path itself (trained merges,
    Arrow-batched over distinct word types) is covered by
    tests/test_bpe.py; this gate value-checks the corpus-scale
    tokenization layer it runs on."""
    docs = _docs(spark, sf_dir)
    from meteor_spark.operators.text import normalize_text, words

    tok = docs.select(
        "doc_id", F.explode(words(normalize_text(F.col("text")))).alias("w")
    )
    return tok.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.length("w")).cast("long").alias("n_chars"),
    )


def _bpe_fertility_oracle_sql(n_merges: int = 20) -> str:
    """Per-language readout over the encode chain: fertility =
    subwords per word (exact overflow-free ppm) by document language."""
    return _bpe_cte_chain(n_merges) + _bpe_subword_tail("lang", n_merges, True)


@query("bpe_fertility_by_lang", _bpe_fertility_oracle_sql())
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language (subwords per word, exact ppm):
    the standard multilingual-vocab health metric — a language whose
    fertility runs hot is being over-fragmented by the merge table and
    needs vocab budget. Same corpus-scale shape as bpe_encode_stats
    (Python touches only distinct word types; the per-language step is
    the broadcast subword-count join + one groupBy); the oracle reads
    the trainer chain's final token table per language."""
    from meteor_spark.operators.bpe import encode_token_counts

    docs = _docs(spark, sf_dir)
    from meteor_spark.functions.exactmath import ppm_expr

    per_lang = encode_token_counts(docs, _bpe_rules(docs), id_col="lang")
    return per_lang.select(
        "lang",
        "n_words",
        "n_subwords",
        F.expr(ppm_expr("n_subwords", "n_words", "div"))
        .cast("long")
        .alias("fertility_ppm"),
    ).orderBy("lang")


@query("bpe_encode_stats", _bpe_encode_oracle_sql())
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer APPLY pass (operators.bpe.encode_token_counts):
    train 20 merges on the corpus, then tokenize every document with
    them — per-doc (n_words, n_subwords). This is the corpus-scale half
    of BPE the trainer gate doesn't touch: Python encodes only DISTINCT
    word types (Arrow-batched pandas UDF), and the per-document step is
    a broadcast join of word -> subword count, so 100 TB of text never
    meets a Python loop. Exact oracle: the trainer oracle's final token
    table IS the encoded vocabulary (rank-order exhaustive application
    equals priority-by-rank encoding — a merge can only create tokens
    used by later-ranked rules), joined back onto the documents."""
    from meteor_spark.operators.bpe import encode_token_counts

    docs = _docs(spark, sf_dir)
    return encode_token_counts(docs, _bpe_rules(docs))


def _kmeans_oracle_sql(k: int = 8, iters: int = 4, round_to: int = 6) -> str:
    """Chained-CTE replay of similarity.kmeans_fit: init = the k
    smallest-vec_id vectors (cluster = order index), then per iteration
    ASSIGN (argmax of dot(v,c) − |c|²/2, ties to the lowest cluster) and
    UPDATE (per-component avg ROUNDED to round_to; empty clusters keep
    the previous centroid), then one final assign + the label-mix
    readout. The rounding firewall between iterations is what makes the
    greedy path engine-replayable — the same discipline as the kcenter
    oracle. One extra assign runs after the last update, mirroring the
    Spark loop's trailing assign(cents)."""
    head = f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
comps AS MATERIALIZED (SELECT vec_id, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x FROM base),
init AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
         FROM (SELECT vec_id FROM base ORDER BY vec_id LIMIT {k})),
c0 AS MATERIALIZED (SELECT i.cluster, c.pos, c.x AS m FROM init i JOIN comps c USING (vec_id))"""
    steps, prev = [], "c0"
    for it in range(1, iters + 1):
        steps.append(f""",
sc{it} AS MATERIALIZED (
  SELECT c.vec_id, ce.cluster, sum(c.x * ce.m) AS d
  FROM comps c JOIN {prev} ce USING (pos) GROUP BY 1, 2),
hs{it} AS MATERIALIZED (SELECT cluster, sum(m * m) / 2.0 AS half FROM {prev} GROUP BY 1),
a{it} AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT s.vec_id, s.cluster,
           row_number() OVER (PARTITION BY s.vec_id
             ORDER BY s.d - h.half DESC, s.cluster) AS rk
    FROM sc{it} s JOIN hs{it} h USING (cluster)) WHERE rk = 1),
u{it} AS MATERIALIZED (
  SELECT a.cluster, c.pos, round(avg(c.x), {round_to}) AS m
  FROM a{it} a JOIN comps c USING (vec_id) GROUP BY 1, 2),
c{it} AS MATERIALIZED (
  SELECT * FROM u{it}
  UNION ALL
  SELECT p.* FROM {prev} p
  WHERE p.cluster NOT IN (SELECT DISTINCT cluster FROM u{it}))""")
        prev = f"c{it}"
    tail = f""",
scf AS MATERIALIZED (
  SELECT c.vec_id, ce.cluster, sum(c.x * ce.m) AS d
  FROM comps c JOIN {prev} ce USING (pos) GROUP BY 1, 2),
hsf AS MATERIALIZED (SELECT cluster, sum(m * m) / 2.0 AS half FROM {prev} GROUP BY 1),
af AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT s.vec_id, s.cluster,
           row_number() OVER (PARTITION BY s.vec_id
             ORDER BY s.d - h.half DESC, s.cluster) AS rk
    FROM scf s JOIN hsf h USING (cluster)) WHERE rk = 1),
lab AS (
  SELECT a.cluster, b.label, count(*) AS n
  FROM af a JOIN base b USING (vec_id) GROUP BY 1, 2),
tot AS (SELECT cluster, CAST(sum(n) AS BIGINT) AS n_vecs FROM lab GROUP BY 1),
tl AS (
  SELECT cluster, label, n,
         row_number() OVER (PARTITION BY cluster ORDER BY n DESC, label DESC) AS rk
  FROM lab)
SELECT t.cluster, t.n_vecs, CAST(tl.label AS INTEGER) AS top_label,
       round(tl.n * 1.0 / t.n_vecs, 4) AS top_label_share
FROM tot t JOIN tl ON t.cluster = tl.cluster AND tl.rk = 1
ORDER BY t.cluster"""
    return head + "".join(steps) + tail


@query("embedding_kmeans_profile", _kmeans_oracle_sql())
def embedding_kmeans_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding table + per-cluster
    label-mix report (operators.similarity.kmeans_fit): each iteration is
    one scan + one k·dim-row partial-agg shuffle; centroids round-tripped
    as ROUNDED literals so the fit is partitioning-reproducible — and,
    as of round 4, engine-replayable: the oracle re-runs init, all
    assign/update iterations, and the final readout as chained CTEs
    (upgraded from rows-only the way kcenter/srp/ivf were)."""
    from meteor_spark.operators.similarity import kmeans_cluster_profile

    return kmeans_cluster_profile(_t(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# Deduplication (beyond-reference)
# --------------------------------------------------------------------------



@query(
    "dedup_exact_survivors",
    f"""
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (PARTITION BY md5({_NORM_SQL}) ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(normalized text), min(doc_id)
    survives. One shuffle on the 32-char hash key."""
    docs = _docs(spark, sf_dir)
    return dedup.dedup_exact(docs).select("doc_id")


@query(
    "exact_dup_groups",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, upper(text) FROM documents WHERE doc_id < 30),
    nd AS (SELECT doc_id, {_NORM_SQL} AS nt FROM corpus)
    SELECT md5(nt) AS fingerprint, count(*) AS n_docs,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM nd GROUP BY 1 HAVING count(*) > 1
    """,
)
def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic documents contain no exact duplicates at any SF, so
    the unplanted form of this gate matched its oracle on EMPTY sets
    (vacuously). Both sides now union in case-mangled re-crawls of the
    30 lowest-id docs — normalization must fold them into their
    originals' groups, so the gate exercises the fingerprint + grouping
    path on every round. (_NORM_SQL lowercases, so upper(text) is an
    exact dup AFTER normalization but not before.)"""
    docs = _t(spark, sf_dir, "documents")
    recrawl = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.upper("text").alias("text"), "lang", "source", "n_chars"
    )
    return (
        dedup.exact_duplicates(docs.unionByName(recrawl))
        .select(
            "fingerprint",
            "n_docs",
            F.array_min("doc_ids").alias("min_doc"),
            F.array_max("doc_ids").alias("max_doc"),
        )
    )


_MINHASH_K = 3
_MINHASH_HASHES = 12
_MINHASH_BANDS = 4
_MINHASH_ROWS = _MINHASH_HASHES // _MINHASH_BANDS

# Kirsch-Mitzenmacher double hashing from ONE md5 per shingle — must
# mirror operators.dedup.minhash_signature exactly (int64 arithmetic).
_SIG_SQL = ", ".join(
    f"list_min(list_transform(hs, h -> h.h1 + {i} * h.h2))" for i in range(_MINHASH_HASHES)
)
_HS_SQL = (
    "list_transform(sh, s -> struct_pack("
    "h1 := ('0x' || substr(md5(s), 1, 8))::BIGINT, "
    "h2 := ('0x' || substr(md5(s), 9, 8))::BIGINT))"
)
_BAND_SQL = ", ".join(
    "md5("
    + " || '|' || ".join(f"CAST(sig[{b * _MINHASH_ROWS + r + 1}] AS VARCHAR)" for r in range(_MINHASH_ROWS))
    + f") AS band{b}"
    for b in range(_MINHASH_BANDS)
)

# shared CTE chain: normalized shingles -> signatures -> bands -> verified
# pairs; reused by the clustering oracles below
_MINHASH_CTES = f"""nd AS (
  SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS nws FROM documents),
sh AS (
  SELECT doc_id, {_shingle_sql(_MINHASH_K)} AS sh FROM nd),
hs AS (
  SELECT doc_id, sh, {_HS_SQL} AS hs FROM sh),
sig AS (
  SELECT doc_id, sh, [{_SIG_SQL}] AS sig FROM hs),
bands AS (
  SELECT doc_id, sh, {_BAND_SQL} FROM sig),
pairs AS (
  {" UNION ".join(
    f'''SELECT a.doc_id AS a, b.doc_id AS b
        FROM bands a JOIN bands b ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id'''
    for b in range(_MINHASH_BANDS)
  )}
),
verified AS (
  SELECT p.a, p.b,
         round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
  FROM (SELECT DISTINCT a, b FROM pairs) p
  JOIN sh x ON x.doc_id = p.a
  JOIN sh y ON y.doc_id = p.b)"""

_MINHASH_ORACLE = f"""
WITH {_MINHASH_CTES}
SELECT a, b, jaccard FROM verified WHERE jaccard >= 0.5
"""


@query("minhash_near_duplicates", _MINHASH_ORACLE)
def minhash_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection: shingle → 12 md5-minhashes →
    4 bands → bucket-equi-join → exact Jaccard ≥ 0.5 verification.
    The oracle builds the identical sketch (md5 is the shared hash
    family), so even the candidate generation is checked."""
    return _minhash_pairs(spark, sf_dir)


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted: connected_components and minhash_eval_report each read
    # the pairs twice
    return persist(dedup.minhash_near_duplicates(
        _docs(spark, sf_dir),
        k=_MINHASH_K,
        num_hashes=_MINHASH_HASHES,
        bands=_MINHASH_BANDS,
        threshold=0.5,
    ))


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from meteor_spark.operators.cluster import connected_components

    return connected_components(_minhash_pairs(spark, sf_dir))


# near-dup clustering: transitive closure of the verified minhash pairs.
# The fixpoint (min component id per node) is unique, so the DuckDB
# recursive-CTE closure and Spark's iterative label propagation must agree
# exactly. ONE copy of the closure CTEs (like _MINHASH_CTES) feeds the
# cluster report and both survivor policies — edit it here only.
_CC_CTES = f"""{_MINHASH_CTES},
good AS (SELECT a, b FROM verified WHERE jaccard >= 0.5),
e2 AS (SELECT a AS s, b AS d FROM good UNION SELECT b AS s, a AS d FROM good),
reach(node, r) AS (
  SELECT s AS node, s AS r FROM e2
  UNION
  SELECT reach.node, e2.d FROM reach JOIN e2 ON reach.r = e2.s
)"""

_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_CC_CTES}
SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
"""


@query("near_dup_clusters", _CLUSTER_ORACLE)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: minhash LSH pairs resolved into connected
    components (operators.cluster) — cluster_id = min doc_id of the
    component. Pairs alone can't drive dedup (chains a-b, b-c); the
    closure can."""
    return _cluster_labels(spark, sf_dir).select(F.col("node").alias("doc_id"), "cluster_id")


_CLUSTER_SURVIVOR_ORACLE = f"""
WITH RECURSIVE {_CC_CTES},
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id FROM documents d
LEFT JOIN cc ON cc.node = d.doc_id AND cc.cluster_id <> cc.node
WHERE cc.node IS NULL
"""


@query("near_dup_cluster_survivors", _CLUSTER_SURVIVOR_ORACLE)
def near_dup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup: keep every unclustered doc plus the min-id
    representative of each near-dup cluster (operators.cluster
    .survivors_from_labels — anti-join on the clustered non-representatives,
    broadcast by AQE since losers << corpus)."""
    from meteor_spark.operators.cluster import survivors_from_labels

    docs = _docs(spark, sf_dir)
    labels = _cluster_labels(spark, sf_dir)
    return survivors_from_labels(docs, labels).select("doc_id")


_BEST_SURVIVOR_ORACLE = f"""
WITH RECURSIVE {_CC_CTES},
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
ranked AS (
  SELECT cc.node,
         row_number() OVER (PARTITION BY cc.cluster_id
                            ORDER BY d.n_chars DESC, cc.node) AS rk
  FROM cc JOIN documents d ON d.doc_id = cc.node)
SELECT d.doc_id FROM documents d
LEFT JOIN (SELECT node FROM ranked WHERE rk > 1) l ON l.node = d.doc_id
WHERE l.node IS NULL
"""


@query("near_dup_best_survivors", _BEST_SURVIVOR_ORACLE)
def near_dup_best_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware fuzzy dedup (cluster.best_survivors_from_labels):
    per near-dup cluster keep the LONGEST member (n_chars, ties to the
    lowest id) instead of the min-id one — the production policy when
    near-dups differ in quality (keep the full page, drop its truncated
    mirrors). The ranking window runs over the labels table only
    (clustered docs << corpus); the corpus-sized step is the same
    AQE-broadcast left_anti as min-id selection."""
    from meteor_spark.operators.cluster import best_survivors_from_labels

    docs = _docs(spark, sf_dir)
    labels = _cluster_labels(spark, sf_dir)
    return best_survivors_from_labels(docs, labels, "n_chars").select("doc_id")


_SIMHASH_ORACLE = f"""
WITH w AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id, unnest(list_distinct(regexp_split_to_array({_NORM_SQL}, ' '))) AS w FROM documents)),
wb AS (
  SELECT doc_id, w, unnest(range(32)) AS pos FROM w),
bits AS (
  SELECT doc_id, pos,
         (((strpos('0123456789abcdef', substr(md5(w), (pos // 4) + 1, 1)) - 1) >> (pos % 4)) & 1) * 2 - 1 AS contrib
  FROM wb),
sums AS (
  SELECT doc_id, pos, sum(contrib) AS s FROM bits GROUP BY doc_id, pos)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << pos ELSE 0 END) AS BIGINT) AS simhash
FROM sums GROUP BY doc_id
"""


@query("simhash_docs", _SIMHASH_ORACLE)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (relational formulation — see
    operators.dedup.simhash)."""
    docs = _docs(spark, sf_dir)
    return dedup.simhash(docs)


_NGRAM_K = 2
_NGRAM_ORACLE = f"""
WITH nd AS (
  SELECT doc_id, lang, source, regexp_split_to_array({_NORM_SQL}, ' ') AS nws FROM documents),
sh AS (
  SELECT doc_id, lang, source, {_shingle_sql(_NGRAM_K)} AS sh FROM nd)
SELECT a.doc_id AS a, b.doc_id AS b,
       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.05
"""


@query("ngram_jaccard_pairs", _NGRAM_ORACLE)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact within-block n-gram Jaccard via an INVERTED-INDEX
    join-aggregate, not a block-quadratic self-join: explode distinct
    shingles, equi-join postings on (lang, source, gram), and COUNT
    shared grams per pair — |A∩B| computed by the aggregate, |A∪B| =
    |A|+|B|-|A∩B| from precomputed set sizes. Pairs sharing zero grams
    (jaccard 0 < threshold) never materialize at all.

    Scale: work is Σ_gram df(gram)² within each (lang, source) block —
    the join key includes the gram, so hot blocks spread across
    partitions by token instead of one task per block². The r2
    formulation (all block pairs × array_intersect) shuffled both
    shingle arrays per candidate pair (~KB/row); this shuffles two ids
    and a count. For corpus-scale thresholds ≥0.5 the PPJoin prefix
    filter (prefix_filter_jaccard_pairs) prunes further; at t=0.05 the
    prefix is ~the whole set, so the plain inverted index IS the
    optimal exact plan."""
    docs = _docs(spark, sf_dir)
    sh = dedup.shingle_frame(docs, "text", "doc_id", _NGRAM_K, extra_cols=("lang", "source"))
    # both sides of the self-join read the postings; persist so the
    # corpus is shingled once, not once per side
    toks = persist(sh.select(
        "doc_id", "lang", "source", F.size("sh").alias("sz"), F.explode("sh").alias("gram")
    ))
    a, b = toks.alias("a"), toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a"),
            F.col("b.doc_id").alias("b"),
            F.col("a.sz").alias("sza"),
            F.col("b.sz").alias("szb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter").cast("double") / (F.col("sza") + F.col("szb") - F.col("inter"))
    return (
        inter.withColumn("jac", jac)
        .filter(F.col("jac") >= 0.05)
        .select("a", "b", F.round("jac", 4).alias("jaccard"))
    )


@query(
    "prefix_filter_jaccard_pairs",
    f"""
    WITH nd AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS ws FROM documents),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 2, 1) + 1),
             i -> array_to_string(list_slice(ws, i, i + 2), ' '))) AS s
      FROM nd),
    scored AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             len(list_intersect(a.s, b.s)) AS si, len(a.s) AS la, len(b.s) AS lb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    SELECT a, b, round(si::DOUBLE / (la + lb - si), 4) AS jaccard
    FROM scored WHERE round(si::DOUBLE / (la + lb - si), 4) >= 0.5
    """,
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus-wide Jaccard >= 0.5 pairs via prefix filtering
    (dedup.prefix_filter_jaccard_pairs): rare-token prefixes make the
    candidate equi-join lossless AND near-quadratic-free — the auditable
    alternative to probabilistic LSH. Oracle = brute-force all pairs, so
    the gate itself proves the filter loses nothing."""
    return dedup.prefix_filter_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


# --------------------------------------------------------------------------
# Similarity search (beyond-reference)
# --------------------------------------------------------------------------

_ANN_K = 5
_ANN_NQUERY = 5
_ANN_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < {_ANN_NQUERY}),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
s AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cos
  FROM q, c WHERE query_id <> neighbor_id)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
  FROM s) WHERE rank <= {_ANN_K}
"""


@query("ann_cosine_topk", _ANN_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the ANN exactness baseline): query side
    broadcast, corpus never shuffled, dot products via zip_with/aggregate
    higher-order functions (JVM, no UDF)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _ANN_NQUERY)
    return similarity.brute_force_topk(emb, q, k=_ANN_K)


@query(
    "streaming_hourly_rollup",
    """
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming windowed aggregation driven to completion
    (availableNow trigger, complete mode, memory sink). On bounded input
    the watermarked tumbling-window result must equal the batch rollup —
    which is exactly what the oracle asserts."""
    from meteor_spark.streaming.pipeline import run_stream_to_batch, stream_events, windowed_rollup

    events = stream_events(spark, sf_dir)
    return run_stream_to_batch(windowed_rollup(events))


@query(
    "streaming_click_attribution",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           round(p.value, 2) AS purchase_value
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval self-join driven to completion (watermarked
    symmetric hash join, append mode): purchases attributed to same-user
    clicks in the trailing hour. Bounded state via watermark + interval
    bound; on bounded input equals the batch interval join — the oracle."""
    from meteor_spark.streaming.pipeline import (
        run_stream_to_batch,
        stream_events,
        stream_stream_attribution,
    )

    events = stream_events(spark, sf_dir)
    return run_stream_to_batch(stream_stream_attribution(events), output_mode="append")


@query(
    "streaming_click_attribution_salted",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
           round(p.value, 2) AS purchase_value
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def streaming_click_attribution_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe streaming attribution twin
    (streaming.pipeline.stream_stream_attribution_salted): identical
    rows to streaming_click_attribution — the oracle is the SAME batch
    interval-join SQL — with the symmetric-hash-join state salted over
    (user, salt) shards so a Zipf-hot user's click state parallelizes
    across `salt` tasks instead of one (the 555s-vs-3.1s pathology on
    the 10x Zipf fixture, docs/SCALING.md SKEW). The equality contract
    is the point: a deployment can flip to the salted plan at the scale
    where one key's state exceeds its task budget, oracle-checked to
    change nothing but the physical layout."""
    from meteor_spark.streaming.pipeline import (
        run_stream_to_batch,
        stream_events,
        stream_stream_attribution_salted,
    )

    events = stream_events(spark, sf_dir)
    return run_stream_to_batch(
        stream_stream_attribution_salted(events), output_mode="append"
    )


@query(
    "multimodal_features",
    """
    SELECT doc_id,
           octet_length(encode(text))                          AS n_bytes,
           md5(text)                                           AS content_md5,
           ('0x' || substr(md5(text), 1, 2))::INTEGER          AS width,
           ('0x' || substr(md5(text), 3, 2))::INTEGER          AS height
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: attach utf-8 blobs + typed metadata, then
    Arrow-batched mapInPandas feature extraction (stubbed decode — see
    operators.multimodal). The oracle checks byte counts, digests, and
    the deterministic fake dimensions, i.e. the full plumbing."""
    from meteor_spark.operators.multimodal import attach_binary, extract_features

    # NOT _docs: mapInPandas pays a Python-worker spin-up per partition,
    # which dwarfs the (cheap) per-row work here; one scan partition wins
    # locally, and at real scale the input arrives pre-partitioned anyway
    docs = _t(spark, sf_dir, "documents")
    return extract_features(attach_binary(docs))


# The SRP hyperplanes are md5-derived (similarity._hyperplane_component:
# int(md5(f"{b}:{j}")[:8], 16) / 0x7FFFFFFF - 1), so the oracle rebuilds
# the IDENTICAL planes, signatures, bucket joins, and ranks in SQL —
# "approximate" ANN, but deterministic given the hash family, hence
# exactly checkable. Only the per-plane dot's summation order differs
# between engines; a sign flip would need |dot| ~ 1e-12 (never on real
# vectors).
_SRP_BITS = 4
_SRP_ORACLE = f"""
WITH planes AS (
  SELECT b.range::INT AS b, j.range::INT AS j,
         ('0x' || substr(md5(b.range || ':' || j.range), 1, 8))::BIGINT / 2147483647.0 - 1.0 AS h
  FROM range({_SRP_BITS}) b, range(64) j),
comps AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings),
dots AS (
  SELECT c.vec_id, p.b, sum(c.x * p.h) AS d
  FROM comps c JOIN planes p USING (j) GROUP BY 1, 2),
sigs AS (
  SELECT vec_id, sum(CASE WHEN d > 0 THEN 1 << b ELSE 0 END) AS sig FROM dots GROUP BY 1),
q AS (SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv, s.sig
      FROM embeddings e JOIN sigs s ON e.vec_id = s.vec_id WHERE e.vec_id < {_ANN_NQUERY}),
c AS (SELECT e.vec_id AS neighbor_id, CAST(e.embedding AS DOUBLE[]) AS cv, s.sig
      FROM embeddings e JOIN sigs s ON e.vec_id = s.vec_id),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS cos
  FROM q JOIN c USING (sig) WHERE query_id <> neighbor_id)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored) WHERE rank <= {_ANN_K}
"""


@query("srp_ann_topk", _SRP_ORACLE)
def srp_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH ANN (the scale path): signature bucket join + exact
    re-rank. The md5-derived hyperplane family makes the whole pipeline
    deterministic, so the oracle reproduces signatures, buckets, and
    ranks exactly — an ANN gate with full value equality, not rows-only."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _ANN_NQUERY)
    return similarity.srp_topk(emb, q, dim=64, k=_ANN_K, bits=_SRP_BITS)


# IVF with a hash-pivot quantizer is deterministic end-to-end (pivots =
# n_cells smallest md5(vec_id); assignment = argmax cosine; probes =
# top-n_probe pivots per query), so the oracle rebuilds cells,
# assignments, probes, and ranks exactly — the same upgrade srp_ann_topk
# got in r3. Assignment tie-break is first-in-hash-order (ord), probe
# tie-break is cell id — matching the Spark fold/window semantics; both
# only matter on exact float ties.
_IVF_CELLS = 8
_IVF_PROBE = 3
_IVF_ORACLE = f"""
WITH pv AS (
  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS pv,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS ord
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_IVF_CELLS}),
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
acell AS (
  SELECT vec_id, cell FROM (
    SELECT b.vec_id, p.cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             list_dot_product(b.v, p.pv) /
             (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(p.pv, p.pv))) DESC,
             p.ord) AS rn
    FROM base b, pv p) WHERE rn = 1),
probes AS (
  SELECT query_id, cell FROM (
    SELECT b.vec_id AS query_id, p.cell,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY
             list_dot_product(b.v, p.pv) /
             (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(p.pv, p.pv))) DESC,
             p.cell) AS p_rank
    FROM base b, pv p WHERE b.vec_id < {_ANN_NQUERY}) WHERE p_rank <= {_IVF_PROBE}),
scored AS (
  SELECT pr.query_id, a.vec_id AS neighbor_id,
         round(list_dot_product(q.v, c.v) /
               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS cos
  FROM probes pr
  JOIN acell a ON a.cell = pr.cell
  JOIN base q ON q.vec_id = pr.query_id
  JOIN base c ON c.vec_id = a.vec_id
  WHERE a.vec_id <> pr.query_id)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored) WHERE rank <= {_ANN_K}
"""


@query("ivf_ann_topk", _IVF_ORACLE)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN, exactly gated: hash-pivot coarse quantizer (n_cells
    smallest-md5 corpus vectors), shuffle-free argmax-cosine cell
    assignment, multi-probe, exact re-rank
    (similarity.ivf_pivot_topk). Deterministic end-to-end, so the
    oracle rebuilds the full pipeline — full value equality, not
    rows-only. The seeded-KMeans quantizer variant stays driver-smoked
    as ivf_kmeans_ann_topk (rows-only: ML init is engine-internal)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _ANN_NQUERY)
    return similarity.ivf_pivot_topk(
        emb, q, k=_ANN_K, n_cells=_IVF_CELLS, n_probe=_IVF_PROBE
    )


def _ann_contract_row(
    spark: SparkSession, res: DataFrame, exact: DataFrame, k: int,
    floor_ppm: int,
) -> DataFrame:
    """Publish a kmeans-backed ANN gate as a CHECKED CONTRACT (r10
    verdict task: no gate may say only 'rows'): one row of
    (n_queries, k, rows_per_query_ok, recall_floor_met). The neighbor
    ids themselves are quantizer-dependent (Spark ML / numpy k-means is
    not SQL-reproducible), so they stay pinned by the hash-pivot
    exact-gated twins; what the oracle can and now does value-check is
    the contract — every query returns exactly k rows and mean recall
    against the in-engine exact top-k clears the floor. Collects here
    are two agg scalars (bounded)."""
    # ONE action for the whole contract: the row census and the recall
    # hits used to be two separate actions (.first() + .count()), and
    # the second re-ran the entire ANN pipeline lineage (quantizer
    # assignment + probe/scoring + rank window — for pq_topk two chained
    # mapInPandas stages) a second time. A left join against the exact
    # ids with a hit flag folds both into one aggregate, so res and
    # exact are each computed exactly once per gate invocation.
    got = res.select("query_id", "neighbor_id")
    per_q = (
        got.join(
            exact.select("query_id", "neighbor_id").withColumn("__hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("nres"), F.sum("__hit").alias("nhit"))
        .agg(
            F.count("*").alias("nq"),
            F.min("nres").alias("lo"),
            F.max("nres").alias("hi"),
            F.sum("nhit").alias("hits"),
        )
        .first()
    )
    hits = int(per_q["hits"] or 0)
    nq = int(per_q["nq"])
    recall_ppm = hits * 1_000_000 // max(nq * k, 1)
    return spark.createDataFrame(
        [(nq, k, per_q["lo"] == k and per_q["hi"] == k,
          recall_ppm >= floor_ppm)],
        "n_queries long, k long, rows_per_query_ok boolean, "
        "recall_floor_met boolean",
    )


_ANN_CONTRACT_ORACLE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST({_ANN_K} AS BIGINT) AS k,
       true AS rows_per_query_ok,
       true AS recall_floor_met
FROM embeddings WHERE vec_id < {_ANN_NQUERY}
"""


@query("ivf_kmeans_ann_topk", _ANN_CONTRACT_ORACLE)
def ivf_kmeans_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the seeded k-means coarse quantizer, multi-probe,
    exact re-rank (operators.similarity.ivf_topk). Deterministic per
    engine (seeded) but the centroid fit is not SQL-reproducible, so
    the PUBLISH is the checked contract row (_ann_contract_row): k rows
    per query and mean recall vs the exact top-k >= 0.40 (measured
    0.60-0.80 across sf0.001/sf0.01/sf0.1 with n_probe=3 of 8 cells on
    random vectors — the floor is the catastrophic-breakage detector,
    not a tuning claim). Per-value determinism and recall are pinned in
    tests/test_similarity.py; EXACT-GATED TWIN: ivf_ann_topk runs the
    same IVF pipeline with hash-pivot cells and carries the full value
    oracle — only the quantizer differs."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _ANN_NQUERY)
    res = similarity.ivf_topk(emb, q, k=_ANN_K, n_cells=8, n_probe=3)
    exact = similarity.brute_force_topk(emb, q, k=_ANN_K)
    return _ann_contract_row(spark, res, exact, _ANN_K, 400_000)


# 8 SRP bits for the near-dup BLOCKING (vs _SRP_BITS=4 for the topk
# gates, whose oracles are independent): 4 bits = 16 buckets makes the
# bucket self-join quadratic past ~100k vectors — measured at 100x as a
# ~2.5e9-candidate single-hot-bucket stage (r11). 256 buckets keep the
# join output candidate-linear; identical vectors (the planted copies
# and the clone families — the pairs the gate exists for) share every
# bit at any width, so the planted-recall contract is unchanged, and
# the oracle rebuilds the same 8-bit family so parity stays exact.
_ENDUP_BITS = 8

_ENDUP_ORACLE = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 20)),
planes AS (
  SELECT b.range::INT AS b, j.range::INT AS j,
         ('0x' || substr(md5(b.range || ':' || j.range), 1, 8))::BIGINT / 2147483647.0 - 1.0 AS h
  FROM range({_ENDUP_BITS}) b, range(64) j),
comps AS (
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS j, unnest(v) AS x FROM base),
dots AS (
  SELECT c.vec_id, p.b, sum(c.x * p.h) AS d
  FROM comps c JOIN planes p USING (j) GROUP BY 1, 2),
sigs AS (
  SELECT vec_id, sum(CASE WHEN d > 0 THEN 1 << b ELSE 0 END) AS sig FROM dots GROUP BY 1),
sided AS (
  SELECT base.vec_id, base.v, sigs.sig FROM base JOIN sigs USING (vec_id))
SELECT DISTINCT l.vec_id AS a, r.vec_id AS b,
       round(list_dot_product(l.v, r.v) /
             (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 4) AS cos
FROM sided l JOIN sided r USING (sig)
WHERE l.vec_id < r.vec_id
  AND round(list_dot_product(l.v, r.v) /
            (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))), 4) >= 0.9
"""


@query("embedding_near_dup_pairs", _ENDUP_ORACLE)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP blocking + verification.

    The synthetic embeddings are random (no true near-dups at any SF),
    which made this rows-only gate vacuous (0 rows = nothing checked).
    Plant determinism instead: union the corpus with exact copies of its
    20 lowest-id vectors under shifted ids — every planted (v, copy)
    pair has cosine 1.0 and an identical SRP signature, so the operator
    MUST surface at least those 20 pairs or the gate shows the recall
    break. EXACT oracle since r3b: the md5 hyperplane family rebuilds
    signatures/buckets/cosines in SQL (the srp_ann_topk construction),
    so blocking, verification, and the planted recall are all
    value-checked, not just row-counted."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = (
        emb.orderBy("vec_id")
        .limit(20)
        .select((F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"), "embedding", "label")
    )
    return similarity.embedding_near_duplicates(
        emb.unionByName(planted), threshold=0.9, bits=_ENDUP_BITS, dim=64
    )


_SEMDEDUP_K = 8
_SEMDEDUP_TAU = 0.35
_SEMDEDUP_PLANT = 20

# shared CTE prefix: planted base -> deterministic seeds -> nearest-seed
# assignment -> within-cluster cosine pairs (the SQL twin of
# similarity.semantic_assign + semantic_dedup_pairs)
_SEMDEDUP_CTE = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000, CAST(embedding AS DOUBLE[]) FROM embeddings
  WHERE vec_id < {_SEMDEDUP_PLANT}
),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS sv
  FROM base ORDER BY vec_id LIMIT {_SEMDEDUP_K}),
assign AS (
  SELECT vec_id, v, cluster FROM (
    SELECT b.vec_id, b.v, s.cluster,
           row_number() OVER (PARTITION BY b.vec_id
             ORDER BY list_dot_product(b.v, s.sv) /
                      (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(s.sv, s.sv))) DESC,
                      s.cluster) AS rn
    FROM base b CROSS JOIN seeds s) WHERE rn = 1),
pairs AS (
  SELECT l.cluster, l.vec_id AS a, r.vec_id AS b,
         round(list_dot_product(l.v, r.v) /
               (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))),
               4) AS cos
  FROM assign l JOIN assign r ON l.cluster = r.cluster AND l.vec_id < r.vec_id)
"""


def _semdedup_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted base (exact copies of the 20 lowest-id vectors under
    shifted ids, so the gate can never be vacuously green on the random
    fixture embeddings) -> seeded cluster assignment, the input of the
    pairs and survivors gates."""
    emb = _t(spark, sf_dir, "embeddings")
    planted = (
        emb.orderBy("vec_id")
        .limit(_SEMDEDUP_PLANT)
        .select((F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"), "embedding", "label")
    )
    return persist(similarity.semantic_assign(emb.unionByName(planted), n_clusters=_SEMDEDUP_K))


@query(
    "semantic_dedup_pairs",
    _SEMDEDUP_CTE
    + f"SELECT cluster, a, b, cos FROM pairs WHERE cos >= {_SEMDEDUP_TAU}",
)
def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic near-dup pairs: nearest-seed
    coarse clustering (zero-iteration quantizer — deterministic, so the
    oracle reproduces it exactly) + within-cluster cosine >= tau. The
    candidate join is an equi-join on cluster id: cost scales with
    sum(cluster_size^2), never corpus^2. Exact given the seeds, unlike
    probabilistic LSH blocking — every within-cluster pair is scored."""
    return similarity.semantic_dedup_pairs(
        _semdedup_assigned(spark, sf_dir), threshold=_SEMDEDUP_TAU
    )


@query(
    "semantic_dedup_survivors",
    _SEMDEDUP_CTE
    + f"""
    SELECT a.vec_id, a.cluster FROM assign a
    WHERE NOT EXISTS (
      SELECT 1 FROM pairs p WHERE p.b = a.vec_id AND p.cos >= {_SEMDEDUP_TAU})
    """,
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-set: drop the higher id of every semantic match
    (min-id representative — a deterministic, SQL-expressible survivor
    rule). All 20 planted copies MUST be dropped (cos 1.0 with their
    originals) or the gate fails. Since round 10 this runs the
    PAIR-FREE formulation (similarity.semantic_dedup_survivors_scalable:
    per-cluster blocked-GEMM prefix-max with a two-zone exact recheck —
    bit-equal to the pair-join anti-join, pinned at sf0.001/sf0.01 in
    tests/test_similarity.py), so the gate certifies the plan that
    survives a 100× scale-up where the pair join is quadratic. The
    oracle is unchanged: the canonical within-cluster pair SQL."""
    assigned = _semdedup_assigned(spark, sf_dir)
    return similarity.semantic_dedup_survivors_scalable(
        assigned, threshold=_SEMDEDUP_TAU
    ).select("vec_id", "cluster")


# --------------------------------------------------------------------------
# Sampling, histograms, semi/anti joins, range join (beyond-reference)
# --------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 0.3, "es": 0.5, "zh": 1.0}
_SAMPLE_DEFAULT = 0.2
_SAMPLE_CASE = (
    "CASE "
    + " ".join(
        f"WHEN lang = '{s}' THEN {sampling.bucket_threshold(r)}" for s, r in _SAMPLE_RATES.items()
    )
    + f" ELSE {sampling.bucket_threshold(_SAMPLE_DEFAULT)} END"
)


@query(
    "stratified_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < {_SAMPLE_CASE}
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (operators.sampling): md5-bucket
    Bernoulli per language — reproducible row SET, not just row count,
    hence exactly oracle-checkable (df.sample is not)."""
    from meteor_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.stratified_sample(docs, "doc_id", "lang", _SAMPLE_RATES, _SAMPLE_DEFAULT).select(
        "doc_id", "lang"
    )


_HIST_BINS = 20


@query(
    "lineitem_price_histogram",
    f"""
    WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem),
    binned AS (
      SELECT least(CAST(floor((l_extendedprice - lo) / ((hi - lo) / {_HIST_BINS})) AS INTEGER),
                   {_HIST_BINS - 1}) AS bin,
             lo, (hi - lo) / {_HIST_BINS} AS w
      FROM lineitem, b)
    SELECT bin, round(lo + bin * w, 4) AS bin_lo, round(lo + (bin + 1) * w, 4) AS bin_hi,
           count(*) AS n
    FROM binned GROUP BY bin, lo, w
    """,
)
def lineitem_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram over l_extendedprice (operators.profile
    .histogram): bounds agg broadcast back over the scan, then one
    map-side-combined groupBy on the bin id."""
    from meteor_spark.operators.profile import histogram

    li = _t(spark, sf_dir, "lineitem")
    return histogram(li, "l_extendedprice", bins=_HIST_BINS)


@query(
    "orders_with_returns",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS total FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    """,
)
def orders_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): orders having at least one returned
    lineitem. The filter reaches the lineitem scan (PushedFilters);
    the semi join shuffles only the key column."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


@query(
    "customers_without_orders",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): lapsed customers — no order since
    2000-01-01 (the TPC-H q22 shape). The date filter pushes to the
    orders scan; the anti join shuffles only o_custkey."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_mktsegment")


@query(
    "purchase_click_attribution",
    """
    SELECT p.event_id AS purchase_id,
           count(*) AS n_clicks,
           round(sum(c.value), 2) AS click_value
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
    GROUP BY 1
    """,
)
def purchase_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join (operators.rangejoin): clicks in the hour before
    each purchase by the same user. Bucketed formulation — equi-join on
    (user_id, time bucket) + exact microsecond range filter — instead of
    the quadratic pure-range join."""
    from meteor_spark.operators.rangejoin import time_range_join

    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts"), "user_id"
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("c_ts"), "user_id", F.col("value").alias("c_value")
    )
    joined = time_range_join(p, c, "p_ts", "c_ts", -3600, 0, keys=["user_id"])
    return joined.groupBy("purchase_id").agg(
        F.count("*").alias("n_clicks"), F.round(F.sum("c_value"), 2).alias("click_value")
    )


# --------------------------------------------------------------------------
# Text hygiene & corpus statistics (beyond-reference)
# --------------------------------------------------------------------------

# fixtures contain no PII-shaped strings, so both engines inject an
# identical deterministic contact line keyed on doc_id, then scrub it —
# exercising every pattern with an exact oracle
_PII_INJECT_SPARK = (
    "concat(text, ' contact user', doc_id, '@example.com or https://ex.com/d/', doc_id, "
    "' ip 10.0.', doc_id % 256, '.7 tel +1 555-010', doc_id % 10, ' end')"
)
_PII_INJECT_SQL = (
    "text || ' contact user' || doc_id || '@example.com or https://ex.com/d/' || doc_id"
    " || ' ip 10.0.' || (doc_id % 256) || '.7 tel +1 555-010' || (doc_id % 10) || ' end'"
)
_PII_SCRUB_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace({src}, "
    "'https?://[^\\s]+', '<URL>', 'g'), "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'), "
    "'\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g'), "
    "'\\+?\\d[\\d\\- ]{{7,}}\\d', '<PHONE>', 'g')"
)


@query(
    "scrub_documents",
    f"""
    SELECT doc_id,
           md5({_PII_SCRUB_SQL.format(src=_PII_INJECT_SQL)}) AS scrubbed_md5,
           len(regexp_extract_all({_PII_INJECT_SQL}, 'https?://[^\\s]+')) AS n_urls,
           len(regexp_extract_all({_PII_INJECT_SQL},
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_emails
    FROM documents
    """,
)
def scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators.text.scrub_pii): chained RE2-portable
    regexp_replace masking URLs/emails/IPs/phones, verified by digest;
    occurrence counts via regexp_extract_all. Whole row is one codegen
    stage above the scan."""
    docs = _docs(spark, sf_dir)
    injected = F.expr(_PII_INJECT_SPARK)
    return docs.select(
        "doc_id",
        F.md5(text.scrub_pii(injected)).alias("scrubbed_md5"),
        F.size(F.regexp_extract_all(injected, F.lit(r"https?://[^\s]+"), 0)).alias("n_urls"),
        F.size(
            F.regexp_extract_all(injected, F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), 0)
        ).alias("n_emails"),
    )


_TOPGRAM_K = 50


@query(
    "corpus_top_bigrams",
    f"""
    WITH nd AS (
      SELECT regexp_split_to_array({_NORM_SQL}, ' ') AS nws FROM documents),
    g AS (
      SELECT unnest(list_transform(range(1, greatest(len(nws) - 1, 1) + 1),
                    i -> array_to_string(list_slice(nws, i, i + 1), ' '))) AS gram
      FROM nd)
    SELECT gram, count(*) AS n FROM g GROUP BY gram
    ORDER BY n DESC, gram LIMIT {_TOPGRAM_K}
    """,
)
def corpus_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level language-model statistics: top-50 bigrams with
    multiplicity (operators.text.corpus_top_ngrams)."""
    docs = _docs(spark, sf_dir)
    return text.corpus_top_ngrams(docs, n=2, k=_TOPGRAM_K)


@query(
    "benchmark_contamination",
    f"""
    WITH nd AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS ws FROM documents),
    gl AS (
      SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws) - 2, 1) + 1),
             i -> array_to_string(list_slice(ws, i, i + 2), ' '))) AS grams
      FROM nd),
    bench AS (SELECT DISTINCT unnest(grams) AS gram FROM gl WHERE doc_id % 50 = 0),
    corpus AS (
      SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
      FROM gl WHERE doc_id % 50 <> 0)
    SELECT doc_id, n_grams, count(*) AS n_hits,
           round(count(*)::DOUBLE / n_grams, 4) AS contamination
    FROM corpus JOIN bench USING (gram)
    GROUP BY doc_id, n_grams
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep: every 50th document plays the held-out
    eval set; corpus docs sharing any distinct trigram with it are flagged
    with their overlap fraction (text.contamination_hits; 3-grams so the
    synthetic fixture shows real overlap — production would use 8-13).
    Benchmark grams broadcast; clean grams die before the only shuffle."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return text.contamination_hits(corpus, bench, n=3)


@query(
    "top_docs_per_lang",
    """
    SELECT lang, doc_id, n_tokens, rnk FROM (
      SELECT lang, doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY len(regexp_split_to_array(trim(text), '\\s+')) DESC, doc_id
             ) AS INTEGER) AS rnk
      FROM documents)
    WHERE rnk <= 5
    """,
)
def top_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (longest docs per language): rank window with a
    deterministic (metric, id) order. Spark's WindowGroupLimit pushes the
    k-filter below the shuffle, so each partition ships at most k rows
    per group."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_tokens").desc(), "doc_id")
    return (
        docs.select("lang", "doc_id", text.token_count(F.col("text")).alias("n_tokens"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
    )


# --------------------------------------------------------------------------
# Exact quantiles, embedding statistics, correlated subquery
# --------------------------------------------------------------------------


@query(
    "event_value_drift_psi",
    """
    WITH e AS (
      SELECT event_type, value, (ts >= TIMESTAMP '2024-01-16') AS act FROM events),
    bounds AS (
      SELECT event_type, min(value) AS lo, max(value) AS hi FROM e GROUP BY event_type),
    binned AS (
      SELECT e.event_type,
             CASE WHEN hi = lo THEN 0
                  ELSE least(CAST(floor((value - lo) / ((hi - lo) / 10)) AS INTEGER), 9) END AS bin,
             act
      FROM e JOIN bounds USING (event_type)),
    counts AS (
      SELECT event_type, bin,
             sum(CASE WHEN NOT act THEN 1 ELSE 0 END) AS cnt_e,
             sum(CASE WHEN act THEN 1 ELSE 0 END) AS cnt_a
      FROM binned GROUP BY event_type, bin),
    p AS (
      SELECT event_type, cnt_e, cnt_a,
             greatest(cnt_e / sum(cnt_e) OVER (PARTITION BY event_type), 1e-6) AS pe,
             greatest(cnt_a / sum(cnt_a) OVER (PARTITION BY event_type), 1e-6) AS pa
      FROM counts)
    SELECT event_type, CAST(sum(cnt_e) AS BIGINT) AS n_expected,
           CAST(sum(cnt_a) AS BIGINT) AS n_actual,
           round(sum(CAST(round((pa - pe) * ln(pa / pe) * 1e8) AS BIGINT)) / 1e8, 4) AS psi
    FROM p GROUP BY event_type
    """,
)
def event_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event_type between the first and
    second half of the month (operators.drift.psi_drift): did the value
    distribution shift? One map-side-combined groupBy over the facts;
    shuffle = bins x types rows."""
    e = _t(spark, sf_dir, "events")
    return drift.psi_drift(
        e, "value", "event_type", F.col("ts") >= F.lit("2024-01-16").cast("timestamp"), bins=10
    )


@query(
    "events_distinct_sketch_rollup",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           CAST(count(*) AS BIGINT) AS n_rows,
           true AS estimate_within_tol
    FROM events GROUP BY event_type
    """,
)
def events_distinct_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (operators.sketches): per-day HLL user
    sketches merged up to per-type distinct counts WITHOUT rescanning
    raw data — union-of-daily equals sketch-of-whole exactly (registers
    merge by max). The re-aggregatable form of the reference's
    APPROX_COUNT_DISTINCT (bigquery.go:392); accuracy and merge
    invariance pinned in tests/test_sketches.py. EXACT-GATED TWIN:
    events_portable_hll_rollup computes the same rollup with a
    pure-SQL md5-register HLL whose DuckDB oracle is bit-exact; this
    Datasketches register state stays engine-internal, so since r11 the
    PUBLISH is the checked contract (r10 verdict task: no gate may say
    only 'rows'): per event_type, the EXACT distinct count and row
    count (both value-hashed against the oracle) plus
    estimate_within_tol — the merged-sketch estimate within 5% of exact
    (lg_k=12 -> rsd ~1.6%, so 5% is ~3 sigma). Register-level
    cross-twin equality cannot hold — the two sketches use different
    hash families (xxhash64 vs md5) by design — but
    test_datasketches_register_state_vs_md5_twin pins what can: the
    serialized preamble (serVer/family/lgK) and byte-identical
    merge-determinism across partitionings; test_sketches.py pins
    merge invariance and accuracy."""
    from meteor_spark.operators import sketches

    e = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = sketches.distinct_sketches(e, ["event_type", "day"], "user_id")
    est = sketches.merge_distinct(daily, ["event_type"])
    exact = e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct"),
        F.count("*").alias("n_rows"),
    )
    return exact.join(
        est.select("event_type", "approx_distinct"), "event_type"
    ).select(
        "event_type",
        "exact_distinct",
        "n_rows",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= F.col("exact_distinct") * F.lit(0.05)
        ).alias("estimate_within_tol"),
    )


_HLL64_LGK = 10
_HLL64_M = 1 << _HLL64_LGK
_HLL64_ALPHA_NUM = (0.7213 / (1 + 1.079 / _HLL64_M)) * _HLL64_M * _HLL64_M * float(1 << 50)
_HLL64_H1 = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT"
_HLL64_H2 = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8))::BIGINT"
_HLL64_ORACLE = f"""
WITH h AS (
  SELECT event_type, {_HLL64_H1} % {_HLL64_M} AS reg,
         CASE WHEN {_HLL64_H2} = 0 THEN 33
              ELSE 33 - len(bin({_HLL64_H2})) END AS rho
  FROM events),
regs AS (SELECT event_type, reg, max(rho) AS rho, count(*) AS nr FROM h GROUP BY 1, 2),
agg AS (
  SELECT event_type,
         sum(CAST(1 AS BIGINT) << (50 - rho))
           + ({_HLL64_M} - count(rho)) * (CAST(1 AS BIGINT) << 50) AS s,
         {_HLL64_M} - count(rho) AS v,
         CAST(sum(nr) AS BIGINT) AS n_rows
  FROM regs GROUP BY 1)
SELECT event_type,
       round(CASE WHEN {_HLL64_ALPHA_NUM!r} / s <= 2.5 * {_HLL64_M} AND v > 0
                  THEN {float(_HLL64_M)!r} * ln({float(_HLL64_M)!r} / v)
                  ELSE {_HLL64_ALPHA_NUM!r} / s END, 4) AS approx_distinct,
       n_rows
FROM agg
"""


@query("events_portable_hll_rollup", _HLL64_ORACLE)
def events_portable_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENGINE-PORTABLE twin of events_distinct_sketch_rollup
    (sketches.hll64_partials/merge_hll64): per-day md5-register HLL
    partials merged to per-type distinct estimates without rescanning
    raw data — same mergeability contract, but the registers are
    md5-derived and the harmonic sum is exact integer arithmetic, so a
    SQL oracle rebuilds the ESTIMATE bit-for-bit (the built-in
    Datasketches gate stays rows-only; this one carries the value
    check for the sketch-rollup pattern). Daily→type max-merge equals
    the direct sketch, so the oracle skips the day level."""
    from meteor_spark.operators import sketches

    e = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = sketches.hll64_partials(e, ["event_type", "day"], "user_id", lg_k=_HLL64_LGK)
    return sketches.merge_hll64(daily, ["event_type"], lg_k=_HLL64_LGK)


@query(
    "event_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4)  AS p50,
           round(quantile_cont(value, 0.9), 4)  AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the exact twin of the
    reference's APPROX_QUANTILES profile, bigquery.go:386-411). Spark's
    `percentile` and DuckDB's `quantile_cont` share the interpolation
    definition, so values match to rounding. At 100 TB the approx path
    (percentile_approx) is the default; this is the audit-grade variant."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.count("*").alias("n"),
    )


@query(
    "embedding_label_stats",
    """
    WITH v AS (
      SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    norms AS (
      SELECT label, vec_id, sqrt(list_dot_product(e, e)) AS nrm FROM v),
    comps AS (
      SELECT label, i AS pos, e[i + 1] AS x
      FROM v CROSS JOIN (SELECT unnest(range(64)) AS i)),
    centroid AS (
      SELECT label, pos, avg(x) AS cx FROM comps GROUP BY label, pos),
    cnorm AS (
      SELECT label, round(sqrt(sum(cx * cx)), 4) AS centroid_norm FROM centroid GROUP BY label)
    SELECT n.label, count(*) AS n_vecs, round(avg(n.nrm), 4) AS avg_norm, any_value(c.centroid_norm) AS centroid_norm
    FROM norms n JOIN cnorm c ON n.label = c.label
    GROUP BY n.label
    """,
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding statistics: count, mean vector norm, and the
    norm of the label centroid — the per-class geometry check before
    training. Vector norms via JVM-side aggregate() higher-order
    functions (no shuffle beyond the groupBy); the centroid is a
    posexplode + (label, pos) aggregate, i.e. the relational form of a
    columnwise mean — map-side combine keeps the shuffle at
    |labels| x dim rows."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    norms = emb.select("label", F.sqrt(F.aggregate(F.transform(e, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)).alias("nrm"))
    comps = emb.select("label", F.posexplode(e).alias("pos", "x"))
    centroid = comps.groupBy("label", "pos").agg(F.avg("x").alias("cx"))
    cnorm = centroid.groupBy("label").agg(F.round(F.sqrt(F.sum(F.col("cx") * F.col("cx"))), 4).alias("centroid_norm"))
    return (
        norms.groupBy("label")
        .agg(F.count("*").alias("n_vecs"), F.round(F.avg("nrm"), 4).alias("avg_norm"))
        .join(cnorm, "label")
        .select("label", "n_vecs", "avg_norm", "centroid_norm")
    )


@query(
    "small_quantity_part_revenue",
    """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cut
          FROM lineitem GROUP BY l_partkey) t ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < t.qty_cut
    """,
)
def small_quantity_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery): revenue from
    below-average-quantity orders of one brand. Decorrelated into a
    per-part aggregate joined back — which is exactly what Catalyst's
    RewriteCorrelatedScalarSubquery does; the brand dim is broadcast and
    the per-part cut is computed once, not per probe row."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    cuts = li.groupBy("l_partkey").agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(cuts, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Incremental dedup, document chunking, stream-static join
# --------------------------------------------------------------------------

# fixtures have no exact duplicates, so the "new batch" is synthesized
# identically in both engines: docs >= 400 are genuinely new, docs < 50
# are re-crawled under shifted ids and must be dropped against the corpus
_INCR_NEW_SQL = """
  SELECT doc_id, text FROM documents WHERE doc_id >= 400
  UNION ALL
  SELECT doc_id + 1000 AS doc_id, text FROM documents WHERE doc_id < 50
"""


@query(
    "incremental_dedup",
    f"""
    WITH newb AS ({_INCR_NEW_SQL}),
    nf AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM newb),
    cf AS (SELECT DISTINCT md5({_NORM_SQL}) AS fp FROM documents WHERE doc_id < 400),
    fresh AS (SELECT nf.doc_id, nf.fp FROM nf WHERE NOT EXISTS
              (SELECT 1 FROM cf WHERE cf.fp = nf.fp)),
    surv AS (SELECT fp, min(doc_id) AS doc_id FROM fresh GROUP BY fp)
    SELECT f.doc_id FROM fresh f JOIN surv s ON s.fp = f.fp AND s.doc_id = f.doc_id
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest exact dedup (operators.dedup.dedup_incremental):
    a new crawl batch is anti-joined on content fingerprints against the
    existing corpus (corpus side reduced to its distinct fingerprint
    set), then internally deduped to min-id survivors. Here the 50
    re-crawled docs are dropped, the 100 new ones survive."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 400)
    newb = docs.filter(F.col("doc_id") >= 400).union(
        docs.filter(F.col("doc_id") < 50).select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    )
    return dedup.dedup_incremental(newb, corpus).select("doc_id")


_CHUNK_SIZE = 32
_CHUNK_OVERLAP = 8


@query(
    "document_chunks",
    f"""
    WITH nd AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS nws FROM documents),
    c AS (
      SELECT doc_id, s AS chunk_start,
             len(list_slice(nws, s, s + {_CHUNK_SIZE - 1})) AS n_tokens,
             md5(array_to_string(list_slice(nws, s, s + {_CHUNK_SIZE - 1}), ' ')) AS chunk_md5
      FROM nd, unnest(range(1, greatest(len(nws) - {_CHUNK_OVERLAP}, 1) + 1,
                            {_CHUNK_SIZE - _CHUNK_OVERLAP})) AS t(s))
    SELECT doc_id, chunk_start, n_tokens, chunk_md5 FROM c
    """,
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators.text.chunk_documents)
    — context-window preprocessing for training. Array-side per row, no
    shuffle; chunk text verified by digest."""
    docs = _docs(spark, sf_dir)
    chunks = text.chunk_documents(docs, chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP)
    return chunks.select("doc_id", "chunk_start", "n_tokens", F.md5(F.col("chunk")).alias("chunk_md5"))


@query(
    "streaming_segment_counts",
    """
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def streaming_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join driven to completion: the events STREAM is
    enriched against the static customer dim (broadcast per microbatch,
    no state store), then aggregated per market segment. On bounded
    input this must equal the batch join+group — the oracle asserts
    exactly that."""
    from meteor_spark.streaming.pipeline import run_stream_to_batch, stream_events, stream_static_enrich

    ev = stream_events(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    enriched = stream_static_enrich(ev, dim, ["user_id"])
    agg = enriched.groupBy("segment").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    return run_stream_to_batch(agg)


@query(
    "doc_repetition_quality",
    f"""
    WITH nd AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS nws FROM documents),
    g AS (
      SELECT doc_id, nws,
             list_transform(range(1, greatest(len(nws) - 1, 1) + 1),
                            i -> array_to_string(list_slice(nws, i, i + 1), ' ')) AS grams
      FROM nd)
    SELECT doc_id,
           round(CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
                 / greatest(len(grams), 1), 4) AS dup_bigram_frac,
           round(CAST((SELECT max(cnt) FROM (
                    SELECT count(*) AS cnt FROM unnest(grams) AS t(x) GROUP BY x)) AS DOUBLE)
                 / greatest(len(grams), 1), 4) AS top_bigram_frac,
           round(CAST(len(list_distinct(nws)) AS DOUBLE) / greatest(len(nws), 1), 4)
                 AS distinct_token_ratio
    FROM g
    """,
)
def doc_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style repetition filters: duplicate-bigram
    fraction, most-repeated-bigram fraction, distinct-token ratio
    (operators.text.repetition_features) — the standard looping/template
    detector ahead of training. Shuffle-free, one projection per doc."""
    docs = _docs(spark, sf_dir)
    return text.repetition_features(docs)


@query(
    "events_session_windows",
    """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id,
           CAST(min(ts) AS VARCHAR) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS VARCHAR) AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS session_value
    FROM s GROUP BY user_id, sid
    """,
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window aggregation (30-min inactivity gap)
    — the operator form of sessionization, vs the lag-gap-island SQL the
    oracle runs. Both must produce identical session boundaries:
    session_end = last event + gap. One shuffle on user_id; state is
    merged sessions, not raw events."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            F.col("w.end").cast("string").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


_SIMDOC_K = 3


@query(
    "doc_similarity_topk",
    f"""
    WITH {_MINHASH_CTES},
    sym AS (
      SELECT a AS d, b AS o, jaccard FROM verified
      UNION ALL
      SELECT b AS d, a AS o, jaccard FROM verified),
    ranked AS (
      SELECT d AS doc_id, o AS similar_doc, jaccard,
             CAST(row_number() OVER (PARTITION BY d ORDER BY jaccard DESC, o)
                  AS INTEGER) AS rnk
      FROM sym)
    SELECT doc_id, similar_doc, jaccard, rnk FROM ranked WHERE rnk <= {_SIMDOC_K}
    """,
)
def doc_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document retrieval: top-k most-similar docs per document — LSH
    candidate generation + exact Jaccard scoring + per-doc rank window
    (deterministic ties on (jaccard desc, id)). The candidate set, not
    the corpus cross-product, bounds the work: this is minhash LSH used
    as a similarity INDEX rather than a dedup filter."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_near_duplicates(
        docs, k=_MINHASH_K, num_hashes=_MINHASH_HASHES, bands=_MINHASH_BANDS, threshold=0.0
    )
    # both orientations via ONE explode, not union(pairs, flip(pairs)):
    # a union would execute the whole candidate+verify DAG twice (the
    # persisted hash state caps the damage, but the band self-join and
    # the array_intersect verification both re-run per branch)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("doc_id"), F.col("b").alias("similar_doc"), F.col("jaccard")),
                F.struct(F.col("b").alias("doc_id"), F.col("a").alias("similar_doc"), F.col("jaccard")),
            )
        ).alias("e")
    ).select("e.doc_id", "e.similar_doc", "e.jaccard")
    w = Window.partitionBy("doc_id").orderBy(F.col("jaccard").desc(), "similar_doc")
    return sym.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= _SIMDOC_K)


_SIMHASH_HAM_T = 1


@query(
    "simhash_hamming_pairs",
    f"""
    WITH sh0 AS ({_SIMHASH_ORACLE.strip()}),
    sh AS (SELECT * FROM sh0
           WHERE bit_count(simhash) > 0 AND bit_count(simhash) < 32)
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_HAM_T}
    """,
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: hamming distance over the 32-bit sketches
    (bit_count(xor)) <= {t}, computed with EXACT pigeonhole blocking
    (dedup.simhash_hamming_pairs): t+1 disjoint sketch chunks, bucket
    equi-join per chunk over DISTINCT sketches, hamming verification of
    candidates only — never the O(n^2) cross join the oracle spells out.
    Saturated no-signal sketches (popcount 0 or 32 — empty/single-token
    docs whose pairs would re-quadratify the output) are dropped by
    default; the oracle applies the same filter."""
    docs = _docs(spark, sf_dir)
    sh = dedup.simhash(docs)
    return dedup.simhash_hamming_pairs(sh, threshold=_SIMHASH_HAM_T)


@query(
    "customer_balance_quartiles",
    """
    WITH q AS (
      SELECT c_mktsegment,
             c_acctbal,
             CAST(ntile(4) OVER (PARTITION BY c_mktsegment
                                 ORDER BY c_acctbal, c_custkey) AS INTEGER) AS quartile
      FROM customer)
    SELECT c_mktsegment, quartile,
           count(*) AS n,
           round(min(c_acctbal), 2) AS lo,
           round(max(c_acctbal), 2) AS hi
    FROM q GROUP BY c_mktsegment, quartile
    """,
)
def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE window: per-segment account-balance quartiles with bucket
    stats (deterministic ties on the key). The window sorts within each
    segment partition only — no global sort."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select("c_mktsegment", "c_acctbal", F.ntile(4).over(w).alias("quartile"))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
        )
    )


@query(
    "order_priority_late_ships",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def order_priority_late_ships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join, then a
    tiny aggregate. The date filter pushes into the orders scan; the
    semi join ships only (orderkey, orderdate) and lineitem's two join
    columns through the shuffle — at 100 TB the semi join's build side
    is the pruned lineitem projection, never the full fact table."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@query(
    "orders_priority_status_pivot",
    """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_fulfilled,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial,
           round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2)
               AS fulfilled_revenue
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def orders_priority_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot / conditional aggregation: one pass over the fact table,
    status domain pinned in the pivot call so Spark skips the extra
    distinct-values job (an unbounded pivot would need a full scan
    first — never do that at 100 TB). Missing cells coalesce to 0 to
    match SQL FILTER semantics."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
        )
    )
    return p.select(
        "o_orderpriority",
        F.coalesce("O_n", F.lit(0)).alias("n_open"),
        F.coalesce("F_n", F.lit(0)).alias("n_fulfilled"),
        F.coalesce("P_n", F.lit(0)).alias("n_partial"),
        F.col("F_rev").alias("fulfilled_revenue"),
    )


@query(
    "multimodal_resize_dims",
    """
    WITH d AS (
      SELECT doc_id,
             ('0x' || substr(md5(text), 1, 2))::INTEGER AS width,
             ('0x' || substr(md5(text), 3, 2))::INTEGER AS height
      FROM documents)
    SELECT doc_id, width, height,
           greatest(1, CAST(floor(width  * least(1.0, 64.0 / greatest(width, height, 1)))
                      AS INTEGER)) AS new_width,
           greatest(1, CAST(floor(height * least(1.0, 64.0 / greatest(width, height, 1)))
                      AS INTEGER)) AS new_height
    FROM d
    """,
)
def multimodal_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize stage (operators.multimodal.resize_images): decode ->
    scale-to-fit-64 -> re-encode as an Arrow mapInPandas map stage, pixel
    transform stubbed, dimension arithmetic real. The oracle repeats the
    deterministic fake decode + the exact floor/clamp arithmetic."""
    from meteor_spark.operators.multimodal import attach_binary, resize_images

    docs = _t(spark, sf_dir, "documents")
    return resize_images(attach_binary(docs), max_dim=64).select(
        "doc_id", "width", "height", "new_width", "new_height"
    )


@query(
    "video_frame_sample",
    """
    WITH b AS (
      SELECT doc_id, octet_length(encode(text)) AS total FROM documents),
    f AS (
      SELECT doc_id, total,
             unnest((range(0, CAST(ceil(total / 256.0) AS BIGINT), 4))[1:8]) AS frame_index
      FROM b)
    SELECT doc_id, frame_index,
           least(256, total - frame_index * 256) AS n_frame_bytes
    FROM f
    """,
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling stage (operators.multimodal.sample_frames): one
    blob -> up to 8 frame rows (every 4th 256-byte chunk standing in for
    a decoded frame) — the 1-to-many mapInPandas fan-out of a video
    pipeline, map-only, no shuffle. The oracle reproduces the frame
    index arithmetic and per-frame byte counts; the frame digests are
    pinned by unit test (DuckDB can't slice blobs)."""
    from meteor_spark.operators.multimodal import attach_binary, sample_frames

    docs = _t(spark, sf_dir, "documents")
    return sample_frames(attach_binary(docs), frame_bytes=256, stride=4, max_frames=8).select(
        "doc_id", "frame_index", "n_frame_bytes"
    )


@query(
    "curation_pipeline",
    # kept MUST be MATERIALIZED: DuckDB inlines plain CTEs per
    # reference, and kept (whose lineage is the ENTIRE text-analysis
    # CTE — the 250s-at-100x part) is referenced by surv, k2, and
    # through them the chunk join — >900s at 100x un-materialized,
    # minutes materialized (the pagerank/next_fit lesson again)
    f"""
    WITH t AS ({_TEXT_ORACLE}),
    kept AS MATERIALIZED (
      SELECT doc_id, quality, fingerprint FROM t
      WHERE lang_guess = 'en' AND quality >= 0.55),
    surv AS (
      SELECT fingerprint, min(doc_id) AS doc_id FROM kept GROUP BY fingerprint),
    k2 AS MATERIALIZED (
      SELECT k.doc_id, k.quality FROM kept k
      JOIN surv s ON k.fingerprint = s.fingerprint AND k.doc_id = s.doc_id),
    nd AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS nws
      FROM documents JOIN k2 USING (doc_id)),
    c AS (
      SELECT doc_id, len(list_slice(nws, s, s + {_CHUNK_SIZE - 1})) AS n_tokens
      FROM nd, unnest(range(1, greatest(len(nws) - {_CHUNK_OVERLAP}, 1) + 1,
                            {_CHUNK_SIZE - _CHUNK_OVERLAP})) AS u(s))
    SELECT c.doc_id, k2.quality,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(c.n_tokens) AS BIGINT) AS n_chunk_tokens
    FROM c JOIN k2 ON c.doc_id = k2.doc_id
    GROUP BY c.doc_id, k2.quality
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation, composed from the catalog's own
    operators in one DataFrame plan: language-ID filter (en) -> quality
    cut (>= 0.55) -> exact dedup survivors (min doc_id per content
    fingerprint) -> overlapping token-window chunking -> per-doc chunk
    accounting. Everything stays JVM-side; the only shuffles are the
    tiny survivor aggregate and the final per-doc count — filters and
    chunking are map stages that Catalyst pipelines into the scan. The
    oracle composes the text-analysis CTE with the chunk arithmetic."""
    docs = _docs(spark, sf_dir)
    ann = docs.select(
        "doc_id",
        "text",
        text.lang_id(F.col("text")).alias("lang_guess"),
        text.quality_score(F.col("text")).alias("quality"),
        text.fingerprint(F.col("text")).alias("fp"),
    )
    kept = ann.filter((F.col("lang_guess") == "en") & (F.col("quality") >= 0.55))
    surv = kept.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    kept = persist(kept.join(surv, ["fp", "doc_id"], "left_semi"))
    chunks = text.chunk_documents(kept, chunk_size=_CHUNK_SIZE, overlap=_CHUNK_OVERLAP)
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"), F.sum("n_tokens").alias("n_chunk_tokens")
    )
    return kept.select("doc_id", "quality").join(per_doc, "doc_id")


def _profile_approx_oracle(table: str, cols: list[str], numeric: set[str]) -> str:
    parts = []
    for c in cols:
        avg = f"round(avg({c}), 4)" if c in numeric else "CAST(NULL AS DOUBLE)"
        parts.append(
            f"SELECT '{c}' AS \"column\", CAST(min({c}) AS VARCHAR) AS \"min\", "
            f"CAST(max({c}) AS VARCHAR) AS \"max\", {avg} AS \"avg\", "
            f'count({c}) AS "count", true AS unique_ok, true AS med_ok '
            f"FROM {table}"
        )
    return " UNION ALL ".join(parts)


_PROFILE_LI_NUMERIC = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query(
    "profile_lineitem_approx",
    _profile_approx_oracle(
        "lineitem", _PROFILE_COLS["lineitem"], set(_PROFILE_LI_NUMERIC)
    ),
)
def profile_lineitem_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL profiling semantics (bigquery.go:386-411:
    APPROX_QUANTILES median, APPROX_COUNT_DISTINCT, APPROX_TOP_COUNT
    top-1) through the long-form approx profile, `profile_df(exact=
    False)`: one groupBy per type family over the unpivoted columns, no
    frequency table, no window. That frame is joined on column to the
    exact lineitem profile, which supplies the checks below. Sketch
    values are engine-specific, so since r11 the PUBLISH is the checked
    contract (r10 verdict task: no gate may say only 'rows'): the exact
    fields the approx plan still computes exactly (min/max/avg/count,
    value-hashed against the oracle) plus unique_ok (approx distinct
    within 15% of exact — 3 sigma of the default rsd 0.05) and med_ok
    (approx median inside the exact p45..p55 rank window —
    percentile_approx's accuracy=10000 guarantees ~1e-4 of rank, so the
    window detects breakage, not drift). EXACT-GATED TWIN:
    profile_lineitem computes the same profile with exact interpolated
    percentiles and carries the full value oracle."""
    li = _t(spark, sf_dir, "lineitem")
    cols = _PROFILE_COLS["lineitem"]
    pa = profile_df(li, cols, exact=False)
    # exact arm + p45/p55 window bounds both come from the one exact
    # profile (one freq-frame pass) — the r11 shape re-scanned lineitem
    # twice more here: once for the exact profile, once for a full-sort
    # F.percentile bounds agg.
    pe = _profile_li_exact(spark, sf_dir).select(
        "column",
        F.col("med").alias("emed"),
        F.col("unique").alias("euniq"),
        "p45",
        "p55",
    )
    return (
        pa.join(pe, "column")
        .select(
            "column",
            "min",
            "max",
            "avg",
            "count",
            (
                F.abs(F.col("unique") - F.col("euniq"))
                <= F.col("euniq") * F.lit(0.15)
            ).alias("unique_ok"),
            F.when(
                F.col("med").isNull() & F.col("emed").isNull(), F.lit(True)
            )
            .otherwise(
                (F.col("med") >= F.col("p45")) & (F.col("med") <= F.col("p55"))
            )
            .alias("med_ok"),
        )
    )


@query(
    "streaming_incremental_dedup",
    f"""
    WITH newb AS ({_INCR_NEW_SQL}),
    nf AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM newb),
    cf AS (SELECT DISTINCT md5({_NORM_SQL}) AS fp FROM documents WHERE doc_id < 400),
    fresh AS (SELECT nf.doc_id, nf.fp FROM nf WHERE NOT EXISTS
              (SELECT 1 FROM cf WHERE cf.fp = nf.fp)),
    surv AS (SELECT fp, min(doc_id) AS doc_id FROM fresh GROUP BY fp)
    SELECT f.doc_id FROM fresh f JOIN surv s ON s.fp = f.fp AND s.doc_id = f.doc_id
    """,
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-dedup pipeline as a STREAM: the new-crawl batch
    arrives as two microbatches (ascending doc_id, mtime-ordered files,
    maxFilesPerTrigger=1) and is deduped per batch against a fingerprint
    store seeded with the corpus (streaming.pipeline.
    incremental_dedup_stream). Because batches arrive in ascending-id
    order, the per-batch min-id survivor equals the batch-mode global
    min-id survivor, so the oracle is the same SQL as incremental_dedup
    — the streaming execution must land on the identical row set."""
    import os

    from meteor_spark.streaming.pipeline import incremental_dedup_stream

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 400)
    newb = docs.filter(F.col("doc_id") >= 400).union(
        docs.filter(F.col("doc_id") < 50).select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    )
    base = _session_tmpdir("msk_sid_")
    watch = _stage_microbatches(
        base, (newb.filter(F.col("doc_id") < 2000), newb.filter(F.col("doc_id") >= 2000))
    )
    return incremental_dedup_stream(
        spark, watch, corpus, os.path.join(base, "store"), os.path.join(base, "ckpt")
    )


# The streaming near-dup gate IS exactly replayable: the microbatch
# composition is fixed (batch 0 = novel docs 400-479, batch 1 = the
# paraphrases), the LSH family is the same md5/Kirsch-Mitzenmacher
# arithmetic the batch oracles already reproduce, and the per-batch drop
# rule is relational (any band collision verified >= threshold drops the
# doc; batch-internal pairs drop the larger id). So the oracle replays
# the two foreachBatch steps as CTE levels: batch 0 vs the corpus store,
# batch 1 vs corpus + batch-0 survivors. MATERIALIZED for the same
# CTE-inlining reason as the kmeans oracle.
_SND_ORACLE = f"""
WITH docs_all AS MATERIALIZED (
  SELECT doc_id, text, 0 AS grp FROM documents WHERE doc_id < 400
  UNION ALL
  SELECT doc_id, text, 1 FROM documents WHERE doc_id >= 400 AND doc_id < 480
  UNION ALL
  SELECT doc_id + 5000, text || ' addendum', 2 FROM documents WHERE doc_id < 25),
nd AS (
  SELECT doc_id, grp, regexp_split_to_array({_NORM_SQL}, ' ') AS nws FROM docs_all),
shw AS MATERIALIZED (
  SELECT doc_id, grp, {_shingle_sql(_MINHASH_K)} AS sh FROM nd),
hsw AS (
  SELECT doc_id, grp, sh, {_HS_SQL} AS hs FROM shw),
sigw AS (
  SELECT doc_id, grp, sh, [{_SIG_SQL}] AS sig FROM hsw),
bandsw AS MATERIALIZED (
  SELECT doc_id, grp, sh, {_BAND_SQL} FROM sigw),
cand AS MATERIALIZED (
  {" UNION ".join(
    f'''SELECT a.doc_id AS a, a.grp AS ga, b.doc_id AS b, b.grp AS gb
        FROM bandsw a JOIN bandsw b ON a.band{b} = b.band{b}
        WHERE a.grp < b.grp OR (a.grp = b.grp AND a.doc_id < b.doc_id)'''
    for b in range(_MINHASH_BANDS)
  )}),
vp AS MATERIALIZED (
  SELECT c.a, c.ga, c.b, c.gb
  FROM (SELECT DISTINCT a, ga, b, gb FROM cand) c
  JOIN shw x ON x.doc_id = c.a
  JOIN shw y ON y.doc_id = c.b
  WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.5),
drop1 AS (
  SELECT b AS doc_id FROM vp WHERE ga = 0 AND gb = 1
  UNION
  SELECT b AS doc_id FROM vp WHERE ga = 1 AND gb = 1),
surv1 AS MATERIALIZED (
  SELECT doc_id FROM shw WHERE grp = 1
    AND doc_id NOT IN (SELECT doc_id FROM drop1)),
drop2 AS (
  SELECT b AS doc_id FROM vp WHERE gb = 2
    AND (ga = 0 OR (ga = 1 AND a IN (SELECT doc_id FROM surv1)) OR ga = 2)),
surv2 AS (
  SELECT doc_id FROM shw WHERE grp = 2
    AND doc_id NOT IN (SELECT doc_id FROM drop2))
SELECT doc_id FROM surv1 UNION ALL SELECT doc_id FROM surv2
"""


@query("streaming_incremental_neardup", _SND_ORACLE)
def streaming_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup ingestion dedup (streaming.pipeline.
    incremental_neardup_stream): two crawl microbatches checked by
    shingle-Jaccard against a persistent LSH band store seeded with the
    corpus. Planted paraphrases (one appended token — high Jaccard, NOT
    exact-equal, so a fingerprint dedup would miss them) of 25 corpus
    docs are dropped at the LSH family's recall (12 hashes / 4 bands:
    ~98% per pair — e.g. 24-25 of the 25 planted); novel docs survive.
    Upgraded from rows-only in round 4: the family is deterministic and
    the batch composition fixed, so _SND_ORACLE replays both microbatch
    steps (including the store growing by batch-0 survivors) exactly."""
    import os

    from meteor_spark.streaming.pipeline import incremental_neardup_stream

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 400)
    paraphrased = (
        docs.filter(F.col("doc_id") < 25)
        .select((F.col("doc_id") + 5000).alias("doc_id"), F.concat("text", F.lit(" addendum")).alias("text"))
    )
    newb = docs.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 480)).union(paraphrased)
    base = _session_tmpdir("msk_snd_")
    watch = _stage_microbatches(
        base, (newb.filter(F.col("doc_id") < 5000), newb.filter(F.col("doc_id") >= 5000))
    )
    return incremental_neardup_stream(
        spark, watch, corpus, os.path.join(base, "store"), os.path.join(base, "ckpt")
    )


_COMPACT_ORACLE = f"""
WITH nd AS (
  SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS nws
  FROM documents WHERE doc_id < 480),
sh AS (SELECT doc_id, {{shingle}} AS sh FROM nd),
hs AS (SELECT doc_id, {_HS_SQL} AS hs FROM sh),
sig AS (SELECT doc_id, [{_SIG_SQL}] AS sig FROM hs),
bands AS (SELECT doc_id, {_BAND_SQL} FROM sig)
{" UNION ALL ".join(
    f"SELECT {b} AS band, CAST(count(DISTINCT band{b}) AS BIGINT) AS n_keys,"
    f" CAST(count(*) AS BIGINT) AS n_rows FROM bands"
    for b in range(_MINHASH_BANDS))}
ORDER BY band
""".replace("{shingle}", _shingle_sql(_MINHASH_K))


@query("neardup_store_compaction", _COMPACT_ORACLE)
def neardup_store_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-store maintenance compaction
    (streaming.pipeline.compact_neardup_store): seed the incremental
    near-dup store with the corpus (doc_id < 480... corpus < 400 plus a
    batch 400-480 appended TWICE — the at-least-once duplicate-append
    a foreachBatch checkpoint replay produces), compact, and publish
    the per-band key/row census of the compacted store. The oracle
    recomputes the same census directly from the documents table with
    the shared minhash-band SQL family — equality proves compaction
    dropped exactly the duplicate appends (n_rows = distinct docs per
    band) and preserved every band key, while the rewrite also
    hive-partitions bands/ by band_key prefix so future batch joins
    partition-prune (test_streaming.py asserts the pruned plan)."""
    import os

    from meteor_spark.operators.dedup import shingle_frame
    from meteor_spark.streaming import pipeline

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 400)
    batch = docs.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 480))
    store = os.path.join(_session_tmpdir("msk_cmp_"), "store")

    # seed, then the at-least-once replay: same survivors appended twice
    for sh_src, seed in ((corpus, True), (batch, False), (batch, False)):
        pipeline.write_neardup_store(
            shingle_frame(sh_src, "text", "doc_id", _MINHASH_K), store,
            seed=seed, id_col="doc_id",
            num_hashes=_MINHASH_HASHES, bands=_MINHASH_BANDS,
        )
    pipeline.compact_neardup_store(spark, store)
    return (
        pipeline.neardup_store_bands(spark, store)
        .groupBy("band")
        .agg(
            F.countDistinct("band_key").cast("long").alias("n_keys"),
            F.count("*").cast("long").alias("n_rows"),
        )
        .orderBy("band")
    )


# PQ with a hash-pivot codebook is deterministic end-to-end and every
# float reduction is sequential left-to-right on both engines, so the
# oracle rebuilds normalization, per-subspace codes, ADC scores, the
# candidate cut, and the exact re-rank bit-for-bit (the same upgrade
# ivf_ann_topk/srp_ann_topk got). Parameters: 64-dim -> m=16 subspaces
# of 4, 8 codes, 64 candidates. Encoding argmin drops the row-constant
# ||x_j||^2 (s = ||c||^2 - 2 x.c); ADC folds terms via list_reduce to
# mirror Spark's left-associative + chain.
_PQ_M = 16
_PQ_DSUB = 4
_PQ_CODES = 8
_PQ_CAND = 64
_PQ_ORACLE = f"""
WITH pv AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS c
  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {_PQ_CODES}),
cent AS (
  SELECT c, list_transform(v, x -> x / n) AS cv
  FROM (SELECT c, v, sqrt(list_dot_product(v, v)) AS n FROM pv)),
csub AS (
  SELECT c, j.range::INT AS j,
         list_slice(cv, j.range * {_PQ_DSUB} + 1, j.range * {_PQ_DSUB} + {_PQ_DSUB}) AS cs
  FROM cent, range({_PQ_M}) j),
csub2 AS (SELECT c, j, cs, list_dot_product(cs, cs) AS yy FROM csub),
nrm AS (
  SELECT vec_id, list_transform(v, x -> x / n) AS nv
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS n
        FROM embeddings)),
enc AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT b.vec_id, s.j, s.c,
           row_number() OVER (PARTITION BY b.vec_id, s.j ORDER BY
             s.yy - 2 * list_dot_product(
               list_slice(b.nv, s.j * {_PQ_DSUB} + 1, s.j * {_PQ_DSUB} + {_PQ_DSUB}), s.cs),
             s.c) AS rn
    FROM nrm b, csub2 s) WHERE rn = 1),
qn AS (SELECT vec_id AS query_id, nv AS qnv FROM nrm WHERE vec_id < {_ANN_NQUERY}),
term AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, e.j,
         list_dot_product(
           list_slice(q.qnv, e.j * {_PQ_DSUB} + 1, e.j * {_PQ_DSUB} + {_PQ_DSUB}), s.cs) AS t
  FROM qn q, enc e
  JOIN csub2 s ON s.j = e.j AND s.c = e.code
  WHERE e.vec_id <> q.query_id),
adc AS (
  SELECT query_id, neighbor_id,
         list_reduce(list(t ORDER BY j), (a, b) -> a + b) AS adc
  FROM term GROUP BY query_id, neighbor_id),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc DESC, neighbor_id) AS crank
    FROM adc) WHERE crank <= {_PQ_CAND}),
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT cd.query_id, cd.neighbor_id,
         round(list_dot_product(q.v, nb.v) /
               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(nb.v, nb.v))), 4) AS cos
  FROM cand cd
  JOIN base q ON q.vec_id = cd.query_id
  JOIN base nb ON nb.vec_id = cd.neighbor_id)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
  FROM scored) WHERE rank <= {_ANN_K}
"""


@query("pq_ann_topk", _PQ_ORACLE)
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, exactly gated: hash-pivot codebook
    (n_codes smallest-md5 corpus vectors, normalized, split into m
    subspaces), per-subspace argmin codes, asymmetric-distance scoring
    with a bit-stable fold order, candidate cut, exact cosine re-rank
    (similarity.pq_pivot_topk). The numpy-kmeans codebook variant stays
    driver-smoked as pq_kmeans_ann_topk (rows-only: numpy's pairwise
    float summation is not SQL-reproducible)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _ANN_NQUERY)
    return similarity.pq_pivot_topk(
        emb, q, k=_ANN_K, m=_PQ_M, n_codes=_PQ_CODES, n_candidates=_PQ_CAND
    )


@query("pq_kmeans_ann_topk", _ANN_CONTRACT_ORACLE)
def pq_kmeans_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with the trained codebook
    (similarity.pq_topk): the memory-bound scale path — 64 float32 per
    vector compress to 16 one-byte codes, a vectorized mapInPandas pass
    scores codes via per-query lookup tables and emits per-batch
    top-candidates (map-side top-k), exact cosine re-ranks candidates
    only. The numpy-kmeans codebook is not SQL-reproducible, so the
    PUBLISH is the checked contract row (_ann_contract_row): k rows per
    query and mean recall vs the exact top-k >= 0.80 (measured 1.0 at
    all three committed SFs; tests pin >= 0.9 @ k=5). EXACT-GATED
    TWIN: pq_ann_topk runs the same PQ scoring with hash-pivot
    codebooks and carries the full value oracle — only the codebook
    training differs."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _ANN_NQUERY)
    res = similarity.pq_topk(emb, q, k=_ANN_K)
    exact = similarity.brute_force_topk(emb, q, k=_ANN_K)
    return _ann_contract_row(spark, res, exact, _ANN_K, 800_000)


@query(
    "q7_volume_shipping",
    """
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY sn.n_name, cn.n_name, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations. The
    same nation dim joins twice under different roles (supplier-side and
    customer-side) with a DISJUNCTIVE pair predicate; every dim is
    broadcast, so the only shuffle is the final (nation-pair, year)
    aggregate — the fact tables join broadcast-side and never
    repartition."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        # orders is a FACT table: no broadcast hint — the l-o join is the
        # one legitimate shuffle here (or AQE broadcasts it when small);
        # the true dims (supplier, both nation roles) are hinted
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           round(c.c_acctbal, 2) AS c_acctbal
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost (returned) revenue in a
    quarter. Date filter pushes into the orders scan and the returnflag
    filter into lineitem; customer is broadcast; the top-20 is
    TakeOrderedAndProject (never a global sort)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", F.round("c_acctbal", 2).alias("c_acctbal"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Second wave of TPC-H-shaped relational plans: correlated-min, multi-way
# profit rollup, value-share threshold, outer-join distribution,
# conditional-agg ratio, scalar-max selection, anti-join + count-distinct,
# HAVING-gated fact agg, disjunctive bracket predicates, dormant customers.
# Together with Q1/3/4/5/7/10/17 above these close out the classic
# relational plan-shape checklist (SURVEY.md §2.8).
# --------------------------------------------------------------------------


@query(
    "q2_min_cost_supplier",
    """
    WITH offers AS (
        SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_price
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p.p_partkey, p.p_name, o.l_suppkey AS s_suppkey, s.s_name,
           floor(o.unit_price * 10000 + 0.5) / 10000 AS unit_price
    FROM offers o
    JOIN part p     ON p.p_partkey = o.l_partkey
    JOIN supplier s ON s.s_suppkey = o.l_suppkey
    WHERE p.p_size <= 5
      AND o.unit_price = (SELECT min(unit_price) FROM offers o2
                          WHERE o2.l_partkey = o.l_partkey)
    ORDER BY p_partkey, s_suppkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part (correlated-min
    subquery). Spark-first: the per-part correlated MIN is a window min
    over the aggregated offers frame — one pass, no per-row re-scan. The
    offers agg shuffles on (part, supp); the window re-uses a part-only
    shuffle; part and supplier dims broadcast onto the small result.
    Ties kept and ordered by (part, supp) so the row set is
    engine-independent; the double equality is exact because both
    engines MIN over identical IEEE division results. The published
    4-decimal value uses floor(x*1e4 + 0.5)/1e4 rather than round():
    every step is a single IEEE op computed identically by both engines
    on the identical quotient, whereas Spark's round (BigDecimal
    half-up on the shortest repr) and DuckDB's (C-style) disagree on
    quotients an ulp from a .00005 boundary — 3 such rows at sf0.1."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 5).select("p_partkey", "p_name")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    )
    w = Window.partitionBy("l_partkey")
    return (
        offers.withColumn("best", F.min("unit_price").over(w))
        .filter(F.col("unit_price") == F.col("best"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            (F.floor(F.col("unit_price") * 10000 + 0.5) / 10000).alias("unit_price"),
        )
        .orderBy("p_partkey", "s_suppkey")
    )


@query(
    "q9_product_profit",
    """
    SELECT nation, o_year,
           floor(CAST(sum(amount_e4) AS DOUBLE) / 100 + 0.5) / 100 AS sum_profit
    FROM (
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                 * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT))
               - CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT) * 100
                 * CAST(floor(l.l_quantity + 0.5) AS BIGINT) AS amount_e4
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by nation x year over a 5-table star. The
    p_name LIKE filter lands in the part scan BEFORE the broadcast, so
    the lineitem-part join prunes ~90% of the fact early; supplier and
    nation broadcast too. The only shuffle joins the two facts
    (lineitem-orders) plus the final small rollup.

    Bit-stable publish (caught by the FIRST 10x strict sweep, r6: one
    round(,2) boundary flipped on a float-sum ulp at 10x magnitude —
    invisible at sf0.1, same class as the q2 rounding flip): prices,
    discounts, and quantities are cents-exact in the fixtures, so the
    profit is summed as EXACT int64 in 1e-4 dollar units (per-group sum
    bounded ~6e15 at 10x, far under int64) and published through a
    single identical divide+floor on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ep_c = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    disc_p = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    rp_c = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    amount_e4 = ep_c * (100 - disc_p) - rp_c * 100 * qty
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            (
                F.floor(F.sum(amount_e4).cast("double") / 100 + F.lit(0.5)) / 100
            ).alias("sum_profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q11_part_value_share",
    """
    WITH val AS (
        SELECT l.l_partkey, round(sum(l.l_extendedprice * l.l_quantity), 2) AS value
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey = 1
        GROUP BY l.l_partkey
    )
    SELECT l_partkey AS p_partkey, value
    FROM val
    WHERE value > (SELECT 1.25 * sum(value) / count(*) FROM val)
    ORDER BY value DESC, p_partkey
    """,
)
def q11_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose inventory value exceeds a global
    threshold derived from the same aggregate (scalar subquery; here
    1.25x the mean so the cut is scale-invariant across SFs). The
    per-part aggregate is computed once, cached implicitly by reuse, and
    the global total arrives as a broadcast single-row cross join — no
    driver collect, no second scan of the fact. Values are rounded 2dp
    BEFORE both the total and the comparison so the threshold test is
    engine-independent."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 1).select("s_suppkey")
    val = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 2).alias("value"))
    )
    total = val.agg((F.lit(1.25) * F.sum("value") / F.count("*")).alias("threshold"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select(F.col("l_partkey").alias("p_partkey"), "value")
        .orderBy(F.col("value").desc(), "p_partkey")
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer including
    zero-order customers (LEFT join with an extra join-side predicate,
    which must NOT become a post-join filter or the NULL rows vanish).
    Two-level aggregate: the first shuffles on custkey, the second is a
    tiny distribution rollup."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q14_promo_revenue",
    """
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1996-03-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — conditional aggregate ratio
    in ONE pass (no self-join, no second scan). Date range pushes into
    the lineitem scan; part broadcasts."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-03-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue"))
    )


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    revenue (scalar-max subquery over a derived view). The revenue
    aggregate is reused for both the max and the selection via a
    broadcast single-row cross join; revenue is rounded before the max
    so the equality is engine-independent. Supplier dim broadcasts."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_revenue"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q16_part_supplier_counts",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per part bucket with a
    NOT IN exclusion. The exclusion set (suppliers in arrears) is tiny →
    broadcast LEFT ANTI join, never a shuffle; the IN-list + <> filters
    push into the part scan before its broadcast. count(DISTINCT) runs
    as the standard two-phase expand aggregate."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q18_large_volume_customers",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS VARCHAR) AS orderdate,
           round(o.o_totalprice, 2) AS totalprice,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    HAVING sum(l.l_quantity) > 300
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity clears a HAVING
    threshold, decorated with customer info. Spark-first rewrite:
    aggregate lineitem by orderkey FIRST (map-side partials collapse the
    fact before any join), filter the tiny surviving set, then join
    orders and broadcast customer — instead of joining three tables and
    aggregating the blown-up result."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "q19_bracket_revenue",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive (brand, size, quantity) brackets.
    The OR of per-side conjuncts still yields pushable single-side
    residuals: Catalyst derives p_size<=15 into the part scan and
    quantity bounds into lineitem; part broadcasts and the disjunction
    evaluates inside the broadcast join's codegen stage."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    bracket = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & qty.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(bracket)
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@query(
    "q22_dormant_customers",
    """
    SELECT c.c_nationkey,
           count(*) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: high-balance customers with no RECENT orders,
    rolled up by nation. Composition of a scalar-avg subquery (broadcast
    single-row cross join, no driver collect) and a NOT EXISTS (left
    anti join against the date-pruned orders scan — the date filter
    pushes down BEFORE the anti join so the build side is small)."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("numcust"), F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
        .orderBy("c_nationkey")
    )


@query(
    "order_price_percentile_ranks",
    """
    SELECT o_orderkey,
           round(o_totalprice, 2) AS totalprice,
           round(percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey), 6) AS pr,
           round(cume_dist()    OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey), 6) AS cd
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2001-06-01'
    """,
)
def order_price_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-rank windows (percent_rank + cume_dist) per priority
    class — one sort per partition serves both functions; the (price,
    key) order makes ranks tie-free and engine-independent. The date
    filter pushes to the scan so the window sorts a month, not 6 years."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-06-01").cast("timestamp")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "latest_event_per_user",
    """
    WITH keyed AS (
        SELECT *, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                  || lpad(CAST(event_id AS VARCHAR), 12, '0') AS sort_key
        FROM events)
    SELECT user_id,
           arg_max(event_type, sort_key) AS last_type,
           round(arg_max(value, sort_key), 4) AS last_value,
           max(epoch_us(ts)) AS last_ts_us
    FROM keyed
    GROUP BY user_id
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key via max_by (argmax aggregate) — ONE partial-
    aggregable pass, no window sort, no self-join; ties broken by a
    zero-padded (ts_micros, event_id) sort key so both engines pick the
    same row (DuckDB's arg_max can't compare structs — a sortable string
    is the portable total order). The standard 'current state from an
    event log' pattern: at 100 TB this is a single map-side-combined
    shuffle instead of a full per-key sort."""
    e = _t(spark, sf_dir, "events")
    key = F.concat(
        F.lpad(unix_us("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return e.groupBy("user_id").agg(
        F.max_by("event_type", key).alias("last_type"),
        F.round(F.max_by("value", key), 4).alias("last_value"),
        F.max(unix_us("ts")).alias("last_ts_us"),
    )


@query(
    "building_segment_small_spenders",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
    """,
)
def building_segment_small_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set-op (the INTERSECT twin of customer_order_set_ops):
    planned as a left-anti hash join under AQE — distinct key sets, never
    a sort-merge of full rows."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = o.filter(F.col("o_totalprice") > 400000).select(F.col("o_custkey").alias("c_custkey"))
    return building.subtract(big)  # EXCEPT DISTINCT


_TFIDF_K = 50


@query(
    "corpus_tfidf_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS w FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
    agg AS (SELECT w, count(*) AS doc_freq,
                   CAST(sum(tf) AS BIGINT) AS tf_total FROM tf GROUP BY w),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT w AS term, tf_total, doc_freq,
           round(tf_total * ln(n_docs / doc_freq), 4) AS score
    FROM agg, n
    ORDER BY score DESC, term LIMIT {_TFIDF_K}
    """,
)
def corpus_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF top terms (text.tfidf_corpus_terms): the IDF
    weighting layer over raw term counts — the per-doc sum folds into
    idf * tf_total, so the whole computation is two map-side-combined
    aggregates + a broadcast scalar N, never a per-doc vector frame."""
    from meteor_spark.operators.text import tfidf_corpus_terms

    return tfidf_corpus_terms(_docs(spark, sf_dir), k=_TFIDF_K)


@query(
    "doc_bigram_perplexity",
    f"""
    WITH nd AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS ws FROM documents),
    bg AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM nd, unnest(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2),
    tf AS (SELECT doc_id, w1, w2, count(*) AS m FROM bg GROUP BY doc_id, w1, w2),
    bgc AS (SELECT w1, w2, sum(m) AS c12 FROM tf GROUP BY w1, w2),
    ctx AS (SELECT w1, sum(c12) AS c1 FROM bgc GROUP BY w1),
    v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vsz
          FROM (SELECT unnest(ws) AS w FROM nd)),
    lp AS (
      SELECT tf.doc_id, tf.m,
             ln((bgc.c12 + 0.5) / (ctx.c1 + 0.5 * v.vsz)) AS lp
      FROM tf JOIN bgc USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v)
    SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
           round(sum(m * lp) / sum(m), 4) AS avg_logp,
           round(exp(-(sum(m * lp) / sum(m))), 4) AS perplexity
    FROM lp GROUP BY doc_id
    """,
)
def doc_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter: per-doc perplexity under the
    corpus's own add-k bigram model (text.bigram_lm_perplexity) — high
    perplexity flags boilerplate/wrong-language text for the curation
    cut, with no external model artifact."""
    from meteor_spark.operators.text import bigram_lm_perplexity

    return bigram_lm_perplexity(_docs(spark, sf_dir))


@query(
    "source_mix_weights",
    f"""
    WITH s AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(regexp_split_to_array({_NORM_SQL}, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total,
                 CAST(count(*) AS DOUBLE) AS n_sources FROM s),
    w AS (
      SELECT s.source, s.n_docs, s.n_tokens,
             s.n_tokens / t.total AS share,
             (1.0 / t.n_sources) / (s.n_tokens / t.total) AS w
      FROM s, t),
    m AS (SELECT max(w) AS mw FROM w)
    SELECT source, n_docs, n_tokens,
           round(share, 4) AS token_share,
           round(w, 4) AS weight,
           round(w / m.mw, 4) AS sample_rate
    FROM w, m
    """,
)
def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing: per-source down-sampling rates toward
    a uniform token share (operators.sampling.source_mix_weights) — the
    static DoReMi/Pile-style mixture step of a pretraining pipeline."""
    from meteor_spark.operators.sampling import source_mix_weights as smw

    return smw(_t(spark, sf_dir, "documents"))


_WSAMPLE_K = 100


@query(
    "weighted_sample_docs",
    f"""
    SELECT doc_id, lang,
           round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
                    / 4503599627370496.0) / (n_chars + 1), 8) AS log_priority
    FROM documents
    ORDER BY log_priority DESC, doc_id LIMIT {_WSAMPLE_K}
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (sampling.weighted_sample):
    Efraimidis-Spirakis A-Res priorities from md5 uniforms, weight =
    document length — longer docs proportionally likelier, yet the
    selected SET is reproducible and oracle-checkable. One scan +
    TakeOrderedAndProject."""
    from meteor_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", F.col("n_chars") + 1, k=_WSAMPLE_K).select(
        "doc_id", "lang", "log_priority"
    )


@query(
    "user_retention_cohorts",
    """
    WITH first_seen AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events)
    SELECT CAST(CAST(f.cohort_week AS DATE) AS VARCHAR) AS cohort_week,
           CAST(datediff('day', f.cohort_week, a.act_week) / 7 AS INTEGER) AS week_no,
           count(DISTINCT a.user_id) AS active_users
    FROM activity a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY f.cohort_week, week_no
    ORDER BY cohort_week, week_no
    """,
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen week,
    counted in each subsequent activity week. Both week edges are
    date_trunc('week') (ISO Monday in Spark AND DuckDB) and the offset is
    exact day-arithmetic / 7, so the bucketing is engine-independent.
    Plan: two aggregates over one events scan (first-seen is a groupBy
    min; activity a distinct projection) joined on user_id — the join
    carries one row per (user, active week), never raw events."""
    e = _t(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    first_seen = e.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    activity = e.select("user_id", wk.alias("act_week")).distinct()
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            F.col("cohort_week").cast("date").cast("string").alias("cohort_week"),
            (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_no"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "week_no")
    )


def _cdc_oracle_sql(min_size: int = 16, avg_bits: int = 6, max_size: int = 256) -> str:
    """Windowed replay of multimodal.cdc_boundaries (the restatement
    that retired two rounds of 100x timeouts; the per-BYTE recursive
    walk this replaces re-joined a corpus-sized bytes table once per
    recursion level).

    Lossless identity: the gear recurrence h' = (2h + gear[b]) mod 2^64
    shifts each byte's contribution left once per step, so h mod
    2^avg_bits at position p is sum(gear[byte_{p-j}] * 2^j, j=0..avg_bits-1)
    mod 2^avg_bits — older bytes are annihilated because
    2^avg_bits | 2^j for j >= avg_bits. The boundary test therefore
    depends only on the trailing avg_bits bytes WHENEVER the chunk is at
    least avg_bits bytes old, which min_size (16) > avg_bits (6)
    guarantees — chunk-start resets cannot be observed by the test. So:
      1. flag candidate positions with one lag-window expression over
         the bytes (no recursion, gear table reduced mod 2^avg_bits);
      2. recurse over CHUNKS, not bytes: each level jumps a whole chunk
         via next-candidate-at-least-min_size from a per-doc candidate
         LIST (~n/2^avg_bits entries), capped by max_size and doc end.
    The 256 gear constants (first 8 md5 bytes of each byte value — a
    fixed public constant of the algorithm, multimodal._gear_table) are
    inlined as VALUES because DuckDB's md5 only takes VARCHAR, and
    md5(chr(b)) for b > 127 would hash the 2-byte utf-8 form, not the
    raw byte. ord(substr(text, ...)) equals the utf-8 byte only for
    ASCII payloads — asserted true of the fixture; attach_binary feeds
    utf-8 text bytes on the Spark side."""
    import hashlib as _h

    assert min_size > avg_bits, "window identity needs min_size > avg_bits"
    m = 1 << avg_bits
    gear_vals = ", ".join(
        f"({i}, {int.from_bytes(_h.md5(bytes([i])).digest()[:8], 'big') % m})"
        for i in range(256)
    )
    win = " + ".join(f"{1 << j} * lag(g, {j}, 0) OVER w" for j in range(avg_bits))
    return f"""
WITH RECURSIVE
gear(bv, g) AS (VALUES {gear_vals}),
docs AS MATERIALIZED (
  SELECT doc_id, text, CAST(len(text) AS INT) AS n
  FROM documents WHERE len(text) > 0),
bytes AS MATERIALIZED (
  SELECT b.doc_id, b.pos, g.g
  FROM (SELECT doc_id, CAST(unnest(range(n)) + 1 AS INT) AS pos, text FROM docs) b
  JOIN gear g ON g.bv = ord(substr(b.text, b.pos, 1))),
cands AS MATERIALIZED (
  SELECT doc_id, list(pos ORDER BY pos) AS cs FROM (
    SELECT doc_id, pos, ({win}) % {m} AS wmod
    FROM bytes WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
  WHERE wmod = 0 AND pos >= {min_size}
  GROUP BY doc_id),
walk(doc_id, s, n, cs) AS (
  SELECT d.doc_id, 0, d.n, coalesce(c.cs, CAST([] AS INT[]))
  FROM docs d LEFT JOIN cands c USING (doc_id)
  UNION ALL
  SELECT doc_id, nb, n, cs FROM (
    SELECT doc_id,
           CAST(least(coalesce(list_min(list_filter(cs, x -> x >= s + {min_size})),
                               2147483647),
                      s + {max_size}) AS INT) AS nb,
           n, cs
    FROM walk WHERE s < n)
  WHERE nb < n),
chunks AS MATERIALIZED (
  SELECT doc_id, s AS off,
         least(CAST(least(coalesce(list_min(list_filter(cs, x -> x >= s + {min_size})),
                                   2147483647),
                          s + {max_size}) AS INT), n) - s AS e_len
  FROM walk),
hashed AS (
  SELECT c.doc_id, md5(substr(d.text, c.off + 1, c.e_len)) AS chunk_md5, c.e_len
  FROM chunks c JOIN docs d USING (doc_id))
SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs, max(e_len) AS length
FROM hashed GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
ORDER BY n_docs DESC, chunk_md5 LIMIT 100
"""


@query("cdc_shared_chunks", _cdc_oracle_sql())
def cdc_shared_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup summary: gear-hash CDC over the
    binary payloads (multimodal.cdc_chunks), then the chunks shared by
    more than one document — region-level dedup that fixed blocks would
    miss after any insertion. Deterministic (fixed gear table); upgraded
    from rows-only in round 4 — the per-byte boundary recurrence is
    replayed by _cdc_oracle_sql's recursive CTE, so the gate has full
    value equality. Coverage and resync properties stay pinned in
    tests/test_multimodal.py."""
    from meteor_spark.operators.multimodal import attach_binary, cdc_chunks

    media = attach_binary(_docs(spark, sf_dir))
    chunks = cdc_chunks(media, min_size=16, avg_bits=6, max_size=256)
    return (
        chunks.groupBy("chunk_md5")
        .agg(F.countDistinct("doc_id").alias("n_docs"), F.max("length").alias("length"))
        .filter(F.col("n_docs") > 1)
        .orderBy(F.col("n_docs").desc(), "chunk_md5")
        .limit(100)
    )


@query(
    "click_purchase_funnel",
    """
    WITH clicks AS (
        SELECT user_id, min(ts) AS first_click
        FROM events WHERE event_type = 'click' GROUP BY user_id),
    conv AS (
        SELECT e.user_id, min(e.ts) AS first_purchase, any_value(c.first_click) AS first_click
        FROM events e JOIN clicks c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.first_click
        GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM clicks)                                   AS n_clicked,
           (SELECT count(*) FROM conv)                                     AS n_converted,
           round((SELECT count(*) FROM conv) * 1.0
                 / (SELECT count(*) FROM clicks), 4)                       AS conv_rate,
           (SELECT round(avg((epoch_us(first_purchase) - epoch_us(first_click)) / 1000000.0), 2)
            FROM conv)                                                     AS avg_secs_to_convert
    """,
)
def click_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel: users whose first purchase FOLLOWS their first
    click, with conversion rate and mean latency. Spark-first: first
    clicks come from one conditional aggregation (min-if) over the
    events scan; the first-purchase-AFTER-click needs the purchase rows
    themselves, so it joins the (tiny) per-user stage frame — no
    self-join of the full log; the oracle spells the same semantics
    relationally."""
    e = _t(spark, sf_dir, "events")
    stages = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
    )
    # first purchase AFTER the first click needs the conditional min over
    # purchases later than first_click — a second small agg over the same
    # scan's rows, joined on the (already tiny) per-user stage frame
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", F.col("ts").alias("pts"))
    conv = (
        purchases.join(stages.filter(F.col("first_click").isNotNull()), "user_id")
        .filter(F.col("pts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("pts").alias("first_purchase"), F.first("first_click").alias("first_click"))
    )
    clicked = stages.filter(F.col("first_click").isNotNull()).agg(F.count("*").alias("n_clicked"))
    converted = conv.agg(
        F.count("*").alias("n_converted"),
        F.round(
            F.avg((unix_us("first_purchase") - unix_us("first_click")) / 1e6), 2
        ).alias("avg_secs_to_convert"),
    )
    return clicked.crossJoin(F.broadcast(converted)).select(
        "n_clicked",
        "n_converted",
        F.round(F.col("n_converted") / F.col("n_clicked"), 4).alias("conv_rate"),
        "avg_secs_to_convert",
    )

# --------------------------------------------------------------------------
# TPC-H completion wave: Q6 / Q8 / Q12 / Q20 / Q21 shapes
# (fixture schema lacks l_shipmode/l_commitdate/l_receiptdate/partsupp, so
# Q12/Q20/Q21 keep the reference plan SHAPE with lateness defined as
# l_shipdate > o_orderdate + N days and availability from shipped volume)
# --------------------------------------------------------------------------


@query(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.035 AND l_discount <= 0.065 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single-scan conditional revenue — THE pushdown
    benchmark. All three predicates are plain comparisons on scan
    columns, so they reach the parquet reader as PushedFilters and the
    whole query is one codegen'd scan+partial-agg with a 1-row exchange;
    no shuffle of data rows at any scale. Discount bounds sit between
    the 0.01-step grid values so double representation can't flip edge
    rows across engines."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.035)
            & (F.col("l_discount") <= 0.065)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query(
    "q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_2' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
        SELECT year(o.o_orderdate) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS nation
        FROM lineitem l
        JOIN part p      ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
        JOIN orders o    ON o.o_orderkey = l.l_orderkey
        JOIN customer c  ON c.c_custkey = o.o_custkey
        JOIN nation n1   ON n1.n_nationkey = c.c_nationkey AND n1.n_regionkey = 2
        JOIN supplier s  ON s.s_suppkey = l.l_suppkey
        JOIN nation n2   ON n2.n_nationkey = s.s_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share inside one region's customer base
    (ref analogue: the deepest join tree in the suite). Spark-first: every
    dimension (part, customer, nation x2, supplier) broadcasts, so the
    only shuffle is the orders-lineitem equi-join and the tiny per-year
    agg; the share is a conditional-sum ratio in the SAME aggregate, not
    a join of two aggregates. Region/type/date filters sit on the dim
    scans and prune before the broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 2)
        .select(F.col("n_nationkey").alias("cust_nationkey"))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nationkey"), F.col("n_name").alias("nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cust_nationkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("supp_nationkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_2", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q12_late_priority_counts",
    """
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def q12_late_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late-shipment line counts split by order
    priority class (fixture has no l_shipmode/receiptdate, so the group
    key is l_returnflag and late = shipped >45 days after order date —
    same join + non-equi predicate + two conditional sums). The lateness
    predicate references both sides so it evaluates as a join residual,
    not a post-agg filter; the agg output is 3 rows."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q20_heavy_part_suppliers",
    """
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_nationkey IN (1, 2, 3)
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'small%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l.l_suppkey
        HAVING sum(l.l_quantity) > 300)
    ORDER BY s.s_suppkey
    """,
)
def q20_heavy_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers (in a nation set) who moved more than a
    threshold volume of one part family in a window — the nested
    IN-subquery-with-HAVING pattern (ref has no partsupp fixture, so
    'availability' is shipped volume). Spark-first: the subquery is an
    aggregate-then-semi-join; the qualified-supplier set is tiny so it
    BROADCASTS into the supplier scan (left_semi), never shuffling the
    supplier table."""
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey").isin(1, 2, 3))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%")).select("p_partkey")
    heavy = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(heavy), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q21_sole_late_supplier",
    """
    WITH per_order AS (
        SELECT l.l_orderkey,
               count(DISTINCT l.l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                                   THEN l.l_suppkey END) AS n_late,
               max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                        THEN l.l_suppkey END) AS late_supp
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY l.l_orderkey)
    SELECT s.s_name, count(*) AS numwait
    FROM per_order po JOIN supplier s ON s.s_suppkey = po.late_supp
    WHERE po.n_supp > 1 AND po.n_late = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper in
    multi-supplier finished orders (late = >60 days after order date;
    fixture lacks commit/receipt dates). The reference formulation is
    EXISTS + NOT EXISTS self-joins on lineitem; Spark-first that
    decorrelates into ONE groupBy(l_orderkey) computing distinct
    suppliers, distinct LATE suppliers, and (since exactly one) the late
    supplier itself — a single fact shuffle instead of two self-joins,
    which is the difference between 1x and 3x fact-table traffic at
    100 TB. Supplier dim broadcasts for the name lookup."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_order = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        per_order.join(F.broadcast(s), F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Training-data curation wave 3: domain balancing, substring dedup,
# sequence packing
# --------------------------------------------------------------------------


@query(
    "source_quota_cap",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000,
                        doc_id) AS rk
      FROM documents) WHERE rk <= 15
    """,
)
def source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing (sampling.quota_cap): cap every source at 15
    docs, chosen by deterministic hash rank — no source dominates the
    training mix, and the surviving set is engine-reproducible.
    WindowGroupLimit applies the cap map-side before the shuffle."""
    from meteor_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.quota_cap(docs, "doc_id", "source", cap=15).select("doc_id", "source")


@query(
    "duplicated_span_report",
    f"""
    WITH nd AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS ws FROM documents),
    g AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             md5(array_to_string(list_slice(ws, i, i + 4), ' ')) AS gram
      FROM nd, unnest(range(1, greatest(len(ws) - 4, 1) + 1)) AS t(i)),
    s AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
    h AS (SELECT g.doc_id, g.pos FROM g SEMI JOIN s USING (gram)),
    b AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
                  THEN 1 ELSE 0 END AS brk
      FROM h),
    j AS (SELECT doc_id, pos,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
          FROM b)
    SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
           max(pos) - min(pos) + 5 AS span_tokens
    FROM j GROUP BY doc_id, isl
    """,
)
def duplicated_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (dedup.duplicated_spans, Lee et al. ACL'22
    relationally): every maximal token span whose 5-gram windows all
    occur in some other document — the boilerplate-excision report. The
    oracle rebuilds the identical windows, shared-gram set, and island
    merge in SQL."""
    docs = _docs(spark, sf_dir)
    spans = dedup.duplicated_spans(docs, k=5)
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


@query(
    "sequence_packing",
    f"""
    WITH tk AS (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array({_NORM_SQL}, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM tk)
    SELECT doc_id, source, n_tokens,
           CAST(cb // 512 AS BIGINT) AS first_seq,
           CAST(cb % 512 AS BIGINT) AS seq_offset,
           CAST(CASE WHEN n_tokens <= 0 THEN 0
                ELSE (cb + n_tokens - 1) // 512 - cb // 512 + 1 END AS BIGINT) AS n_seqs
    FROM c
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing manifest (packing.pack_manifest):
    per document, the 512-token training sequence it starts in, its
    offset, and how many sequences it spans — one codegen'd cumsum
    window per source stream, no Python."""
    from meteor_spark.operators import packing

    docs = _t(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", "source", text.token_count(text.normalize_text(F.col("text"))).alias("n_tokens")
    )
    return packing.pack_manifest(tk, "n_tokens", seq_len=512)


# --------------------------------------------------------------------------
# Training-data curation wave 4: bounded-memory heavy hitters,
# truncation budgeting, entropy quality, diverse coreset selection
# --------------------------------------------------------------------------

_HH_K = 50


@query(
    "corpus_word_heavy_hitters",
    f"""
    WITH w AS (
      SELECT unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS word
      FROM documents),
    t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM w)
    SELECT word, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM w, t GROUP BY word, t.total
    HAVING count(*) > t.total / {_HH_K}
    ORDER BY word
    """,
)
def corpus_word_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus vocabulary heavy hitters (freq > N/{k}) via the
    two-pass Misra-Gries pattern (sketches.misra_gries_candidates +
    heavy_hitters_exact): per-partition MG summaries bound memory at
    O(k) counters over an unbounded token domain, the pigeonhole
    guarantee makes the candidate union a superset of every true heavy
    hitter, and a broadcast-semi-join verification scan restores exact
    counts — so the oracle is the plain GROUP BY/HAVING the sketch can
    replace at 100 TB (where the full-vocabulary shuffle is the thing
    you can't afford). Stopword discovery / vocabulary-pruning input in
    an LM pipeline."""
    from meteor_spark.operators.sketches import heavy_hitters_exact

    docs = _docs(spark, sf_dir)
    w = docs.select(
        F.explode(text.words(text.normalize_text(F.col("text")))).alias("word")
    )
    return heavy_hitters_exact(w, "word", _HH_K).orderBy("word")


@query(
    "truncation_budget_curve",
    f"""
    WITH tk AS (
      SELECT CAST(len(regexp_split_to_array({_NORM_SQL}, ' ')) AS BIGINT) AS t
      FROM documents),
    f AS (SELECT t, unnest([16, 24, 32, 48, 64]) AS max_len FROM tk)
    SELECT CAST(max_len AS INTEGER) AS max_len,
           CAST(sum(CASE WHEN t > max_len THEN 1 ELSE 0 END) AS BIGINT) AS docs_truncated,
           CAST(sum(greatest(t - max_len, 0)) AS BIGINT) AS tokens_dropped,
           round(CAST(sum(greatest(t - max_len, 0)) AS DOUBLE) / CAST(sum(t) AS DOUBLE), 6) AS drop_share
    FROM f GROUP BY max_len ORDER BY max_len
    """,
)
def truncation_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-loss curve over candidate max-sequence-lengths
    (packing.truncation_budget_curve): for each L, how many documents
    get truncated and what share of corpus tokens is dropped — the
    one-scan answer to "what max_seq_len keeps truncation loss under
    ε?". Constant-width literal explode + map-side-combined groupBy:
    the shuffle is |candidates| rows per partition at any corpus
    size. Reads via _docs: the tokenizer regex is per-row compute, and
    the single-file fixture would otherwise serialize it on one core
    (measured 19x at a 10x scale-up; 1.9x after the fan-out)."""
    from meteor_spark.operators import packing

    docs = _docs(spark, sf_dir)
    tk = docs.select(
        text.token_count(text.normalize_text(F.col("text"))).alias("n_tokens")
    )
    return packing.truncation_budget_curve(tk, "n_tokens")


def _padding_bucket_case(min_cap: int = 16, max_cap: int = 1 << 20) -> str:
    whens, c = [], min_cap
    while c < max_cap:
        whens.append(f"WHEN t <= {c} THEN {c}")
        c <<= 1
    return "CASE " + " ".join(whens) + f" ELSE {max_cap} END"


from meteor_spark.functions.exactmath import ppm_expr as _ppm_expr  # noqa: E402

_PAD_PPM = _ppm_expr("total_padding", "n_docs * bucket_cap", "//")


@query(
    "packing_padding_waste",
    f"""
    WITH tk AS (
      SELECT CAST(len(regexp_split_to_array({_NORM_SQL}, ' ')) AS BIGINT) AS t
      FROM documents),
    b AS (SELECT t, {_padding_bucket_case()} AS bucket_cap FROM tk),
    agg AS (
      SELECT bucket_cap,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(t) AS BIGINT) AS total_tokens,
             CAST(sum(greatest(bucket_cap - t, 0)) AS BIGINT) AS total_padding
      FROM b GROUP BY bucket_cap)
    SELECT CAST(bucket_cap AS INTEGER) AS bucket_cap, n_docs, total_tokens,
           total_padding,
           CAST({_PAD_PPM} AS BIGINT) AS pad_ppm
    FROM agg ORDER BY bucket_cap
    """,
)
def packing_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding overhead per pow-2 length bucket
    (packing.padding_waste_by_bucket): the bucketed-batching counterpart
    of sequence_packing's concat-and-chunk — pad_ppm per bucket tells
    the trainer where bucketing burns enough tokens that packing wins.
    Integer CASE-ladder bucket pick (no float log2 at pow-2 boundaries)
    and exact DIV-by-capacity ppm, so the gate is bit-stable by
    construction; one scan, |buckets|-row shuffle at any corpus size."""
    from meteor_spark.operators import packing

    docs = _docs(spark, sf_dir)
    tk = docs.select(
        text.token_count(text.normalize_text(F.col("text"))).alias("n_tokens")
    )
    return packing.padding_waste_by_bucket(tk, "n_tokens")


@query(
    "char_entropy_quality",
    f"""
    WITH n AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    ch AS (
      SELECT doc_id, substr(t, CAST(i AS INTEGER), 1) AS ch
      FROM n, unnest(range(1, len(t) + 1)) AS u(i)),
    pc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars_norm,
           CAST(count(*) AS BIGINT) AS distinct_chars,
           round(log2(CAST(sum(c) AS DOUBLE))
                 - sum(c * log2(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE),
                 4) AS char_entropy
    FROM pc GROUP BY doc_id ORDER BY doc_id
    """,
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy
    (text.char_entropy_profile): the information-theoretic quality leg —
    flags gibberish / single-character spam / templated text that
    length, stopword, and punctuation ratios miss, and stays fully
    relational. Exact rational probabilities, H = log2(n) -
    Σ c·log2(c)/n in one groupBy."""
    docs = _docs(spark, sf_dir)
    return text.char_entropy_profile(docs).orderBy("doc_id")


_KC_K = 6


def _kcenter_oracle(k: int = _KC_K) -> str:
    base = """
    WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pn AS (SELECT vec_id, v, round(list_dot_product(v, v), 6) AS n2 FROM p),
    c1 AS (SELECT vec_id, v, n2, 0.0 AS mind FROM pn ORDER BY n2 DESC, vec_id LIMIT 1),
    m1 AS (SELECT pn.vec_id, pn.v, pn.n2,
                  round(pn.n2 + c1.n2 - 2 * list_dot_product(pn.v, c1.v), 6) AS mind
           FROM pn, c1),
    """
    its = []
    for j in range(2, k + 1):
        prior = " UNION ALL ".join(f"SELECT vec_id FROM c{i}" for i in range(1, j))
        its.append(f"""c{j} AS (
      SELECT vec_id, v, n2, mind FROM m{j - 1}
      WHERE vec_id NOT IN ({prior})
      ORDER BY mind DESC, vec_id LIMIT 1)""")
        if j < k:
            its.append(f"""m{j} AS (
      SELECT m.vec_id, m.v, m.n2,
             least(m.mind, round(m.n2 + c{j}.n2 - 2 * list_dot_product(m.v, c{j}.v), 6)) AS mind
      FROM m{j - 1} m, c{j})""")
    finals = " UNION ALL ".join(
        f"SELECT {j} AS rank, vec_id, mind AS dist2 FROM c{j}" for j in range(1, k + 1)
    )
    return base + ",\n    ".join(its) + f"\n    SELECT CAST(rank AS INTEGER) AS rank, vec_id, dist2 FROM ({finals}) ORDER BY rank"


@query("kcenter_coreset", _kcenter_oracle())
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diverse coreset over the embedding table
    (similarity.kcenter_select): k maximally-spread vectors, the
    deterministic diversity-selection primitive (eval seeds, few-shot
    pools, coverage probes). Per-iteration rounding + id tiebreaks make
    the greedy selection engine-replayable, so the oracle re-runs all k
    steps as chained CTEs and checks FULL equality — an iterative
    algorithm with an exact gate, like workload_table_pagerank. One
    scan + one collected row per iteration; no join, no window, no
    shuffle of the corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kcenter_select(emb, k=_KC_K).orderBy("rank")


# --------------------------------------------------------------------------
# Training-data curation wave 5: lexical drift, phrase mining, streaming
# heavy hitters, graph triangles
# --------------------------------------------------------------------------


@query(
    "source_lexical_kl",
    f"""
    WITH w AS (
      SELECT source, unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS w
      FROM documents),
    gw AS (SELECT source, w, count(*) AS c FROM w GROUP BY 1, 2),
    cw AS (SELECT w, sum(c) AS cc FROM gw GROUP BY 1),
    tg AS (SELECT source, sum(c) AS tg FROM gw GROUP BY 1),
    t AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM gw)
    SELECT gw.source,
           CAST(max(tg.tg) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS distinct_words,
           round(sum((gw.c / tg.tg) * log2((gw.c / tg.tg) / (cw.cc / t.t))), 4) AS kl_bits
    FROM gw JOIN cw USING (w) JOIN tg USING (source), t
    GROUP BY gw.source ORDER BY gw.source
    """,
)
def source_lexical_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical drift per crawl source (text.lexical_kl_by_group): KL
    divergence of each source's word distribution from the corpus mix —
    the vocabulary-level sibling of event_value_drift_psi. Exact (no
    smoothing: KL over the group's own support), vocabulary-sized
    shuffles only."""
    docs = _docs(spark, sf_dir)
    return text.lexical_kl_by_group(docs, "source").orderBy("source")


_PMI_MIN = 5
_PMI_K = 20


@query(
    "corpus_pmi_bigrams",
    f"""
    WITH nd AS (
      SELECT regexp_split_to_array({_NORM_SQL}, ' ') AS nws FROM documents),
    uni AS (
      SELECT w, count(*) AS cu FROM (SELECT unnest(nws) AS w FROM nd) GROUP BY w),
    tu AS (SELECT CAST(sum(cu) AS DOUBLE) AS tu FROM uni),
    bi AS (
      SELECT gram, count(*) AS n FROM (
        SELECT unnest(list_transform(range(1, greatest(len(nws) - 1, 1) + 1),
                      i -> array_to_string(list_slice(nws, i, i + 1), ' '))) AS gram
        FROM nd)
      WHERE gram LIKE '% %' GROUP BY gram HAVING count(*) >= {_PMI_MIN}),
    tb AS (SELECT CAST(sum(greatest(len(nws) - 1, 0)) AS DOUBLE) AS tb FROM nd)
    SELECT gram, n,
           round(log2((n / tb.tb) /
                      ((ua.cu / tu.tu) * (ub.cu / tu.tu))), 4) + 0.0 AS pmi
    FROM bi
    JOIN uni ua ON ua.w = split_part(gram, ' ', 1)
    JOIN uni ub ON ub.w = split_part(gram, ' ', 2), tu, tb
    ORDER BY pmi DESC, gram LIMIT {_PMI_K}
    """,
)
def corpus_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (text.pmi_ngrams): top bigrams by pointwise
    mutual information with a min-count floor — finds phrases raw
    frequency ranking can't (corpus_top_bigrams surfaces stopword
    pairs; PMI surfaces bound collocations). Single-word-keyed joins,
    TakeOrdered top-k."""
    docs = _docs(spark, sf_dir)
    return text.pmi_ngrams(docs, min_count=_PMI_MIN, k=_PMI_K)


_HH_STREAM_ORACLE = f"""
    WITH w AS (
      SELECT unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS word
      FROM documents),
    t AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM w)
    SELECT word, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM w, t GROUP BY word, t.total
    HAVING count(*) > t.total / {_HH_K}
    ORDER BY word
    """


@query("streaming_word_heavy_hitters", _HH_STREAM_ORACLE)
def streaming_word_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of corpus_word_heavy_hitters: the documents STREAM
    maintains per-word counts in state (complete mode — the canonical
    streaming word count), and the finished state thresholds against
    its own total. Count merge across microbatches is exact integer
    addition, so the bounded stream must equal the batch GROUP
    BY/HAVING to the last digit — same exact-gate construction as
    streaming_quantile_rollup."""
    from meteor_spark.streaming.pipeline import run_stream_to_batch, stream_table

    docs = stream_table(spark, sf_dir, "documents")
    wcounts = (
        docs.select(
            F.explode(text.words(text.normalize_text(F.col("text")))).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("n_occurrences"))
    )
    state = run_stream_to_batch(wcounts, output_mode="complete")
    total = state.groupBy().agg(F.sum("n_occurrences").cast("double").alias("t"))
    return (
        state.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") > F.col("t") / _HH_K)
        .select("word", "n_occurrences")
        .orderBy("word")
    )


@query(
    "workload_lineage_closure",
    """
    WITH RECURSIVE ut AS (SELECT DISTINCT user_id, event_type FROM events),
    e AS (
      SELECT DISTINCT a.event_type AS src, b.event_type AS dst
      FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type),
    clo(urn, ancestor_urn, depth) AS (
      SELECT dst, src, 1 FROM e
      UNION
      SELECT c.urn, e.src, c.depth + 1
      FROM clo c JOIN e ON e.dst = c.ancestor_urn
      WHERE c.depth < 10)
    SELECT urn, ancestor_urn, CAST(min(depth) AS INTEGER) AS depth
    FROM clo GROUP BY urn, ancestor_urn
    ORDER BY urn, ancestor_urn
    """,
)
def workload_lineage_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive upstream closure (operators.lineage.transitive_upstreams)
    over the mined co-usage DAG (a < b canonical edges, so acyclic):
    (node, ancestor, first-discovery depth) for every reachable
    ancestor. The iterative frontier BFS — per-level dedup, prior-level
    anti-join, depth = BFS discovery level — checked EXACTLY against a
    recursive-CTE oracle whose min(depth) over all paths equals the BFS
    level; the dense co-usage graph is full of diamonds, so the gate
    also locks the multi-path dedup behavior."""
    from meteor_spark.operators.lineage import transitive_upstreams

    ut = _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    edge_df = usage.co_usage_pairs(ut).select(
        F.col("a").alias("src_urn"), F.col("b").alias("dst_urn")
    )
    return transitive_upstreams(edge_df).select(
        "urn", "ancestor_urn", F.col("depth").cast("int").alias("depth")
    ).orderBy("urn", "ancestor_urn")


@query(
    "workload_graph_triangles",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    e AS (
      SELECT DISTINCT a.event_type AS x, b.event_type AS y
      FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type),
    tri AS (
      SELECT e1.x, e1.y, e2.y AS z
      FROM e e1 JOIN e e2 ON e1.y = e2.x
      JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y)
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([x, y, z]) AS node FROM tri)
    GROUP BY node ORDER BY node
    """,
)
def workload_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle membership per node of the mined co-usage graph
    (graph.triangle_counts): the community-structure complement to
    workload_table_pagerank over the same join-pair mining (reference
    stats.go). Canonicalized wedge join + edge closure — two
    equi-joins, no cross product."""
    from meteor_spark.operators.graph import triangle_counts

    ut = _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    edges = usage.co_usage_pairs(ut).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    return triangle_counts(edges).orderBy("node")


# --------------------------------------------------------------------------
# Training-data curation wave 6: novelty, diversity, Zipf health,
# behavioral transitions
# --------------------------------------------------------------------------


@query(
    "doc_novelty_scores",
    f"""
    WITH nd AS (
      SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS nws FROM documents),
    gl AS (SELECT doc_id, unnest({_shingle_sql(3)}) AS gram FROM nd),
    gdf AS (SELECT gram, count(*) AS df_count FROM gl GROUP BY gram)
    SELECT gl.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN gdf.df_count = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           round(sum(CASE WHEN gdf.df_count = 1 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS novelty
    FROM gl JOIN gdf USING (gram)
    GROUP BY gl.doc_id ORDER BY gl.doc_id
    """,
)
def doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty (text.doc_novelty_scores): share of the
    doc's distinct 3-grams that occur in NO other document — the
    inverse of contamination scoring, the upweighting signal for
    diversity-aware sampling. Gram-keyed shuffles only, never
    pairwise."""
    docs = _docs(spark, sf_dir)
    return text.doc_novelty_scores(docs, n=3).orderBy("doc_id")


@query(
    "source_diversity_metrics",
    f"""
    WITH nd AS (
      SELECT source, regexp_split_to_array({_NORM_SQL}, ' ') AS nws FROM documents),
    u AS (SELECT source, unnest(nws) AS g FROM nd),
    b AS (SELECT source, gram AS g FROM (
        SELECT source, unnest(list_transform(range(1, greatest(len(nws) - 1, 1) + 1),
               i -> array_to_string(list_slice(nws, i, i + 1), ' '))) AS gram FROM nd)
      WHERE gram LIKE '% %'),
    d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM nd GROUP BY source),
    uu AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
                  round(count(DISTINCT g) / CAST(count(*) AS DOUBLE), 4) AS type_token_ratio
           FROM u GROUP BY source),
    bb AS (SELECT source,
                  round(count(DISTINCT g) / CAST(count(*) AS DOUBLE), 4) AS distinct_bigram_ratio
           FROM b GROUP BY source)
    SELECT d.source, d.n_docs, uu.n_tokens, uu.type_token_ratio, bb.distinct_bigram_ratio
    FROM d JOIN uu USING (source) JOIN bb USING (source) ORDER BY d.source
    """,
)
def source_diversity_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity report per source (text.source_diversity_metrics):
    type-token ratio and distinct-bigram ratio — low values flag
    templated/repetitive sources before any LM machinery runs. The
    distinct-n corpus report next to source_lexical_kl's divergence
    view."""
    docs = _docs(spark, sf_dir)
    return text.source_diversity_metrics(docs, "source").orderBy("source")


@query(
    "corpus_zipf_fit",
    f"""
    WITH w AS (
      SELECT unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS w FROM documents),
    c AS (SELECT w, count(*) AS c FROM w GROUP BY w ORDER BY c DESC, w LIMIT 100),
    r AS (SELECT log2(CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE)) AS x,
                 log2(CAST(c AS DOUBLE)) AS y
          FROM c)
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round((count(*) * sum(x*y) - sum(x) * sum(y))
                 / (count(*) * sum(x*x) - sum(x) * sum(x)), 4) AS zipf_slope,
           round((sum(y) - ((count(*) * sum(x*y) - sum(x) * sum(y))
                 / (count(*) * sum(x*x) - sum(x) * sum(x))) * sum(x)) / count(*), 4) AS zipf_intercept
    FROM r
    """,
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit (text.zipf_fit): closed-form OLS of
    log2(freq) on log2(rank) over the top-100 words. Natural text fits
    slope ≈ -1; flat slopes flag synthetic/templated corpora — the
    corpus-level health check beside the per-doc quality gates.
    TakeOrdered top-n; the rank window and OLS aggregate touch top_n
    rows only."""
    docs = _docs(spark, sf_dir)
    return text.zipf_fit(docs, top_n=100)


@query(
    "event_transition_matrix",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events),
    p AS (SELECT event_type AS src_type, nxt AS dst_type, count(*) AS n
          FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2)
    SELECT src_type, dst_type, CAST(n AS BIGINT) AS n,
           round(n / CAST(sum(n) OVER (PARTITION BY src_type) AS DOUBLE), 4) AS p
    FROM p ORDER BY src_type, dst_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (usage.event_transition_matrix): P(next | current) for
    every event-type pair — the behavioral complement to the
    funnel/retention family (reference's usage mining, stats.go). One
    lead() window on the shared user-keyed partitioning; the
    normalizer window runs over the |types|^2 matrix, not the
    stream."""
    ev = _t(spark, sf_dir, "events")
    return usage.event_transition_matrix(ev).orderBy("src_type", "dst_type")


# --------------------------------------------------------------------------
# Training-data curation wave 7: sorted-neighborhood blocking, weighted
# order statistics
# --------------------------------------------------------------------------

_SNM_W = 4
_SNM_KEY = 12


@query(
    "sorted_neighborhood_pairs",
    f"""
    WITH nd AS (
      SELECT doc_id, {_NORM_SQL} AS t,
             regexp_split_to_array({_NORM_SQL}, ' ') AS nws
      FROM documents),
    sh AS (
      SELECT doc_id, substr(t, 1, {_SNM_KEY}) AS k, {_shingle_sql(3)} AS s FROM nd),
    r AS (
      SELECT doc_id, s, row_number() OVER (ORDER BY k, doc_id) AS r FROM sh),
    cand AS (
      SELECT x.doc_id AS a, y.doc_id AS b,
             len(list_intersect(x.s, y.s)) AS si, len(x.s) AS la, len(y.s) AS lb
      FROM r x JOIN r y ON y.r > x.r AND y.r <= x.r + {_SNM_W})
    SELECT least(a, b) AS a, greatest(a, b) AS b,
           round(si::DOUBLE / (la + lb - si), 4) AS jaccard
    FROM cand WHERE round(si::DOUBLE / (la + lb - si), 4) >= 0.5
    ORDER BY a, b
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup blocking
    (dedup.sorted_neighborhood_pairs): candidates are rank-adjacent in
    the corpus sorted by a normalized-prefix key — the classic ER
    blocking discipline beside LSH / prefix-filter / pigeonhole, built
    N·window-linear with a computed global rank (per-bucket window +
    broadcast prefix-sum offsets, no single-reducer sort) and a banded
    rank equi-join. The oracle replays the identical sort, window and
    shingle Jaccard."""
    docs = _docs(spark, sf_dir)
    return dedup.sorted_neighborhood_pairs(
        docs, window=_SNM_W, threshold=0.5, key_len=_SNM_KEY
    ).orderBy("a", "b")


@query(
    "lineitem_weighted_median_price",
    """
    WITH b AS (
      SELECT l_returnflag AS flag, l_extendedprice AS v, l_quantity AS w,
             sum(l_quantity) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem)
    SELECT flag, CAST(count(*) AS BIGINT) AS n_rows,
           round(max(tw), 2) AS total_weight,
           round(min(CASE WHEN cw >= tw / 2 THEN v END), 2) AS weighted_median
    FROM b GROUP BY flag ORDER BY flag
    """,
)
def lineitem_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median price per return flag
    (profile.weighted_median): the weighted order statistic the profile
    family lacked — token-weighted quality medians in a corpus report
    use the identical plan. RANGE cumulative frame makes the pick
    set-determined under value ties; integer-valued weights keep the
    comparison exact in doubles on any engine."""
    from meteor_spark.operators.profile import weighted_median

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), "l_extendedprice", "l_quantity"
    )
    return weighted_median(li, "l_extendedprice", "l_quantity", ["flag"]).orderBy("flag")


# --------------------------------------------------------------------------
# Training-data curation wave 8: seasonal anomaly screening, embedding
# class-overlap reporting
# --------------------------------------------------------------------------


@query(
    "event_seasonality_residuals",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             extract(hour FROM ts) AS hod, count(*) AS n
      FROM events GROUP BY 1, 2, 3),
    p AS (
      SELECT event_type, hod, avg(n) AS mu, coalesce(stddev_pop(n), 0) AS sd
      FROM h GROUP BY 1, 2)
    SELECT h.event_type, CAST(h.hour AS VARCHAR) AS hour,
           CAST(h.n AS BIGINT) AS n,
           round(p.mu, 4) AS expected,
           round(CASE WHEN p.sd > 0 THEN (h.n - p.mu) / p.sd ELSE 0 END, 4) + 0.0 AS resid_z
    FROM h JOIN p USING (event_type, hod)
    ORDER BY h.event_type, h.hour
    """,
)
def event_seasonality_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly screen (drift.seasonality_residuals): each
    (type, hour) bucket scored against its own hour-of-day profile —
    the time-series leg of drift monitoring beside the distributional
    PSI gate. The profile is a tiny (type, 24) broadcast; the stream is
    aggregated exactly once."""
    ev = _t(spark, sf_dir, "events")
    return drift.seasonality_residuals(ev).orderBy("event_type", "hour")


@query(
    "label_centroid_similarity",
    """
    WITH p AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    e AS (
      SELECT label, CAST(i AS INTEGER) AS pos, v[CAST(i AS INTEGER)] AS x
      FROM p, unnest(range(1, len(v) + 1)) AS u(i)),
    d AS (
      SELECT label, pos, round(avg(x), 6) AS m FROM e GROUP BY label, pos),
    c AS (
      SELECT label, list(m ORDER BY pos) AS centroid FROM d GROUP BY label)
    SELECT a.label AS label_a, b.label AS label_b,
           round(list_dot_product(a.centroid, b.centroid) /
                 (sqrt(list_dot_product(a.centroid, a.centroid)) *
                  sqrt(list_dot_product(b.centroid, b.centroid))), 4) + 0.0 AS cos
    FROM c a JOIN c b ON a.label < b.label
    ORDER BY label_a, label_b
    """,
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-overlap report over the embedding table
    (similarity.label_centroid_similarity): pairwise cosine between
    per-label centroids. The centroid aggregation is the only pass over
    the corpus — (label, dim) partial sums with map-side combine — and
    the pair join is a broadcast self-join over the |labels|-row dim.
    Component means round before the cosine so both engines compute
    from identical centroids."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.label_centroid_similarity(emb).orderBy("label_a", "label_b")


_RECALL_ORACLE = f"""
WITH planes AS (
  SELECT b.range::INT AS b, j.range::INT AS j,
         ('0x' || substr(md5(b.range || ':' || j.range), 1, 8))::BIGINT / 2147483647.0 - 1.0 AS h
  FROM range({_SRP_BITS}) b, range(64) j),
comps AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS j,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings),
dots AS (
  SELECT c.vec_id, p.b, sum(c.x * p.h) AS d
  FROM comps c JOIN planes p USING (j) GROUP BY 1, 2),
sigs AS (
  SELECT vec_id, sum(CASE WHEN d > 0 THEN 1 << b ELSE 0 END) AS sig FROM dots GROUP BY 1),
q AS (SELECT e.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv, s.sig
      FROM embeddings e JOIN sigs s ON e.vec_id = s.vec_id WHERE e.vec_id < {_ANN_NQUERY}),
c AS (SELECT e.vec_id AS neighbor_id, CAST(e.embedding AS DOUBLE[]) AS cv, s.sig
      FROM embeddings e JOIN sigs s ON e.vec_id = s.vec_id),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.neighbor_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             round(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) DESC,
             c.neighbor_id) AS rk
    FROM q, c WHERE q.query_id <> c.neighbor_id)
  WHERE rk <= {_ANN_K}),
srp AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY
             round(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) DESC,
             neighbor_id) AS rk
    FROM q JOIN c USING (sig) WHERE query_id <> neighbor_id)
  WHERE rk <= {_ANN_K})
SELECT e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(s.neighbor_id) AS BIGINT) AS n_hit,
       round(count(s.neighbor_id) / CAST(count(*) AS DOUBLE), 4) AS recall
FROM exact e LEFT JOIN srp s
  ON e.query_id = s.query_id AND e.neighbor_id = s.neighbor_id
GROUP BY e.query_id ORDER BY e.query_id
"""


@query("ann_recall_report", _RECALL_ORACLE)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation as a first-class query: per-query
    recall@k of the SRP-LSH index against the brute-force ground truth
    — the measurement loop an ANN deployment runs after every index
    build. Both sides are deterministic (md5 hyperplane family +
    rounded ties), so even this EVALUATION is exact-oracle-gated: the
    SQL rebuilds planes, signatures, both top-k sets, and the recall
    division. Ground truth costs one brute-force pass over the query
    sample only — the corpus-side join is the same bucketed SRP join
    the production path uses."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _ANN_NQUERY)
    exact = similarity.brute_force_topk(emb, q, k=_ANN_K).select(
        "query_id", "neighbor_id"
    )
    approx = similarity.srp_topk(emb, q, dim=64, k=_ANN_K, bits=_SRP_BITS).select(
        "query_id", F.col("neighbor_id").alias("hit_id")
    )
    joined = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["hit_id"]),
        "left",
    ).select(exact["query_id"], "neighbor_id", "hit_id")
    return (
        joined.groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.count("hit_id").cast("long").alias("n_hit"),
            F.round(F.count("hit_id") / F.count("*").cast("double"), 4).alias("recall"),
        )
        .orderBy("query_id")
    )


def _matryoshka_oracle_sql(dims=(8, 16, 32, 64), k=5, nq=5) -> str:
    """Per-width brute-force replay: exact top-k on full vectors, then
    top-k on each [1:d] prefix slice (same rounded-cosine/neighbor_id
    tie discipline as brute_force_topk), joined into per-width hit
    counts with exact integer recall_ppm."""

    def topk(d: str | int, alias_dim: int) -> str:
        sl = "" if d == "full" else f"[1:{d}]"
        den = (
            f"(sqrt(list_dot_product(qv{sl}, qv{sl})) * "
            f"sqrt(list_dot_product(cv{sl}, cv{sl})))"
        )
        # zero-norm prefix -> cosine 0 (orthogonal), mirroring
        # dim_truncation_recall's ANSI-safe guard
        return f"""
SELECT {alias_dim} AS trunc_dim, query_id, neighbor_id FROM (
  SELECT q.query_id, c.neighbor_id,
         row_number() OVER (PARTITION BY q.query_id ORDER BY
           round(CASE WHEN {den} = 0 THEN 0.0
                 ELSE list_dot_product(qv{sl}, cv{sl}) / {den} END, 4) DESC,
           c.neighbor_id) AS rk
  FROM q, c WHERE q.query_id <> c.neighbor_id) WHERE rk <= {k}"""

    per_d = "\nUNION ALL ".join(topk(d, d) for d in dims)
    return f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < {nq}),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
exact AS MATERIALIZED ({topk("full", 0)}),
fan AS (SELECT e.query_id, e.neighbor_id, d.trunc_dim
        FROM exact e CROSS JOIN (SELECT unnest([{", ".join(map(str, dims))}]) AS trunc_dim) d),
tr AS MATERIALIZED ({per_d})
SELECT CAST(f.trunc_dim AS INTEGER) AS trunc_dim,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(t.neighbor_id) AS BIGINT) AS n_hits,
       CAST(CAST(count(t.neighbor_id) AS BIGINT) * 1000000
            // CAST(count(*) AS BIGINT) AS BIGINT) AS recall_ppm
FROM fan f LEFT JOIN tr t
  ON f.trunc_dim = t.trunc_dim AND f.query_id = t.query_id
 AND f.neighbor_id = t.neighbor_id
GROUP BY f.trunc_dim ORDER BY trunc_dim"""


@query("matryoshka_recall_curve", _matryoshka_oracle_sql(k=_ANN_K, nq=_ANN_NQUERY))
def matryoshka_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation recall curve
    (similarity.dim_truncation_recall): recall@k of prefix-truncated
    cosine search vs full-dimension ground truth, one row per width —
    the measurement behind Matryoshka-style embedding compression ("how
    few leading dims can the first-stage index keep?"). Truncated scans
    cost d/D of the bytes at 100 TB; the corpus is scanned once, never
    shuffled, queries broadcast. Deterministic ties (rounded cosine,
    neighbor_id) make even this eval exact-oracle-gated, recall_ppm is
    integer DIV — bit-stable by construction."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _ANN_NQUERY)
    return similarity.dim_truncation_recall(emb, q, k=_ANN_K)


# --------------------------------------------------------------------------
# Catalog profiling wave: dependency discovery (the metadata layer a
# catalog infers above per-column stats — reference profile family)
# --------------------------------------------------------------------------

_FD_COLS = ["n_nationkey", "n_name", "n_regionkey"]


def _fd_oracle() -> str:
    rows = []
    for a in _FD_COLS:
        for b in _FD_COLS:
            if a != b:
                rows.append(f"""
    SELECT '{a}' AS det, '{b}' AS dep,
           (SELECT count(DISTINCT {a}) FROM nation) AS n_det,
           (SELECT count(*) FROM (
              SELECT DISTINCT {a}, {b} FROM nation WHERE {a} IS NOT NULL)) AS n_pairs""")
    union = " UNION ALL ".join(rows)
    return f"""
    SELECT det, dep, CAST(n_det AS BIGINT) AS n_det,
           CAST(n_pairs AS BIGINT) AS n_pairs, n_det = n_pairs AS holds
    FROM ({union}) ORDER BY det, dep
    """


@query("nation_functional_dependencies", _fd_oracle())
def nation_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-table functional-dependency discovery
    (profile.functional_dependencies) on the nation dim: a → b holds
    iff n_distinct(a) == n_distinct(a,b); recovers the key
    (n_nationkey → everything, n_name → everything) and rejects
    n_regionkey as a determinant. All pair checks ride one wide
    aggregate over one scan."""
    from meteor_spark.operators.profile import functional_dependencies

    nat = _t(spark, sf_dir, "nation")
    return functional_dependencies(nat, _FD_COLS).orderBy("det", "dep")


_RI_EDGES = [
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
]


def _ri_oracle() -> str:
    rows = []
    for ct, cc, pt, pc in _RI_EDGES:
        rows.append(f"""
    SELECT '{ct}.{cc}' AS child, '{pt}.{pc}' AS parent,
           (SELECT count(DISTINCT {cc}) FROM {ct} WHERE {cc} IS NOT NULL) AS n_child_values,
           (SELECT count(*) FROM (SELECT DISTINCT {cc} AS v FROM {ct} WHERE {cc} IS NOT NULL)
            WHERE v NOT IN (SELECT {pc} FROM {pt} WHERE {pc} IS NOT NULL)) AS violations""")
    union = " UNION ALL ".join(rows)
    return f"""
    SELECT child, parent, CAST(n_child_values AS BIGINT) AS n_child_values,
           CAST(violations AS BIGINT) AS violations, violations = 0 AS holds
    FROM ({union}) ORDER BY child, parent
    """


@query("referential_integrity_report", _ri_oracle())
def referential_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table inclusion-dependency report
    (profile.inclusion_dependency): every TPC-H foreign-key edge
    checked as distinct-child ⊆ parent via key-sized anti-joins — the
    FK-validation layer of catalog profiling. One row per edge with
    the violation count; a clean warehouse shows holds=true on every
    edge, and the gate would surface any fixture corruption as a
    value diff."""
    from meteor_spark.operators.profile import inclusion_dependency

    out = None
    for ct, cc, pt, pc in _RI_EDGES:
        row = inclusion_dependency(
            _t(spark, sf_dir, ct), cc, _t(spark, sf_dir, pt), pc
        ).select(
            F.lit(f"{ct}.{cc}").alias("child"),
            F.lit(f"{pt}.{pc}").alias("parent"),
            "n_child_values",
            "violations",
            "holds",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("child", "parent")


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_oracle() -> str:
    rows = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            rows.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, round(corr({a}, {b}), 4) + 0.0 AS pearson FROM lineitem"
            )
    return " UNION ALL ".join(rows) + " ORDER BY col_a, col_b"


@query("lineitem_numeric_correlations", _corr_oracle())
def lineitem_numeric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over the numeric measure columns —
    the column-correlation layer of catalog statistics (feeds optimizer
    selectivity models and redundant-measure detection). All pairs ride
    one wide aggregate over one scan; price/quantity correlate by
    construction, discount/tax do not."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    pairs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            aggs.append((F.round(F.corr(a, b), 4) + F.lit(0.0)).alias(f"__c_{a}_{b}"))
            pairs.append((a, b))
    wide = li.agg(*aggs)
    structs = [
        F.struct(
            F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
            F.col(f"__c_{a}_{b}").alias("pearson"),
        )
        for a, b in pairs
    ]
    return (
        wide.select(F.explode(F.array(*structs)).alias("c"))
        .select("c.*")
        .orderBy("col_a", "col_b")
    )


@query(
    "join_cardinality_estimate",
    """
    WITH s AS (
      SELECT (SELECT count(*) FROM orders) AS n_o,
             (SELECT count(*) FROM lineitem) AS n_l,
             (SELECT count(DISTINCT o_orderkey) FROM orders) AS d_o,
             (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS d_l,
             (SELECT count(*) FROM orders JOIN lineitem ON o_orderkey = l_orderkey) AS actual)
    SELECT CAST(n_o AS BIGINT) AS n_orders, CAST(n_l AS BIGINT) AS n_lineitem,
           CAST(d_o AS BIGINT) AS d_orders, CAST(d_l AS BIGINT) AS d_lineitem,
           CAST(n_o * n_l / greatest(d_o, d_l) AS BIGINT) AS estimated_rows,
           CAST(actual AS BIGINT) AS actual_rows,
           round(CAST(n_o * n_l / greatest(d_o, d_l) AS DOUBLE) / actual, 4) AS est_over_actual
    FROM s
    """,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-statistics validation: the textbook equi-join
    cardinality estimate |R|·|S| / max(d_R, d_S) next to the ACTUAL
    join count for orders ⋈ lineitem — the accuracy report a catalog
    publishes with its table stats (reference profile family feeds
    exactly these estimators). All inputs are single-pass aggregates;
    the actual count is the real key-partitioned join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    stats = (
        o.agg(
            F.count("*").alias("n_orders"),
            F.count_distinct("o_orderkey").alias("d_orders"),
        )
        .crossJoin(
            F.broadcast(
                li.agg(
                    F.count("*").alias("n_lineitem"),
                    F.count_distinct("l_orderkey").alias("d_lineitem"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                o.join(li, o["o_orderkey"] == li["l_orderkey"]).agg(
                    F.count("*").alias("actual_rows")
                )
            )
        )
    )
    est = (
        F.col("n_orders") * F.col("n_lineitem")
        / F.greatest(F.col("d_orders"), F.col("d_lineitem"))
    )
    return stats.select(
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("n_lineitem").cast("long").alias("n_lineitem"),
        F.col("d_orders").cast("long").alias("d_orders"),
        F.col("d_lineitem").cast("long").alias("d_lineitem"),
        est.cast("long").alias("estimated_rows"),
        F.col("actual_rows").cast("long").alias("actual_rows"),
        F.round(est.cast("double") / F.col("actual_rows"), 4).alias("est_over_actual"),
    )


@query(
    "user_path_trigrams",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS n1,
             lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS n2
      FROM events),
    p AS (
      SELECT event_type || '>' || n1 || '>' || n2 AS path, count(*) AS n
      FROM s WHERE n1 IS NOT NULL AND n2 IS NOT NULL GROUP BY 1)
    SELECT path, CAST(n AS BIGINT) AS n FROM p
    ORDER BY n DESC, path LIMIT 15
    """,
)
def user_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining: the top 3-step behavioral paths across
    per-user event sequences — the higher-order extension of
    event_transition_matrix (funnel DISCOVERY, where the funnel gates
    test a known path). Two lead() offsets on the one shared user-keyed
    window partitioning; top-k is TakeOrdered."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("n1"),
        F.lead("event_type", 2).over(w).alias("n2"),
    ).filter(F.col("n1").isNotNull() & F.col("n2").isNotNull())
    return (
        s.select(
            F.concat_ws(">", "event_type", "n1", "n2").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(15)
    )


_VC_KS = (5, 10, 20, 50)


@query(
    "vocab_coverage_curve",
    f"""
    WITH w AS (
      SELECT unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS w FROM documents),
    c AS (SELECT w, count(*) AS c FROM w GROUP BY w),
    r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk,
                 sum(c) OVER (ORDER BY c DESC, w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum(c) OVER () AS total
          FROM c),
    k AS (SELECT unnest([{", ".join(str(k) for k in _VC_KS)}]) AS top_k)
    SELECT CAST(top_k AS INTEGER) AS top_k,
           CAST(max(CASE WHEN rk <= top_k THEN cum END) AS BIGINT) AS tokens_covered,
           round(max(CASE WHEN rk <= top_k THEN cum END) / CAST(max(total) AS DOUBLE), 4) AS coverage
    FROM r, k GROUP BY top_k ORDER BY top_k
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-budget planning: share of corpus tokens covered by
    the top-k most frequent words, at several k — the coverage curve a
    tokenizer-size decision reads (pairs with corpus_zipf_fit, which
    fits the law this curve integrates). Rank+cumsum windows run over
    the VOCABULARY (post-aggregation), never the corpus; the k fan-out
    is a constant-width cross of the tiny k dim."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(F.explode(text.words(text.normalize_text(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    wr = Window.orderBy(F.col("c").desc(), "w")
    ranked = counts.select(
        F.row_number().over(wr).alias("rk"),
        F.sum("c").over(wr.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
    )
    ks = ranked.select(
        "rk", "cum", "total",
        F.explode(F.array(*[F.lit(k) for k in _VC_KS])).alias("top_k"),
    )
    return (
        ks.groupBy("top_k")
        .agg(
            F.max(F.when(F.col("rk") <= F.col("top_k"), F.col("cum")))
            .cast("long")
            .alias("tokens_covered"),
            F.round(
                F.max(F.when(F.col("rk") <= F.col("top_k"), F.col("cum")))
                / F.max("total").cast("double"),
                4,
            ).alias("coverage"),
        )
        .orderBy("top_k")
    )


@query(
    "lineitem_weighted_percentiles",
    """
    WITH b AS (
      SELECT l_returnflag AS flag, l_extendedprice AS v,
             sum(l_quantity) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem)
    SELECT flag, CAST(count(*) AS BIGINT) AS n_rows,
           round(max(tw), 2) AS total_weight,
           round(min(CASE WHEN cw >= 0.25 * tw THEN v END), 2) AS wp25,
           round(min(CASE WHEN cw >= 0.5 * tw THEN v END), 2) AS wp50,
           round(min(CASE WHEN cw >= 0.75 * tw THEN v END), 2) AS wp75,
           round(min(CASE WHEN cw >= 0.95 * tw THEN v END), 2) AS wp95
    FROM b GROUP BY flag ORDER BY flag
    """,
)
def lineitem_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted percentile band per return flag
    (profile.weighted_percentiles): one cumulative-weight window feeds
    every quantile read-off — the multi-q generalization of the
    weighted-median gate."""
    from meteor_spark.operators.profile import weighted_percentiles

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), "l_extendedprice", "l_quantity"
    )
    return weighted_percentiles(
        li, "l_extendedprice", "l_quantity", ["flag"]
    ).orderBy("flag")


@query(
    "event_hourly_autocorr",
    """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
      FROM events GROUP BY 1, 2),
    l AS (
      SELECT event_type, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY hour) AS prev
      FROM h)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
           round(corr(n, prev), 4) + 0.0 AS lag1_autocorr
    FROM l WHERE prev IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def event_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal structure probe (drift.hourly_autocorrelation): lag-1
    autocorrelation of each type's hourly count series — burstiness vs
    memoryless arrivals, beside seasonality_residuals' level
    anomalies. The lag window runs over hours, not events."""
    ev = _t(spark, sf_dir, "events")
    return drift.hourly_autocorrelation(ev).orderBy("event_type")


@query(
    "source_token_gini",
    f"""
    WITH tk AS (
      SELECT source, doc_id,
             CAST(len(regexp_split_to_array({_NORM_SQL}, ' ')) AS DOUBLE) AS x
      FROM documents),
    r AS (
      SELECT source, x,
             row_number() OVER (PARTITION BY source ORDER BY x, doc_id) AS i
      FROM tk)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(x) AS BIGINT) AS n_tokens,
           round(2.0 * sum(i * x) / (count(*) * sum(x))
                 - (count(*) + 1) / CAST(count(*) AS DOUBLE), 4) AS gini
    FROM r GROUP BY source ORDER BY source
    """,
)
def source_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass inequality per source (text.token_gini_by_group):
    Gini over per-doc token counts — a source can show healthy
    diversity ratios while three giant documents carry its mass; this
    is the report that catches it. Per-group rank windows only."""
    docs = _docs(spark, sf_dir)
    return text.token_gini_by_group(docs, "source").orderBy("source")


# LSH quality evaluation: ground truth = the lossless prefix-filter
# pairs (exact all Jaccard >= 0.5), detected = the banded minhash pairs
# at the same threshold/shingles. Verification makes precision 1.0 by
# construction; recall < 1 exactly when the banding missed a true pair
# — which is the number an LSH deployment tunes bands/hashes against.
_LSH_EVAL_ORACLE = f"""
WITH truth AS ({ORACLES["prefix_filter_jaccard_pairs"]}),
det AS ({ORACLES["minhash_near_duplicates"]})
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM det) AS BIGINT) AS n_detected,
       CAST((SELECT count(*) FROM truth t SEMI JOIN det d ON t.a = d.a AND t.b = d.b) AS BIGINT) AS n_hit,
       round((SELECT count(*) FROM truth t SEMI JOIN det d ON t.a = d.a AND t.b = d.b)
             / CAST(greatest((SELECT count(*) FROM truth), 1) AS DOUBLE), 4) AS recall,
       round((SELECT count(*) FROM truth t SEMI JOIN det d ON t.a = d.a AND t.b = d.b)
             / CAST(greatest((SELECT count(*) FROM det), 1) AS DOUBLE), 4) AS precision
"""


@query("minhash_eval_report", _LSH_EVAL_ORACLE)
def minhash_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality evaluation as a first-class exact-gated query (the
    dedup twin of ann_recall_report): banded-minhash detections scored
    against the lossless prefix-filter ground truth at the same
    threshold and shingles. Exact-Jaccard verification pins precision
    at 1.0; recall is the band/hash tuning signal. Both inputs already
    carry their own oracles, so this gate composes them — evaluation
    itself is value-checked. Ground truth rides the BLOCKED posting
    join (dedup.exact_jaccard_pairs_blocked, pinned bit-equal to the
    prefix-filter pairs in tests/test_dedup.py): the prefix join's
    candidate set explodes clone-quadratically at 100x (4.84B raw
    matches, 2B+ distinct candidates — measured fatal on disk twice),
    while the blocked join is output-linear with broadcast postings."""
    # persisted: read twice, by its count and by the semi join
    truth = persist(
        dedup.exact_jaccard_pairs_blocked(_docs(spark, sf_dir), threshold=0.5)
    ).select("a", "b")
    det = _minhash_pairs(spark, sf_dir).select("a", "b")
    hit = truth.join(det, ["a", "b"], "left_semi")
    return (
        truth.agg(F.count("*").alias("n_true"))
        .crossJoin(F.broadcast(det.agg(F.count("*").alias("n_detected"))))
        .crossJoin(F.broadcast(hit.agg(F.count("*").alias("n_hit"))))
        .select(
            F.col("n_true").cast("long").alias("n_true"),
            F.col("n_detected").cast("long").alias("n_detected"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.round(
                F.col("n_hit") / F.greatest(F.col("n_true"), F.lit(1)).cast("double"), 4
            ).alias("recall"),
            F.round(
                F.col("n_hit") / F.greatest(F.col("n_detected"), F.lit(1)).cast("double"), 4
            ).alias("precision"),
        )
    )


_SPLIT_SQL = """
  SELECT doc_id,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < 9000 THEN 'train'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < 9500 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
"""

_LEAK_ORACLE = f"""
WITH pairs AS ({ORACLES["minhash_near_duplicates"]}),
sp AS ({_SPLIT_SQL})
SELECT p.a, p.b, sa.split AS split_a, sb.split AS split_b, p.jaccard
FROM pairs p
JOIN sp sa ON sa.doc_id = p.a
JOIN sp sb ON sb.doc_id = p.b
WHERE sa.split <> sb.split
ORDER BY p.a, p.b
"""


@query("split_leakage_report", _LEAK_ORACLE)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit: near-duplicate pairs that CROSS the
    holdout boundary — a doc in train with its near-copy in val/test
    silently inflates eval scores even after within-split dedup. The
    production decontamination check composes two already-gated
    pipelines (banded minhash pairs + the deterministic md5 holdout),
    and the oracle nests both of their oracle SQLs, so the audit itself
    is value-checked. The split frame is a pure per-row expression, so
    the only real cost is the pair pipeline."""
    from meteor_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    split = sampling.holdout_split(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")
    pairs = _minhash_pairs(spark, sf_dir)
    return (
        pairs.join(
            split.select(F.col("doc_id").alias("a"), F.col("split").alias("split_a")), "a"
        )
        .join(
            split.select(F.col("doc_id").alias("b"), F.col("split").alias("split_b")), "b"
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("a", "b", "split_a", "split_b", "jaccard")
        .orderBy("a", "b")
    )


@query(
    "event_value_winsorized_stats",
    """
    WITH q AS (
      SELECT event_type,
             floor(percentile_cont(0.05) WITHIN GROUP (ORDER BY value)
                   * 1e4 + 0.5) / 1e4 AS lo,
             floor(percentile_cont(0.95) WITHIN GROUP (ORDER BY value)
                   * 1e4 + 0.5) / 1e4 AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
           round(avg(e.value), 4) + 0.0 AS mean_raw,
           round(avg(greatest(least(e.value, q.hi), q.lo)), 4) + 0.0 AS mean_winsorized,
           CAST(sum(CASE WHEN e.value < q.lo OR e.value > q.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def event_value_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per key: means before/after clipping
    to the [p5, p95] band — the standard heavy-tail treatment before a
    value column feeds drift thresholds or reward models (complements
    the median/MAD outlier gate).

    The clip bounds are the interpolated percentiles ROUNDED bit-stably
    to 4 decimals before any comparison. Caught by the first 10x strict
    sweep (r6): duplicated values put IDENTICAL neighbors at the
    percentile index, where Spark's `a + f*(b-a)` returns a exactly but
    the two-product `a*(1-f) + a*f` form can land an ulp off — every
    copy of the boundary value then flips n_clipped (50 rows at 10x).
    A 4-decimal-rounded bound is one identical floor on both engines,
    and a data value colliding with the ROUNDED bound to the last ulp
    is no longer tied to the interpolation formula."""
    ev = _t(spark, sf_dir, "events")
    stable = lambda c: F.floor(c * 1e4 + F.lit(0.5)) / 1e4  # noqa: E731
    q = ev.groupBy("event_type").agg(
        stable(F.percentile("value", F.lit(0.05))).alias("lo"),
        stable(F.percentile("value", F.lit(0.95))).alias("hi"),
    )
    clipped = F.greatest(F.least(F.col("value"), F.col("hi")), F.col("lo"))
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            (F.round(F.avg("value"), 4) + F.lit(0.0)).alias("mean_raw"),
            (F.round(F.avg(clipped), 4) + F.lit(0.0)).alias("mean_winsorized"),
            F.sum(
                ((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))).cast("long")
            ).alias("n_clipped"),
        )
        .orderBy("event_type")
    )


_DEDUP_RATE_ORACLE = f"""
WITH surv AS ({_CLUSTER_SURVIVOR_ORACLE})
SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(s.doc_id) AS BIGINT) AS n_survivors,
       round(1 - count(s.doc_id) / CAST(count(*) AS DOUBLE), 4) AS dedup_rate
FROM documents d LEFT JOIN surv s ON s.doc_id = d.doc_id
GROUP BY d.source ORDER BY d.source
"""


@query("dedup_rate_by_source", _DEDUP_RATE_ORACLE)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: per-source removal rate of the full fuzzy
    pipeline (LSH pairs → connected components → min-id survivors) —
    the per-domain duplication report a crawl-quality dashboard leads
    with; a source shedding 30% near-dups needs upstream attention, not
    more filtering. Composes the already-gated survivor pipeline with
    one source-keyed left join; the oracle nests the survivors oracle."""
    docs = _t(spark, sf_dir, "documents")
    surv = near_dup_cluster_survivors(spark, sf_dir)
    return (
        docs.select("source", "doc_id")
        .join(surv.withColumn("__s", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count("__s").cast("long").alias("n_survivors"),
            F.round(1 - F.count("__s") / F.count("*").cast("double"), 4).alias("dedup_rate"),
        )
        .orderBy("source")
    )


_AGREE_ORACLE = f"""
WITH nd AS (SELECT doc_id, regexp_split_to_array({_NORM_SQL}, ' ') AS ws FROM documents),
tok AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM nd),
tf AS (SELECT doc_id, dl, w, count(*) AS tf FROM tok
       WHERE w IN ('spark', 'window', 'hash') GROUP BY doc_id, dl, w),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(ws)) AS avgdl FROM nd),
dfq AS (SELECT w, CAST(count(*) AS DOUBLE) AS dft FROM tf GROUP BY w),
bm AS (SELECT tf.doc_id,
              round(sum(ln(1 + (n_docs - dft + 0.5) / (dft + 0.5))
                        * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS bm25
       FROM tf JOIN dfq USING (w) CROSS JOIN stats GROUP BY tf.doc_id),
lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex FROM bm
        QUALIFY r_lex <= {_RRF_L}),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
vec AS (SELECT vec_id AS doc_id,
               row_number() OVER (
                 ORDER BY round(list_dot_product(qv, cv)
                                / (sqrt(list_dot_product(qv, qv))
                                   * sqrt(list_dot_product(cv, cv))), 4) DESC,
                          vec_id) AS r_vec
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
              WHERE vec_id <> 0) CROSS JOIN q
        QUALIFY r_vec <= {_RRF_L})
SELECT CAST(count(*) AS BIGINT) AS n_shared,
       round(corr(r_lex, r_vec), 4) + 0.0 AS rank_corr
FROM lex JOIN vec USING (doc_id)
"""


@query("retrieval_rank_agreement", _AGREE_ORACLE)
def retrieval_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the lexical and vector rankers agree? Spearman-style rank
    correlation over the docs BOTH place in their top-L — the
    diagnostic read before trusting RRF fusion (near-zero agreement
    means the rankers see different relevance; fusion is then union,
    not consensus). Reuses the two ranking arms of hybrid_search_rrf
    (same BM25 parameters and query vector) and correlates the
    integer ranks of the intersection."""
    from pyspark.sql import Window

    from meteor_spark.operators.retrieval import bm25_topk
    from meteor_spark.operators.similarity import brute_force_topk

    docs = _docs(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, _BM25_TERMS, k=_RRF_L).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
        .alias("r_lex"),
    )
    vec = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=_RRF_L).select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("r_vec"),
    )
    return lex.join(vec, "doc_id").agg(
        F.count("*").cast("long").alias("n_shared"),
        (F.round(F.corr("r_lex", "r_vec"), 4) + F.lit(0.0)).alias("rank_corr"),
    )


_FOOTER_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _footer_oracle() -> str:
    rows = []
    for c in _FOOTER_COLS:
        # + 0.0 folds IEEE negative zero to +0.0: parquet footer stats
        # order -0.0 < 0.0 so the footer min can be -0.0 where a scan's
        # min() returns +0.0 — equal under ==, different under repr/hash
        rows.append(f"""
    SELECT '{c}' AS column, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min({c}) AS DOUBLE) + 0.0 AS min_value,
           CAST(max({c}) AS DOUBLE) + 0.0 AS max_value,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count
    FROM lineitem""")
    return " UNION ALL ".join(rows) + ' ORDER BY "column"'


@query("lineitem_footer_stats", _footer_oracle())
def lineitem_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-free profiling (profile.footer_stats): min/max/null-count
    per measure column read from parquet FOOTER statistics only — zero
    data pages touched. The gate proves footer stats equal the real
    data (the oracle computes the same numbers by actually scanning),
    which is exactly the trust a catalog needs before publishing
    footer-derived profiles or relying on row-group pruning at
    100 TB."""
    from meteor_spark.operators.profile import footer_stats

    return (
        footer_stats(spark, f"{sf_dir}/lineitem.parquet", _FOOTER_COLS)
        # footer min/max can carry IEEE -0.0 (parquet stats total-order
        # -0.0 below +0.0); fold to +0.0 so the published value hashes
        # identically to the oracle's scan-side min()
        .withColumn("min_value", F.col("min_value") + F.lit(0.0))
        .withColumn("max_value", F.col("max_value") + F.lit(0.0))
        .orderBy("column")
    )


_SCENE_TAU = 2.0


@query(
    "video_scene_segments",
    f"""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE length(text) >= 64),
    fr AS (
      SELECT doc_id, unnest(range(0, length(text) // 64)) AS f, text FROM d),
    lu AS (
      SELECT doc_id, f,
             list_avg(list_transform(range(1, 65),
               i -> CAST(ascii(substr(text, CAST(f * 64 + i AS INT), 1)) AS DOUBLE))) AS luma
      FROM fr),
    cuts AS (
      SELECT doc_id, f,
             CASE WHEN abs(luma - lag(luma) OVER (PARTITION BY doc_id ORDER BY f)) > {_SCENE_TAU}
                  THEN 1 ELSE 0 END AS cut
      FROM lu),
    sc AS (
      SELECT doc_id, f,
             sum(cut) OVER (PARTITION BY doc_id ORDER BY f) AS scene_no
      FROM cuts)
    SELECT doc_id, CAST(scene_no AS BIGINT) AS scene_no,
           min(f) AS start_frame, max(f) AS end_frame,
           CAST(count(*) AS BIGINT) AS n_frames
    FROM sc GROUP BY doc_id, scene_no
    """,
)
def video_scene_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut segmentation (multimodal.frame_lumas +
    scene_segments): binary blobs -> per-frame mean-byte luma proxy via
    Arrow-batched mapInPandas (stubbed codec, same contract as the
    audio decode), boundaries where the frame-to-frame jump exceeds τ,
    cumulative-count scene ids, gap-free segments. Lumas are exact
    64ths in double, so the oracle replays framing, boundaries, and
    scene numbering over the same bytes digit-for-digit."""
    from meteor_spark.operators import multimodal

    docs = _docs(spark, sf_dir)
    media = multimodal.attach_binary(docs)
    lumas = multimodal.frame_lumas(media, frame_len=64)
    return multimodal.scene_segments(lumas, threshold=_SCENE_TAU)


_AHASH_HAM_T = 2


@query(
    "image_ahash_pairs",
    f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 128),
    tiles AS (SELECT doc_id, unnest(range(0, 32)) AS t, text FROM d),
    tm AS (
      SELECT doc_id, t,
             list_avg(list_transform(range(1, 5),
               i -> CAST(ascii(substr(text, CAST(t * 4 + i AS INT), 1)) AS DOUBLE))) AS m
      FROM tiles),
    gm AS (SELECT doc_id, avg(m) AS g FROM tm GROUP BY doc_id),
    ah0 AS (
      SELECT tm.doc_id,
             CAST(sum(CASE WHEN tm.m > gm.g THEN 1 << t ELSE 0 END) AS BIGINT) AS ahash
      FROM tm JOIN gm USING (doc_id) GROUP BY tm.doc_id),
    ah AS (SELECT * FROM ah0
           WHERE bit_count(ahash) > 0 AND bit_count(ahash) < 32)
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
    FROM ah a JOIN ah b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ahash, b.ahash)) <= {_AHASH_HAM_T}
    ORDER BY a, b
    """,
)
def image_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual-hash near-dup pairs (multimodal.image_ahash +
    the simhash pigeonhole machinery): 16-tile average-hash over the
    stubbed pixel grid, then EXACT Hamming <= {t} pairs via disjoint
    chunk blocking (dedup.simhash_hamming_pairs reused on the 32-bit
    sketch) — completing the modality dedup set (text shingles, audio
    silence, video scenes, image phash). Tile means are exact quarters,
    so the oracle rebuilds the identical hashes and pair set. 32 bits,
    not 16: Hamming-ball collisions in a w-bit space grow ~N²·|ball|/2^w,
    so hash width must scale with corpus size (a 16-bit variant measured
    57x at a 10x scale-up purely from birthday collisions; a production
    image pipeline uses 64 bits over an 8x8 resized grid)."""
    from meteor_spark.operators import multimodal

    docs = _docs(spark, sf_dir)
    media = multimodal.attach_binary(docs)
    ah = multimodal.image_ahash(media, tile_len=4, n_tiles=32).withColumnRenamed(
        "ahash", "simhash"
    )
    return dedup.simhash_hamming_pairs(
        ah, threshold=_AHASH_HAM_T, bits=32
    ).orderBy("a", "b")


_CHI2_CRIT = 5.991  # chi-square df=2, alpha=0.05


@query(
    "split_balance_chi2",
    f"""
    WITH b AS (
      SELECT source,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < 9000 THEN 'train'
                  WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < 9500 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    c AS (SELECT source, split, count(*) AS n FROM b GROUP BY 1, 2),
    t AS (SELECT source, sum(n) AS tot FROM c GROUP BY source),
    grid AS (
      SELECT t.source, t.tot, s.split
      FROM t, (SELECT unnest(['train', 'val', 'test']) AS split) s),
    e AS (
      SELECT g.source, coalesce(c.n, 0) AS n,
             g.tot * CASE g.split WHEN 'train' THEN 0.9 WHEN 'val' THEN 0.05 ELSE 0.05 END AS exp
      FROM grid g LEFT JOIN c ON c.source = g.source AND c.split = g.split)
    SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
           round(sum((n - exp) * (n - exp) / exp), 4) AS chi2,
           sum((n - exp) * (n - exp) / exp) < {_CHI2_CRIT} AS balanced
    FROM e GROUP BY source ORDER BY source
    """,
)
def split_balance_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of the holdout split per source: are
    each source's train/val/test counts consistent with the 90/5/5
    target (df=2, alpha=0.05)? The statistical-test leg of split
    hygiene beside the leakage audit — a source failing this check has
    a doc_id distribution that interacts with the hash bucketing (in
    practice: it doesn't, and the gate proves it). Every source is
    crossed with the full literal {train, val, test} set and missing
    splits coalesce to observed 0, so a source with an entirely absent
    split contributes that split's full expectation to chi2 (the
    pre-round-4 version summed only observed rows and would understate
    chi2 for such a source); the grid is an explode of a 3-literal
    array — no join — and the observed counts left-join onto it."""
    from meteor_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    split = sampling.holdout_split(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    c = split.groupBy("source", "split").agg(F.count("*").alias("n"))
    t = c.groupBy("source").agg(F.sum("n").alias("tot"))
    grid = t.select(
        "source",
        "tot",
        F.explode(F.array(F.lit("train"), F.lit("val"), F.lit("test"))).alias("split"),
    )
    exp = (
        F.col("tot")
        * F.when(F.col("split") == "train", 0.9)
        .when(F.col("split") == "val", 0.05)
        .otherwise(0.05)
    )
    chi = (F.col("n") - exp) * (F.col("n") - exp) / exp
    return (
        grid.join(c, ["source", "split"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
        .select("source", "n", chi.alias("x"))
        .groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.round(F.sum("x"), 4).alias("chi2"),
            (F.sum("x") < _CHI2_CRIT).alias("balanced"),
        )
        .orderBy("source")
    )


@query(
    "event_type_lift_matrix",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_users FROM ut),
    m AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY event_type),
    co AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
      FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT co.type_a, co.type_b, CAST(co.n_both AS BIGINT) AS n_both,
           round(co.n_both / n.n_users, 4) AS support,
           round((co.n_both / n.n_users) /
                 ((ma.n_t / n.n_users) * (mb.n_t / n.n_users)), 4) AS lift
    FROM co
    JOIN m ma ON ma.event_type = co.type_a
    JOIN m mb ON mb.event_type = co.type_b, n
    ORDER BY type_a, type_b
    """,
)
def event_type_lift_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule statistics over the per-user event-type sets:
    support and lift for every type pair — lift > 1 means the pair
    co-occurs in the same users more than independence predicts (the
    market-basket view of the same co-usage mining that feeds the
    pagerank/triangle graph, reference stats.go). One distinct
    projection feeds the pair join, the per-type margins, and the user
    count; margins broadcast back over the |types|² matrix."""
    ut = _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    n_users = ut.groupBy().agg(
        F.count_distinct("user_id").cast("double").alias("n_users")
    )
    m = ut.groupBy("event_type").agg(F.count("*").alias("n_t"))
    co = usage.co_usage_pairs(ut).select(
        F.col("a").alias("type_a"), F.col("b").alias("type_b"), F.col("n").alias("n_both")
    )
    return (
        co.join(
            F.broadcast(m.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("na"))),
            "type_a",
        )
        .join(
            F.broadcast(m.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("nb"))),
            "type_b",
        )
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.round(F.col("n_both") / F.col("n_users"), 4).alias("support"),
            F.round(
                (F.col("n_both") / F.col("n_users"))
                / ((F.col("na") / F.col("n_users")) * (F.col("nb") / F.col("n_users"))),
                4,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "event_transition_entropy",
    """
    WITH s AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events),
    p AS (SELECT event_type AS src_type, nxt AS dst_type, count(*) AS n
          FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2)
    SELECT src_type,
           CAST(sum(n) AS BIGINT) AS n_transitions,
           CAST(count(*) AS BIGINT) AS n_destinations,
           round(log2(CAST(sum(n) AS DOUBLE))
                 - sum(n * log2(CAST(n AS DOUBLE))) / CAST(sum(n) AS DOUBLE),
                 4) AS next_entropy_bits
    FROM p GROUP BY src_type ORDER BY src_type
    """,
)
def event_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral predictability: conditional entropy H(next | current)
    per event type, read off the same transition counts the matrix gate
    builds (one lead() window) — 0 bits means the next action is fully
    determined, log2(|types|) means anything goes. Same one-groupBy
    entropy identity as char_entropy_quality: H = log2(n) − Σc·log2(c)/n
    over the per-destination counts."""
    ev = _t(spark, sf_dir, "events")
    # the SAME pair pipeline the matrix gate aggregates — shared via
    # usage.transition_counts so the two gates cannot drift apart
    pairs = usage.transition_counts(ev)
    tot = F.sum("n").cast("double")
    return (
        pairs.groupBy("src_type")
        .agg(
            F.sum("n").cast("long").alias("n_transitions"),
            F.count("*").cast("long").alias("n_destinations"),
            F.round(
                F.log2(tot) - F.sum(F.col("n") * F.log2("n")) / tot, 4
            ).alias("next_entropy_bits"),
        )
        .orderBy("src_type")
    )


@query(
    "user_activity_gini",
    """
    WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
    r AS (SELECT c, row_number() OVER (ORDER BY c, user_id) AS i FROM c)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(c) AS BIGINT) AS n_events,
           round(2.0 * sum(i * c) / (count(*) * sum(c))
                 - (count(*) + 1) / CAST(count(*) AS DOUBLE), 4) AS gini
    FROM r
    """,
)
def user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement inequality (usage.activity_gini): Gini over per-user
    event counts with the global rank COMPUTED — the count value is its
    own range-partition key, so rank = prefix-sum offset of smaller
    counts + in-group row_number, and the only global window runs over
    the distinct-count dim. The oracle uses the naive global
    row_number; both orderings agree because ties contribute
    identically to Σ i·c."""
    ev = _t(spark, sf_dir, "events")
    return usage.activity_gini(ev)


@query(
    "language_confidence_report",
    f"""
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS lws
      FROM documents),
    sc AS (
      SELECT doc_id,
             len(list_filter(lws, w -> list_contains({_SW_SQL['en']}, w))) AS s_en,
             len(list_filter(lws, w -> list_contains({_SW_SQL['de']}, w))) AS s_de,
             len(list_filter(lws, w -> list_contains({_SW_SQL['fr']}, w))) AS s_fr,
             len(list_filter(lws, w -> list_contains({_SW_SQL['es']}, w))) AS s_es
      FROM base),
    r AS (
      SELECT doc_id, s_en, s_de, s_fr, s_es,
             list_sort([s_en, s_de, s_fr, s_es]) AS srt
      FROM sc)
    SELECT doc_id,
           CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                ELSE 'es' END AS lang_guess,
           CAST(srt[4] AS BIGINT) AS top_score,
           CAST(srt[3] AS BIGINT) AS second_score,
           CAST(srt[4] - srt[3] AS BIGINT) AS margin,
           srt[4] > 0 AND srt[4] - srt[3] >= 2 AS confident
    FROM r ORDER BY doc_id
    """,
)
def language_confidence_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID with a CONFIDENCE margin: top and runner-up stopword
    scores per document, their gap, and a confident flag (top > 0 and
    margin >= 2) — the routing signal a production pipeline uses to
    send ambiguous docs to a heavier classifier instead of trusting the
    cheap n-gram vote. Same single-scan stopword scoring as lang_id;
    the margin is exact integer arithmetic on the sorted score
    array."""
    docs = _docs(spark, sf_dir)
    scores = text.lang_scores(text.normalize_text(F.col("text")))
    arr = F.array_sort(F.array(*scores.values()))
    # the sorted score array is materialized ONCE per row in its own
    # projection: inlined, the six published references to it would
    # re-run all four stopword filter passes each (lambda-bearing trees
    # are excluded from subexpression elimination; the multiply-
    # referenced non-cheap alias also keeps CollapseProject away)
    base = docs.select(
        "doc_id",
        text.lang_id(F.col("text")).alias("lang_guess"),
        arr.alias("__arr"),
    )
    top, second = F.element_at(F.col("__arr"), -1), F.element_at(F.col("__arr"), -2)
    return base.select(
        "doc_id",
        "lang_guess",
        top.cast("long").alias("top_score"),
        second.cast("long").alias("second_score"),
        (top - second).cast("long").alias("margin"),
        ((top > 0) & ((top - second) >= 2)).alias("confident"),
    ).orderBy("doc_id")


# --------------------------------------------------------- round 6 wave


@query(
    "leakage_free_split",
    f"""
    WITH RECURSIVE {_CC_CTES},
    cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
    g AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS group_rep
          FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
    b AS (SELECT group_rep,
                 ('0x' || substr(md5(CAST(group_rep AS VARCHAR)), 1, 8))::BIGINT
                   % 10000 AS bucket
          FROM g)
    SELECT CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           count(DISTINCT group_rep) AS n_groups
    FROM b GROUP BY split
    """,
)
def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-AWARE holdout split (cluster.cluster_aware_split): the
    split label hashes the near-dup cluster REPRESENTATIVE, so an
    entire cluster lands in one split by construction — the leakage
    that split_leakage_report measures (train docs with 95%-identical
    twins in val inflating eval) is removed at assignment time, not
    audited after. Unclustered docs hash their own id; the md5 bucket
    math is the holdout_split contract, so a doc's split is stable as
    the corpus grows. The labels are the near-dup gates' CC closure
    (_cluster_labels); the oracle rebuilds closure + buckets in SQL."""
    from meteor_spark.operators.cluster import cluster_aware_split

    docs = _docs(spark, sf_dir)
    labels = _cluster_labels(spark, sf_dir)
    out = cluster_aware_split(docs, labels)
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("group_rep").alias("n_groups"),
    )


@query(
    "embedding_dimension_profile",
    """
    WITH dims AS (SELECT unnest(range(0, 9999)) AS dim),
    ex AS (
      SELECT t.dim AS dim, CAST(embedding[t.dim + 1] AS DOUBLE) AS x
      FROM embeddings, dims t
      WHERE t.dim < len(embedding))
    SELECT dim, count(*) AS n,
           CAST(sum(CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro,
           CAST(sum(CAST(floor(x * 1e3 + 0.5) AS BIGINT)
                    * CAST(floor(x * 1e3 + 0.5) AS BIGINT)) AS BIGINT) AS sum_sq_milli,
           min(x) AS min_val, max(x) AS max_val
    FROM ex GROUP BY dim
    """,
)
def embedding_dimension_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (similarity.dimension_profile)
    — the whitening / dead-dimension audit: n, fixed-point mean and
    second-moment sums, exact min/max per coordinate. Published sums
    are int64 over floor(x·scale + 0.5) of exactly-widened doubles, so
    association order cannot move an ulp (the PSI discipline); the
    oracle enumerates dimensions by index since DuckDB lacks WITH
    ORDINALITY (the 9999 range is a cap, pruned by len())."""
    from meteor_spark.operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.dimension_profile(emb, "embedding").withColumn(
        "dim", F.col("dim").cast("long")
    )


@query(
    "event_value_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, any_value(med) AS med,
             quantile_cont(adev, 0.5) AS mad, count(*) AS n
      FROM dev GROUP BY event_type),
    outl AS (
      SELECT d.event_type, count(*) AS n_outliers
      FROM dev d JOIN mad m USING (event_type)
      WHERE d.adev * 0.6745 > 3.5 * m.mad
      GROUP BY d.event_type)
    SELECT m.event_type,
           floor(m.med * 1e4 + 0.5) / 1e4 AS med,
           floor(m.mad * 1e4 + 0.5) / 1e4 AS mad,
           CAST(coalesce(o.n_outliers, 0) AS BIGINT) AS n_outliers,
           m.n
    FROM mad m LEFT JOIN outl o USING (event_type)
    """,
)
def event_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier census via the median absolute deviation
    (profile.mad_outlier_report): med, MAD, and the count of values with
    robust z > 3.5 — the censor a few extreme points cannot drag,
    unlike the mean/stddev twin (event_value_outliers). Interpolated
    medians match quantile_cont (parity proven by the percentile
    gates); the outlier test stays in product form (one multiply per
    side, no divide) and the published med/mad use the bit-stable
    floor(x·1e4 + 0.5)/1e4 publish."""
    from meteor_spark.operators import profile

    e = _t(spark, sf_dir, "events")
    return profile.mad_outlier_report(e, "event_type", "value")


_SLIDE_H1 = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT"
_SLIDE_H2 = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8))::BIGINT"


@query(
    "events_sliding_distinct",
    f"""
    WITH h AS (
      -- floor, not CAST: duckdb's double->bigint cast ROUNDS, so an
      -- event in the last sub-second of an hour would jump windows
      -- (spark's unix_timestamp truncates)
      SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             {_SLIDE_H1} % {_HLL64_M} AS reg,
             CASE WHEN {_SLIDE_H2} = 0 THEN 33
                  ELSE 33 - len(bin({_SLIDE_H2})) END AS rho
      FROM events),
    p AS (SELECT event_type, hr, reg, max(rho) AS rho, count(*) AS nr
          FROM h GROUP BY 1, 2, 3),
    win AS (SELECT unnest(range(0, 3)) AS o),
    exp AS (SELECT event_type, hr + w.o AS win_end, reg, rho, nr
            FROM p, win w),
    obs AS (SELECT DISTINCT event_type, hr AS win_end FROM p),
    regs AS (SELECT event_type, win_end, reg, max(rho) AS rho, sum(nr) AS nr
             FROM exp GROUP BY 1, 2, 3),
    agg AS (
      SELECT event_type, win_end,
             sum(CAST(1 AS BIGINT) << (50 - rho))
               + ({_HLL64_M} - count(rho)) * (CAST(1 AS BIGINT) << 50) AS s,
             {_HLL64_M} - count(rho) AS v,
             CAST(sum(nr) AS BIGINT) AS n_rows
      FROM regs GROUP BY 1, 2)
    SELECT a.event_type, a.win_end,
           round(CASE WHEN {_HLL64_ALPHA_NUM!r} / s <= 2.5 * {_HLL64_M} AND v > 0
                      THEN {float(_HLL64_M)!r} * ln({float(_HLL64_M)!r} / v)
                      ELSE {_HLL64_ALPHA_NUM!r} / s END, 4) AS approx_distinct,
           a.n_rows
    FROM agg a JOIN obs USING (event_type, win_end)
    """,
)
def events_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-3-hour distinct users per (event_type, hour) from
    mergeable register partials (sketches.sliding_hll64): hourly
    portable-HLL partials are exploded into the <=3 windows each hour
    serves and max-merged — the sliding-distinct rollup WITHOUT a
    rescan per window, the shape that makes trailing uniques viable at
    100 TB (state is periods x m registers, merge cost independent of
    raw N). Same md5-register family as events_portable_hll_rollup, so
    the DuckDB oracle rebuilds the estimates bit-for-bit."""
    from meteor_spark.operators import sketches

    e = _t(spark, sf_dir, "events").withColumn(
        "hr", F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 3600")
    )
    hourly = sketches.hll64_partials(e, ["event_type", "hr"], "user_id", lg_k=_HLL64_LGK)
    return sketches.sliding_hll64(hourly, ["event_type"], "hr", window=3, lg_k=_HLL64_LGK)


from meteor_spark.functions.exactmath import ppm_expr as _ppm  # noqa: E402


@query(
    "token_budget_allocation",
    f"""
    WITH s AS (
      SELECT source,
             CAST(sum(len(regexp_split_to_array({_NORM_SQL}, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    w AS (
      SELECT source, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e3 + 0.5) AS BIGINT)
               AS weight_milli
      FROM s),
    z AS (SELECT CAST(sum(weight_milli) AS BIGINT) AS z,
                 CAST(sum(n_tokens) * 2 AS BIGINT) AS budget
          FROM w),
    sh AS (
      SELECT w.source, w.n_tokens, w.weight_milli,
             CAST({_ppm("w.weight_milli", "z.z", "//")} AS BIGINT) AS share_ppm,
             z.budget
      FROM w, z),
    al AS (
      SELECT source, n_tokens, weight_milli, share_ppm,
             CAST((budget * share_ppm) // 1000000 AS BIGINT) AS alloc_tokens
      FROM sh)
    SELECT source, n_tokens, weight_milli, share_ppm, alloc_tokens,
           CAST({_ppm("alloc_tokens", "n_tokens", "//")} AS BIGINT) AS epochs_ppm
    FROM al
    """,
)
def token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mix planner (sampling.token_budget_allocation): a
    2x-corpus training budget allocated across sources under a
    sqrt-temperature mix, with the implied per-source epoch counts —
    the pre-run answer to "what does this mixture actually replay".
    All-integer publish (sqrt is the one float op — IEEE
    correctly-rounded, hence engine-identical; shares/allocations/
    epochs via ppm_expr int64 arithmetic)."""
    from meteor_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.token_budget_allocation(docs, budget_factor=2)


from meteor_spark.functions.exactmath import fixed_div_expr as _fdiv  # noqa: E402


def _pc1_oracle(iters: int = 8) -> str:
    """Unrolled quantized power iteration (the kmeans oracle pattern:
    one MATERIALIZED CTE chain per iteration — inlining would re-expand
    each level multiplicatively)."""
    ctes = [
        "dims AS (SELECT unnest(range(0, 9999)) AS dim)",
        "base AS MATERIALIZED ("
        " SELECT vec_id, t.dim AS dim,"
        "        CAST(floor(CAST(embedding[t.dim + 1] AS DOUBLE) * 100 + 0.5)"
        "             AS BIGINT) AS xm"
        " FROM embeddings, dims t WHERE t.dim < len(embedding))",
        "v0 AS MATERIALIZED (SELECT DISTINCT dim, CAST(10000 AS BIGINT) AS v FROM base)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        ctes.append(
            f"d{k} AS MATERIALIZED ("
            f" SELECT b.vec_id, CAST(sum(b.xm * v.v) AS BIGINT) AS dot"
            f" FROM base b JOIN v{p} v USING (dim) GROUP BY b.vec_id)"
        )
        ctes.append(
            f"s{k} AS MATERIALIZED ("
            f" SELECT b.dim, CAST(sum(b.xm * d.dot) AS BIGINT) AS s"
            f" FROM base b JOIN d{k} d USING (vec_id) GROUP BY b.dim)"
        )
        ctes.append(
            f"m{k} AS MATERIALIZED ("
            f" SELECT max(abs(s)) AS mx,"
            f" (SELECT CASE WHEN s < 0 THEN -1 ELSE 1 END FROM s{k}"
            f"  ORDER BY abs(s) DESC, dim LIMIT 1) AS sgn"
            f" FROM s{k})"
        )
        q = _fdiv("abs(s.s)", "m.mx", 4, "//")
        ctes.append(
            f"v{k} AS MATERIALIZED ("
            f" SELECT s.dim,"
            f" CAST(CASE WHEN m.mx = 0 THEN 0 ELSE"
            f"  (CASE WHEN s.s * m.sgn < 0 THEN -1 ELSE 1 END) * ({q})"
            f" END AS BIGINT) AS v"
            f" FROM s{k} s, m{k} m)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT CAST(dim AS BIGINT) AS dim, v AS pc1_fixed FROM v{iters}"
    )


@query("embedding_pc1_power_iteration", _pc1_oracle(8))
def embedding_pc1_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant anisotropy axis of the embedding corpus
    (similarity.power_iteration_pc1): quantized power iteration on the
    uncentered second moment, EXACT int64 arithmetic per iteration
    (0.01-grid data copy, JVM fold dots, 64-key groupBy, L-infinity
    normalization via digit-wise long division, deterministic sign) —
    so the 8-iteration fixpoint is replayable and the DuckDB oracle
    rebuilds it bit-for-bit. Complements embedding_dimension_profile:
    together they are the whitening recipe (what to subtract, which
    axis dominates). Scale note: the corpus never shuffles; only the
    dim-count state vector is collected per iteration (kmeans/kcenter
    bounded-collect pattern); int64-safe to ~1.4e7 rows at the 0.01
    grid, shard-or-coarsen beyond (docstring bound in the operator)."""
    from meteor_spark.operators import similarity

    emb = _t(spark, sf_dir, "embeddings")
    return similarity.power_iteration_pc1(emb, "embedding", iters=8)


@query("streaming_sliding_distinct", ORACLES["events_sliding_distinct"])
def streaming_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_sliding_distinct: the events STREAM
    maintains the per-(type, hour, register) max-rho partials in state
    (complete mode — registers are the mergeable sketch, updated
    incrementally per microbatch, state size periods x m regardless of
    raw N), and the finished state feeds the SAME sliding_hll64
    window-explode readout. Register max-merge is exact and
    order-insensitive, so the bounded stream must equal the batch gate
    — and therefore the batch gate's bit-exact DuckDB oracle — to the
    last digit. The production shape for "trailing-3h uniques, updated
    live": no rescan per window, no rescan per batch."""
    from meteor_spark.operators import sketches
    from meteor_spark.streaming.pipeline import run_stream_to_batch, stream_events

    ev = stream_events(spark, sf_dir).withColumn(
        "hr", F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 3600")
    )
    partials = sketches.hll64_partials(ev, ["event_type", "hr"], "user_id", lg_k=_HLL64_LGK)
    state = run_stream_to_batch(partials, output_mode="complete")
    return sketches.sliding_hll64(state, ["event_type"], "hr", window=3, lg_k=_HLL64_LGK)


@query(
    "event_value_ks_drift",
    """
    WITH b AS (
      SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS mn,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS mx
      FROM events),
    g AS (
      SELECT event_type, value,
             CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                                <= (b.mn + b.mx) // 2 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                                <= (b.mn + b.mx) // 2 THEN 0 ELSE 1 END) AS BIGINT) AS c2
      FROM events, b WHERE value IS NOT NULL GROUP BY event_type, value),
    cum AS (
      SELECT event_type,
             CAST(sum(c1) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS cum1,
             CAST(sum(c2) OVER (PARTITION BY event_type ORDER BY value) AS BIGINT) AS cum2,
             CAST(sum(c1) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
             CAST(sum(c2) OVER (PARTITION BY event_type) AS BIGINT) AS n2
      FROM g),
    agg AS (
      SELECT event_type,
             CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
             CAST(any_value(n1) AS BIGINT) AS n_early,
             CAST(any_value(n2) AS BIGINT) AS n_late
      FROM cum GROUP BY event_type)
    SELECT event_type, n_early, n_late,
           CAST(((d_num) // (n_early * n_late)) * 1000000 + (((((d_num) % (n_early * n_late)) * 10)) // (n_early * n_late)) * 100000 + ((((((((d_num) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) // (n_early * n_late)) * 10000 + (((((((((((d_num) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) // (n_early * n_late)) * 1000 + ((((((((((((((d_num) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) // (n_early * n_late)) * 100 + (((((((((((((((((d_num) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) // (n_early * n_late)) * 10 + ((((((((((((((((((((d_num) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) % (n_early * n_late)) * 10)) // (n_early * n_late)) * 1 AS BIGINT) AS ks_ppm
    FROM agg
    """,
)
def event_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binning-free distribution drift per event type (drift.ks_drift):
    exact-integer two-sample Kolmogorov-Smirnov between the EARLY and
    LATE halves of the time range (integer-midpoint split — a corpus
    property, not a sample). Complements event_value_drift_psi: PSI is
    binned and misses within-bin shape changes; KS is the max CDF gap.
    The numerator stays int64 (cum-count cross products), the ppm
    publish is digit-wise long division (exactmath.fixed_div_expr), so
    the oracle agrees to the last ppm at any SF."""
    from meteor_spark.operators import drift

    e = _t(spark, sf_dir, "events").withColumn(
        "t", F.expr("CAST(unix_timestamp(ts) AS BIGINT)")
    )
    return drift.ks_drift(e, "event_type", "value", "t")


@query("streaming_ks_drift", ORACLES["event_value_ks_drift"])
def streaming_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of event_value_ks_drift: the events STREAM
    maintains per-(event_type, value, early) observation counts in
    state (complete mode) and the finished state feeds the SAME
    exact-integer KS readout (drift.ks_from_counts) — so the bounded
    stream must equal the batch gate, and therefore the batch gate's
    bit-exact DuckDB oracle, to the last ppm. The production shape for
    "is the live value distribution drifting from the reference
    window, updated per microbatch": the reference boundary is
    CONFIGURATION (reference period vs live period, known a priori —
    here the fixture midpoint from one tiny batch pre-scan, the same
    convention as stream_events' footer-schema sniff), and the state
    is mergeable counts over the VALUE GRID, not raw rows — measured
    distinct (type, value) saturates at 49,089 for sf0.1 and 10x
    alike, the same N-independent-ceiling character as the
    sliding-distinct registers."""
    from meteor_spark.operators.drift import ks_from_counts
    from meteor_spark.streaming.pipeline import run_stream_to_batch, stream_events

    b = (
        _t(spark, sf_dir, "events")
        .agg(
            F.min(F.expr("CAST(unix_timestamp(ts) AS BIGINT)")).alias("mn"),
            F.max(F.expr("CAST(unix_timestamp(ts) AS BIGINT)")).alias("mx"),
        )
        .first()
    )
    mid = (b["mn"] + b["mx"]) // 2
    ev = stream_events(spark, sf_dir).withColumn(
        "t", F.expr("CAST(unix_timestamp(ts) AS BIGINT)")
    )
    counts = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type", "value", (F.col("t") <= F.lit(mid)).alias("early")
        )
        .count()
    )
    state = run_stream_to_batch(counts, output_mode="complete")
    g = state.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("early"), F.col("count")).otherwise(F.lit(0)))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(~F.col("early"), F.col("count")).otherwise(F.lit(0)))
        .cast("long")
        .alias("c2"),
    )
    return ks_from_counts(g, "event_type", "value")


_KANON_PPM = _ppm("k * count(*)", "n_total", "//")


@query(
    "user_kanonymity_census",
    f"""
    WITH h AS (
      SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
    sig AS (
      SELECT user_id,
             string_agg(event_type || ':' || CAST(length(bin(c)) AS VARCHAR),
                        ',' ORDER BY event_type) AS sig
      FROM h GROUP BY user_id),
    sets AS (SELECT sig, count(*) AS k FROM sig GROUP BY sig),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM sig)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_signatures,
           CAST(k * count(*) AS BIGINT) AS n_users,
           CAST({_KANON_PPM} AS BIGINT) AS user_share_ppm
    FROM sets, tot GROUP BY k, n_total ORDER BY k
    """,
)
def user_kanonymity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit (usage.kanonymity_census): k-anonymity census over
    users' GENERALIZED behavioral quasi-identifiers — the per-type
    count histogram coarsened to integer-exact magnitude bands
    (length(bin(c)) = floor(log2)+1, no libm), the fingerprint a
    realistic linkage attack matches on (the raw histogram is ~always
    unique — measured 100% k=1 — a fact, not a census). One row per
    anonymity-set size k with distinct signatures, users, and the
    exact-ppm user share; k = 1 is the re-identifiable population a
    release review reads first. Two aggregations + two tiny ones,
    signature strings bounded by the attr domain, no windows over
    users — census arithmetic all-integer, ppm-exact at any N."""
    from meteor_spark.operators.usage import kanonymity_census

    return kanonymity_census(_t(spark, sf_dir, "events"))


def _mw_oracle(iters: int) -> str:
    """DuckDB replay of mw_domain_reweight: every multiplicative-weights
    iteration as a chained MATERIALIZED CTE (the power_iteration_pc1
    oracle pattern) — all-integer, so the final weights must match the
    engine bit-for-bit. All divisions see non-negative operands (the
    +1e6 shift before the eta floor-div), so DuckDB // (floor) and
    Spark/Python integer division agree."""
    ctes = [
        f"""s AS MATERIALIZED (
      SELECT source,
             CAST(sum(len(regexp_split_to_array({_NORM_SQL}, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    base AS MATERIALIZED (
      SELECT source, n_tokens,
             CAST((n_tokens * 1000000) // (SELECT max(n_tokens) FROM s) AS BIGINT) AS loss_ppm
      FROM s),
    w0 AS MATERIALIZED (
      SELECT source, n_tokens, loss_ppm,
             CAST(1000000 // (SELECT count(*) FROM base) AS BIGINT) AS w
      FROM base)"""
    ]
    for i in range(iters):
        ctes.append(
            f"""c{i} AS MATERIALIZED (
      SELECT CAST(sum(w * loss_ppm) // 1000000 AS BIGINT) AS ctr FROM w{i}),
    r{i} AS MATERIALIZED (
      SELECT source, n_tokens, loss_ppm,
             w * (1000000 + ((loss_ppm - c.ctr + 1000000) // 4 - 250000)) AS raw
      FROM w{i}, c{i} c),
    w{i + 1} AS MATERIALIZED (
      SELECT source, n_tokens, loss_ppm,
             CAST((raw * 1000000) // (SELECT sum(raw) FROM r{i}) AS BIGINT) AS w
      FROM r{i})"""
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT source, n_tokens, loss_ppm, w AS weight_ppm FROM w{iters}"
    )


@query("mw_domain_reweight", _mw_oracle(8))
def mw_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-shaped Group-DRO domain reweighting
    (sampling.mw_domain_reweight): 8 multiplicative-weights iterations
    chase the domains whose loss proxy exceeds the current mixture's
    weighted center — upweight hard domains, renormalize, repeat. The
    update is ALL-integer (eta = 1/4 via a shifted non-negative
    floor-div: Spark div truncates toward zero, DuckDB // floors, and
    they disagree exactly and only on negative operands), so the
    DuckDB oracle replays all 8 iterations through chained
    MATERIALIZED CTEs bit-for-bit. Iteration state is
    domain-count-sized: one corpus groupBy, then arithmetic on K
    integers (bounded collect, the power_iteration_pc1 pattern). The
    deterministic loss proxy (token mass in ppm of the largest
    domain) is the model seam — a proxy model's measured excess loss
    drops in without changing the update or the oracle shape."""
    from meteor_spark.operators.sampling import mw_domain_reweight as mwr

    return mwr(_docs(spark, sf_dir), iters=8)


_ORC_TABLES = ("customer", "nation", "part", "region", "supplier")


def _parallel_writes(write_one, tables) -> None:
    """Run the per-table round-trip writes of the format-catalog gates
    concurrently (guide §2.6 — overlap independent jobs): each table
    writes to its own directory, and the five dim tables are small
    enough that each write is one short mostly-idle job; serially they
    paid five full job latencies. Thread count = table count (<= 5)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        list(pool.map(write_one, tables))


# the catalog gates' shared oracle: each extracted table's schema width
# and row count, checked against the fixture's parquet views
_CATALOG_ORACLE = (
    "UNION ALL ".join(
        f"SELECT '{t}' AS table_name, CAST({_N_COLS[t]} AS BIGINT) AS n_columns,"
        f" CAST((SELECT count(*) FROM {t}) AS BIGINT) AS total_rows "
        for t in _ORC_TABLES
    )
    + "ORDER BY table_name"
)


def _catalog_round_trip(
    spark: SparkSession, sf_dir: str, tag: str, suffix: str, write, extractor: str
) -> DataFrame:
    """Write the five dimension tables with `write(writer, path)` to
    `<tag>_<fixture>/<table>.<suffix>` under the per-process temp root,
    walk the directory with the `extractor` source and project
    (table_name, n_columns, total_rows).

    The temp root is a per-process mkdtemp (cached, 0700, removed at
    exit) with a gate+fixture subdir: sweeps within one process reuse
    (overwrite) the same directory instead of leaking a fixture-sized
    /tmp tree per invocation, while concurrent processes and multi-user
    hosts never share a predictable path."""
    import os

    from meteor_spark.registry import extractors

    fixture = os.path.basename(os.path.normpath(sf_dir)) or "fixture"
    base = _proc_tmpdir(f"{tag}_{fixture}")
    _parallel_writes(
        lambda t: write(
            _t(spark, sf_dir, t).write.mode("overwrite"), os.path.join(base, f"{t}.{suffix}")
        ),
        _ORC_TABLES,
    )
    ex = extractors.get(extractor)
    ex.init({"path": base, "include_row_count": True})
    return ex.extract(spark).select(
        F.col("resource.name").alias("table_name"),
        F.size("schema").cast("long").alias("n_columns"),
        F.col("profile.total_rows").cast("long").alias("total_rows"),
    ).orderBy("table_name")


@query(
    "orc_catalog_assets",
    _CATALOG_ORACLE,
)
def orc_catalog_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC catalog extraction (sources.parquet_catalog.
    OrcCatalogExtractor): five fixture tables are round-tripped into a
    directory of ORC tables and walked by the orc_catalog source — the
    lakehouse family's fourth format (parquet/delta/iceberg/orc),
    sharing the entire walk/asset/profile path through the format
    seam. The oracle knows nothing about ORC: it checks the extracted
    schema widths and row counts against the same data's parquet
    views, so a read-path or footer-walk defect on the ORC side cannot
    hide behind a matching implementation."""
    return _catalog_round_trip(spark, sf_dir, "orc", "orc", lambda w, p: w.orc(p), "orc_catalog")


_CUSUM_PPM = _ppm("peak", "greatest(total * n_hours, 1)", "//")


@query(
    "event_rate_changepoint",
    f"""
    WITH hourly AS (
      SELECT event_type AS k, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             count(*) AS x
      FROM events GROUP BY 1, 2),
    d AS (
      SELECT k, hr,
             CAST(x * count(*) OVER (PARTITION BY k)
                  - sum(x) OVER (PARTITION BY k) AS BIGINT) AS dev,
             CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n_hours,
             CAST(sum(x) OVER (PARTITION BY k) AS BIGINT) AS total
      FROM hourly),
    c AS (
      SELECT k, hr, n_hours, total,
             CAST(sum(dev) OVER (PARTITION BY k ORDER BY hr) AS BIGINT) AS cusum
      FROM d),
    p AS (SELECT k, CAST(max(abs(cusum)) AS BIGINT) AS peak FROM c GROUP BY k),
    ap AS (
      SELECT c.k, c.n_hours, c.total, p.peak,
             CAST(min(c.hr) AS BIGINT) AS changepoint_hr,
             CAST(min_by(CASE WHEN c.cusum > 0 THEN 1
                              WHEN c.cusum < 0 THEN -1 ELSE 0 END, c.hr)
                  AS BIGINT) AS direction
      FROM c JOIN p ON c.k = p.k AND abs(c.cusum) = p.peak
      GROUP BY c.k, c.n_hours, c.total, p.peak)
    SELECT k AS event_type, n_hours, total, changepoint_hr, direction,
           CAST({_CUSUM_PPM} AS BIGINT) AS peak_ppm
    FROM ap
    """,
)
def event_rate_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type (drift.cusum_changepoint):
    WHEN did the hourly rate shift — the sequential-statistic sibling
    of the what-changed family (PSI/KS distributions, MAD outliers,
    seasonal residuals). Exact-integer mean-centered partial sums
    (dev = x·H − T, Σ dev = 0), changepoint = first hour attaining
    max |cusum|, sign and ppm-normalized peak published. One hourly
    groupBy + per-key windows over hour-count-sized rows; all
    arithmetic int64, so the oracle matches to the last ppm."""
    from meteor_spark.operators.drift import cusum_changepoint

    return cusum_changepoint(_t(spark, sf_dir, "events"))


@query("streaming_rate_changepoint", ORACLES["event_rate_changepoint"])
def streaming_rate_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of event_rate_changepoint: the events STREAM
    maintains per-(event_type, hour) counts in state (complete mode,
    one streaming groupBy) and the finished state feeds the SAME
    exact-integer CUSUM readout (drift.cusum_from_hourly) — so the
    bounded stream must equal the batch gate, and therefore the batch
    gate's bit-exact DuckDB oracle, to the last ppm. The production
    shape for "WHEN did the live rate shift, updated per microbatch":
    completing the live-monitoring family (streaming_ks_drift: is the
    value distribution drifting; this gate: at what hour did the rate
    break). State is mergeable hourly counts — bounded by the TIME
    RANGE (types x hours, ~3.6k cells at sf0.1), not by N, the same
    N-independent-ceiling character as the sliding-distinct registers
    and the KS value grid."""
    from meteor_spark.operators.drift import cusum_from_hourly
    from meteor_spark.streaming.pipeline import run_stream_to_batch, stream_events

    ev = stream_events(spark, sf_dir)
    hourly = ev.groupBy(
        F.col("event_type").alias("k"),
        F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 3600").alias("hr"),
    ).count()
    state = run_stream_to_batch(hourly, output_mode="complete")
    return cusum_from_hourly(
        state.select("k", "hr", F.col("count").alias("x"))
    )


@query(
    "document_pareto_frontier",
    f"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array({_NORM_SQL}, ' ')) AS BIGINT) AS tc,
             CAST(len(list_distinct(regexp_split_to_array({_NORM_SQL}, ' ')))
                  AS BIGINT) AS uq
      FROM documents),
    p AS (SELECT doc_id, tc,
                 CAST({_ppm("uq", "tc", "//")} AS BIGINT) AS uniq_ppm
          FROM m)
    SELECT d.doc_id, d.tc, d.uniq_ppm
    FROM p d
    WHERE NOT EXISTS (
      SELECT 1 FROM p e
      WHERE e.tc >= d.tc AND e.uniq_ppm >= d.uniq_ppm
        AND (e.tc > d.tc OR e.uniq_ppm > d.uniq_ppm))
    """,
)
def document_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier curation (sampling.pareto_frontier_2d):
    the documents no other doc beats on BOTH token count and distinct-
    token ratio at once — the multi-criteria analogue of a single
    quality threshold (pick the frontier, not an arbitrary weighting of
    the two axes). Both criteria are exact integers (tc; uniq_ppm via
    ppm_expr), so frontier membership is bit-stable on both engines.

    The ORACLE is the O(N^2) NOT-EXISTS dominance definition; the
    ENGINE is the O(N log N) two-window formulation (strict-greater
    range frame + tie partition), run per input partition first (no
    shuffle; frontier-of-union subsets union-of-local-frontiers) and
    globally only over the local survivors — the gate proves the
    window restatement loses nothing against the definitional SQL."""
    from meteor_spark.operators.sampling import pareto_frontier_2d
    from meteor_spark.operators.text import normalize_text

    docs = _docs(spark, sf_dir)
    ws = F.split(normalize_text(F.col("text")), " ")
    m = docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("tc"),
        F.size(F.array_distinct(ws)).cast("long").alias("uq"),
    )
    p = m.select(
        "doc_id",
        "tc",
        F.expr(_ppm("uq", "tc", "div")).cast("long").alias("uniq_ppm"),
    )
    return pareto_frontier_2d(p, "tc", "uniq_ppm").select("doc_id", "tc", "uniq_ppm")


@query(
    "event_rate_holt_smoothing",
    """
    WITH RECURSIVE hourly AS (
      SELECT event_type AS k, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    idx AS (
      SELECT k, hr, x,
             CAST(row_number() OVER (PARTITION BY k ORDER BY hr) AS BIGINT) AS t
      FROM hourly),
    rec AS (
      SELECT k, hr, x, t, CAST(x * 1000 AS BIGINT) AS level,
             CAST(0 AS BIGINT) AS residual
      FROM idx WHERE t = 1
      UNION ALL
      SELECT i.k, i.hr, i.x, i.t,
             CAST(r.level + (i.x * 1000 - r.level + 4398046511104) // 4
                  - 1099511627776 AS BIGINT),
             CAST(i.x * 1000 - r.level AS BIGINT)
      FROM rec r JOIN idx i ON i.k = r.k AND i.t = r.t + 1)
    SELECT k AS event_type, hr, x,
           CAST(level AS BIGINT) AS level_milli,
           CAST(residual AS BIGINT) AS residual_milli
    FROM rec
    """,
)
def event_rate_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-smoothing level + surprise residual for EVERY hour
    of every event type (drift.holt_smoothing) — the forecasting gate
    of the monitoring family, row-preserving so the oracle replays the
    whole recursion (a DuckDB RECURSIVE CTE walking hour-by-hour) and
    value-hashes all of it, not a summary. All arithmetic is int64
    with alpha = 1/4 via SHIFTED floor division ((res + 4*2^40) // 4
    - 2^40): Python floors negative // while DuckDB truncates toward
    zero (measured, -250 -> -63 vs -62), and the shift keeps every
    numerator non-negative, where the engines agree — the
    mw_domain_reweight playbook entry. The sequential fold runs per key
    over HOUR-count-sized groups (a time-range property, not N) via
    one applyInPandas; raw events never reach Python."""
    from meteor_spark.operators.drift import holt_smoothing

    return holt_smoothing(_t(spark, sf_dir, "events"))


_HNM_K = 5
_HNM_NQUERY = 8


@query(
    "hard_negative_mining",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS query_label,
             CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {_HNM_NQUERY}),
    c AS (
      SELECT vec_id AS neighbor_id, label AS neighbor_label,
             CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
    s AS (
      SELECT query_id, query_label, neighbor_id, neighbor_label,
             round(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                   4) AS cos
      FROM q, c
      WHERE query_id <> neighbor_id AND query_label <> neighbor_label)
    SELECT query_id, query_label, neighbor_id, neighbor_label, cos, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
      FROM s) WHERE rank <= {_HNM_K}
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.hard_negative_topk): for each
    anchor embedding, the top-k most similar DIFFERENT-label vectors —
    the negatives a contrastive objective actually learns from. The
    anchor side is broadcast with the label-exclusion predicate fused
    into the join, the corpus is never shuffled, and ties break by
    neighbor id; cosine follows the certified ann_cosine_topk publish
    (same doubles in the same order on both engines, round 4)."""
    from meteor_spark.operators.similarity import hard_negative_topk

    emb = _t(spark, sf_dir, "embeddings")
    return hard_negative_topk(emb, emb.filter(F.col("vec_id") < _HNM_NQUERY), k=_HNM_K)


_BTX_K = 4
_BTX_NQUERY = 40
_BTX_COS = (
    "CAST(round(list_dot_product({l}.v, {r}.v) / "
    "(sqrt(list_dot_product({l}.v, {l}.v)) * sqrt(list_dot_product({r}.v, {r}.v)))"
    " * 10000) AS BIGINT)"
)


@query(
    "bitext_margin_pairs",
    f"""
    WITH a AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE label % 2 = 0),
    b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE label % 2 = 1),
    q AS (SELECT * FROM a WHERE vec_id < {_BTX_NQUERY}),
    fwd0 AS (
      SELECT q.vec_id AS src_id, b.vec_id AS tgt_id,
             {_BTX_COS.format(l="q", r="b")} AS c4
      FROM q, b),
    fwd AS (SELECT * FROM (
      SELECT *, row_number() OVER (PARTITION BY src_id
                                   ORDER BY c4 DESC, tgt_id) AS r
      FROM fwd0) WHERE r <= {_BTX_K}),
    fs AS (SELECT src_id, CAST(sum(c4) AS BIGINT) AS sum_fwd
           FROM fwd GROUP BY src_id),
    t AS (SELECT DISTINCT tgt_id FROM fwd),
    tv AS (SELECT b.vec_id AS tgt_id, b.v FROM b JOIN t ON b.vec_id = t.tgt_id),
    bwd0 AS (
      SELECT tv.tgt_id, a.vec_id AS cand_id,
             {_BTX_COS.format(l="tv", r="a")} AS c4
      FROM tv, a WHERE a.vec_id <> tv.tgt_id),
    bwd AS (SELECT * FROM (
      SELECT *, row_number() OVER (PARTITION BY tgt_id
                                   ORDER BY c4 DESC, cand_id) AS r
      FROM bwd0) WHERE r <= {_BTX_K}),
    bs AS (SELECT tgt_id, CAST(sum(c4) AS BIGINT) AS sum_bwd
           FROM bwd GROUP BY tgt_id),
    m AS (
      SELECT f.src_id, f.tgt_id, f.c4, fs.sum_fwd, bs.sum_bwd
      FROM fwd f JOIN fs USING (src_id) JOIN bs USING (tgt_id)
      WHERE f.c4 >= 0 AND fs.sum_fwd + bs.sum_bwd >= 1),
    sc AS (
      SELECT src_id, tgt_id, c4 AS cos_e4,
             CAST({_ppm(f"2 * {_BTX_K} * c4", "sum_fwd + sum_bwd", "//")}
                  AS BIGINT) AS margin_ppm
      FROM m)
    SELECT src_id, tgt_id, cos_e4, margin_ppm FROM (
      SELECT *, row_number() OVER (PARTITION BY src_id
                                   ORDER BY margin_ppm DESC, tgt_id) AS rb
      FROM sc) WHERE rb = 1
    """,
)
def bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining across two embedding corpora
    (similarity.margin_bitext_mine — the Artetxe & Schwenk bitext
    shape): label parity splits the fixture into two sides; each
    bounded query broadcasts into ONE scan of the far side (forward
    k-NN), the <=|Q|*k candidate targets broadcast into ONE scan of
    the near side (backward k-NN), and the pair score is cosine
    normalized by both endpoints' neighborhood mass — published as
    all-integer margin_ppm (quantized c4 = round(cos * 1e4), ppm_expr
    ratio), so the mined pairs are bit-stable. Neither corpus ever
    shuffles; negative-cosine / non-positive-mass pairs are unmineable
    by contract."""
    from meteor_spark.operators.similarity import margin_bitext_mine

    emb = _t(spark, sf_dir, "embeddings")
    side_a = emb.filter(F.col("label") % 2 == 0)
    side_b = emb.filter(F.col("label") % 2 == 1)
    return margin_bitext_mine(
        side_a, side_b, side_a.filter(F.col("vec_id") < _BTX_NQUERY), k=_BTX_K
    )


@query(
    "json_catalog_assets",
    _CATALOG_ORACLE,
)
def json_catalog_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines catalog extraction (sources.parquet_catalog.
    JsonCatalogExtractor): the five dimension tables are round-tripped
    into a directory of .jsonl tables and walked by the json_catalog
    source — the lakehouse family's fifth format, the raw landing
    zone. Shares the orc gate's oracle philosophy: the SQL knows
    nothing about JSON, it checks the extracted schema widths and row
    counts against the same data's parquet views, so an inference or
    read-path defect on the JSON side cannot hide behind a matching
    implementation. (The five dim tables have no all-null columns, so
    sampling inference must recover every column.)"""
    return _catalog_round_trip(
        spark, sf_dir, "jsl", "jsonl", lambda w, p: w.json(p), "json_catalog"
    )


@query(
    "csv_catalog_assets",
    _CATALOG_ORACLE,
)
def csv_catalog_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV catalog extraction (sources.parquet_catalog.
    CsvCatalogExtractor): the five dimension tables round-trip into a
    directory of CSV tables (header + inferred types) and are walked
    by the csv_catalog source — sixth format through the seam, the
    flat-file export layout. Same oracle philosophy as the orc/json
    gates: widths and counts are checked against the parquet views, so
    a header/inference defect cannot self-confirm."""
    return _catalog_round_trip(
        spark, sf_dir, "csv", "csv", lambda w, p: w.option("header", True).csv(p), "csv_catalog"
    )


_APPORTION_BUDGET = 1000


@query(
    "split_quota_apportionment",
    f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_rows
      FROM documents GROUP BY source),
    t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total FROM counts),
    base AS (
      SELECT source, n_rows,
             CAST(({_APPORTION_BUDGET} * n_rows) // n_total AS BIGINT)
               AS floor_seats,
             CAST(({_APPORTION_BUDGET} * n_rows) % n_total AS BIGINT)
               AS remainder
      FROM counts, t),
    lv AS (SELECT CAST({_APPORTION_BUDGET} - sum(floor_seats) AS BIGINT)
                  AS leftover FROM base),
    ranked AS (
      SELECT b.*, lv.leftover,
             row_number() OVER (ORDER BY remainder DESC, source) AS pos
      FROM base b, lv)
    SELECT source, n_rows, floor_seats,
           CAST(CASE WHEN pos <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
           CAST(floor_seats + CASE WHEN pos <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS seats
    FROM ranked
    """,
)
def split_quota_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a 1000-slot
    sampling budget across sources (sampling.quota_apportionment):
    floors under-allocate and naive rounding can over-allocate; the
    Hamilton rule hands the Sigma-floor shortfall to the largest
    fractional remainders so seats sum EXACTLY to the budget — the
    apportionment the mixture planners (source_mix_weights,
    token_budget_allocation) need when shares must become integer
    slot counts. All-integer (div/mod + one deterministic window);
    one groupBy + broadcast scalars."""
    from meteor_spark.operators.sampling import quota_apportionment

    return quota_apportionment(
        _t(spark, sf_dir, "documents"), "source", _APPORTION_BUDGET
    )


_CH_VN = 16
_CH_OLD = 8
_CH_NEW = 9


def _ch_ring_sql(name: str, n: int) -> str:
    return (
        f"{name}0 AS ("
        f" SELECT (('0x' || substr(md5('ring|' || CAST(i // {_CH_VN} AS VARCHAR)"
        f" || '|' || CAST(i % {_CH_VN} AS VARCHAR)), 1, 8))::BIGINT) * 64"
        f" + i // {_CH_VN} AS p"
        f" FROM range({n * _CH_VN}) t(i)), "
        f"{name} AS (SELECT list(p ORDER BY p) AS arr, min(p) AS mn FROM {name}0)"
    )


@query(
    "consistent_hash_reshard",
    f"""
    WITH {_ch_ring_sql("ro", _CH_OLD)}, {_ch_ring_sql("rn", _CH_NEW)},
    keys AS (
      SELECT (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) * 64
             AS h64
      FROM documents),
    a AS (
      SELECT
        coalesce(list_min(list_filter(ro.arr, x -> x >= k.h64)), ro.mn) % 64
          AS old_shard,
        coalesce(list_min(list_filter(rn.arr, x -> x >= k.h64)), rn.mn) % 64
          AS new_shard
      FROM keys k, ro, rn),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM a),
    m AS (
      SELECT CAST(old_shard AS BIGINT) AS old_shard,
             CAST(new_shard AS BIGINT) AS new_shard,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM a WHERE old_shard <> new_shard GROUP BY 1, 2)
    SELECT old_shard, new_shard, n_keys,
           CAST({_ppm("n_keys", "n_total", "//")} AS BIGINT) AS share_ppm
    FROM m, t
    """,
)
def consistent_hash_reshard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hashing reshard census (sampling.
    consistent_hash_reshard): assign every document key on an 8-shard
    and a 9-shard md5 ring (16 vnodes per shard) and report who moves.
    The consistent-hashing CONTRACT is the result: only ~1/9 of keys
    move and every mover lands on the NEW shard — modulo sharding
    would scramble ~8/9. The ring is shard-count-sized (each engine
    builds its own from range()+md5; Spark collects <=64*16 longs once
    — the kmeans/pc1 bounded-collect class) and assignment is an
    O(|ring|) JVM filter/min per row: no shuffle, no expand, corpus
    scanned once per ring."""
    from meteor_spark.operators.sampling import consistent_hash_reshard as chr_

    return chr_(
        _t(spark, sf_dir, "documents"), "doc_id", _CH_OLD, _CH_NEW, vnodes=_CH_VN
    )


# streaming_ttl_dedup's fixture: four microbatches with WIDE margins on
# every boundary (state expiry vs watermark; row ts vs watermark), and a
# SPACER batch so the published outcome is identical whether state
# cleanup uses the watermark current during a batch or the one advanced
# at its end (measured: Spark's dedup-state eviction lags one batch —
# the watermark advanced by batch N's data first evicts during batch
# N+1's commit, so re-admission is observable from batch N+2 on).
#   b0: keys 0..99 at T0+k              -> all emitted (no state)
#   b1: keys 200..219 at T0+4h+i        -> emitted (fresh); advances the
#                                          watermark to T0+3h+19s
#   b2: keys 300..309 at T0+4h1m40s+i   -> emitted (fresh spacer); b0
#                                          state (expiry <= T0+1h2m) is
#                                          evicted by its commit under
#                                          EITHER cleanup timing
#   b3: keys 0..24 again at T0+3h36m40s -> RE-ADMITTED (state gone)
#       keys 210..214 at T0+4h10m       -> dropped (b1 state lives to
#                                          ~T0+5h; max watermark anywhere
#                                          is T0+3h10m)
_TTL_T0 = 1_700_000_000
_TTL_ORACLE = f"""
WITH b0 AS (SELECT CAST(i AS BIGINT) AS k, CAST({_TTL_T0} + i AS BIGINT) AS tse
            FROM range(100) t(i)),
b1 AS (SELECT CAST(200 + i AS BIGINT) AS k,
              CAST({_TTL_T0} + 14400 + i AS BIGINT) AS tse
       FROM range(20) t(i)),
b2 AS (SELECT CAST(300 + i AS BIGINT) AS k,
              CAST({_TTL_T0} + 14500 + i AS BIGINT) AS tse
       FROM range(10) t(i)),
b3 AS (SELECT CAST(i AS BIGINT) AS k, CAST({_TTL_T0} + 13000 AS BIGINT) AS tse
       FROM range(25) t(i)
       UNION ALL
       SELECT CAST(210 + i AS BIGINT), CAST({_TTL_T0} + 15000 AS BIGINT)
       FROM range(5) t(i)),
-- watermark in effect during batch b's PREDECESSOR (the one its state
-- cleanup ran with): max event time through batches <= b-2, minus delay
w2 AS (SELECT max(tse) - 3600 AS wm FROM b0),
w3 AS (SELECT max(tse) - 3600 AS wm FROM (SELECT tse FROM b0
       UNION ALL SELECT tse FROM b1)),
e1 AS (SELECT n.k, n.tse FROM b1 n
       WHERE NOT EXISTS (SELECT 1 FROM b0 p WHERE p.k = n.k)),
e2 AS (SELECT n.k, n.tse FROM b2 n, w2
       WHERE NOT EXISTS (SELECT 1 FROM (SELECT k, tse FROM b0
                                        UNION ALL SELECT k, tse FROM e1) p
                         WHERE p.k = n.k AND p.tse + 3600 >= w2.wm)),
e3 AS (SELECT n.k, n.tse FROM b3 n, w3
       WHERE NOT EXISTS (SELECT 1 FROM (SELECT k, tse FROM b0
                                        UNION ALL SELECT k, tse FROM e1
                                        UNION ALL SELECT k, tse FROM e2) p
                         WHERE p.k = n.k AND p.tse + 3600 >= w3.wm))
SELECT k, CAST(tse AS BIGINT) AS ts_s FROM (
  SELECT k, tse FROM b0
  UNION ALL SELECT k, tse FROM e1
  UNION ALL SELECT k, tse FROM e2
  UNION ALL SELECT k, tse FROM e3)
"""


@query("streaming_ttl_dedup", _TTL_ORACLE)
def streaming_ttl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL-expiring streaming dedup (streaming.pipeline.
    ttl_dedup_stream — dropDuplicatesWithinWatermark): first sighting
    per key emits and opens state that expires `delay` after its OWN
    event time; re-occurrences are dropped while the state lives and
    RE-ADMITTED after watermark eviction — retransmission dedup whose
    state is bounded by keys-live-within-delay, never by key history
    (plain dropDuplicates grows forever). The oracle is a relational
    RESTATEMENT of the semantics computed from the same literal
    construction — per batch, a row emits iff no prior EMITTED
    sighting's expiry survives the watermark its predecessor's state
    cleanup ran with (eviction lags the watermark by one batch —
    measured, and the fixture's spacer batch makes the answer
    identical under either cleanup timing). The four-microbatch
    fixture exercises fresh keys, live-state drops, and
    post-eviction re-admission."""
    from meteor_spark.streaming.pipeline import ttl_dedup_stream

    t0 = _TTL_T0
    batches = (
        spark.range(100).selectExpr("id AS k", f"timestamp_seconds({t0} + id) AS ts"),
        spark.range(20).selectExpr(
            "200 + id AS k", f"timestamp_seconds({t0} + 14400 + id) AS ts"
        ),
        spark.range(10).selectExpr(
            "300 + id AS k", f"timestamp_seconds({t0} + 14500 + id) AS ts"
        ),
        spark.range(25)
        .selectExpr("id AS k", f"timestamp_seconds({t0} + 13000) AS ts")
        .union(
            spark.range(5).selectExpr(
                "210 + id AS k", f"timestamp_seconds({t0} + 15000) AS ts"
            )
        ),
    )
    out = ttl_dedup_stream(spark, _stage_microbatches(_session_tmpdir("msk_ttl_"), batches))
    return out.select(
        "k", F.expr("CAST(unix_timestamp(ts) AS BIGINT)").alias("ts_s")
    )


@query("streaming_psi_drift", ORACLES["event_value_drift_psi"])
def streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of event_value_drift_psi — live PSI, the
    standard drift score, updated per microbatch: the events STREAM
    maintains (event_type, value, actual) counts in state (complete
    mode; the same value-grid state shape as streaming_ks_drift) and
    the finished state feeds drift.psi_from_value_counts, which bins
    each VALUE once and weights by its count — arithmetically
    identical to binning raw rows, so the bounded stream equals the
    batch gate and its oracle bit-for-bit. The reference boundary
    (first vs second half of the month) is configuration, as in the
    KS twin; state is bounded by the value grid, not by N. This
    completes the live-monitoring family: PSI (binned distribution),
    KS (full CDF), CUSUM (rate changepoint), sliding distinct."""
    from meteor_spark.operators.drift import psi_from_value_counts
    from meteor_spark.streaming.pipeline import run_stream_to_batch, stream_events

    ev = stream_events(spark, sf_dir)
    counts = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            "value",
            (F.col("ts") >= F.lit("2024-01-16").cast("timestamp")).alias("actual"),
        )
        .count()
    )
    state = run_stream_to_batch(counts, output_mode="complete")
    g = state.groupBy("event_type", "value").agg(
        F.sum(F.when(~F.col("actual"), F.col("count")).otherwise(F.lit(0)))
        .cast("long")
        .alias("cnt_e"),
        F.sum(F.when(F.col("actual"), F.col("count")).otherwise(F.lit(0)))
        .cast("long")
        .alias("cnt_a"),
    )
    return psi_from_value_counts(g, "event_type", "value", bins=10)


@query("streaming_holt_smoothing", ORACLES["event_rate_holt_smoothing"])
def streaming_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of event_rate_holt_smoothing: the stream
    maintains (type, hour) counts in state — the same grid as
    streaming_rate_changepoint — and the finished state feeds the SAME
    shifted-floor-div fold (drift.holt_from_hourly, factored like
    cusum_from_hourly), so the bounded stream equals the batch gate's
    RECURSIVE-CTE oracle row for row. The one streaming gate that
    drives a PANDAS-grouped readout over state: the fold input is the
    hour grid (time-range-sized), never raw rows. Completes the live
    monitoring family's batch/streaming symmetry (PSI, KS, CUSUM,
    Holt, sliding distinct)."""
    from meteor_spark.operators.drift import holt_from_hourly
    from meteor_spark.streaming.pipeline import run_stream_to_batch, stream_events

    ev = stream_events(spark, sf_dir)
    hourly = ev.groupBy(
        F.col("event_type").alias("k"),
        F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 3600").alias("hr"),
    ).count()
    state = run_stream_to_batch(hourly, output_mode="complete")
    return holt_from_hourly(state.select("k", "hr", F.col("count").alias("x")))


from meteor_spark.operators.layout import z_value_expr as _zexpr  # noqa: E402

_ZB = 15
_ZBOX = (100, 299, 10, 39)  # partkey in [100,299], suppkey in [10,39]
_ZCHUNKS = 16


def _zorder_oracle() -> str:
    zd = _zexpr("xb", "yb", _ZB, "//")
    x_lo, x_hi, y_lo, y_hi = _ZBOX
    chunk = (
        "SELECT layout, c, min(x) AS x_min, max(x) AS x_max,"
        " min(y) AS y_min, max(y) AS y_max FROM {src} GROUP BY layout, c"
    )
    return f"""
    WITH base AS (
      SELECT CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y,
             CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS k
      FROM lineitem),
    bn AS (
      SELECT x, y, k,
             CAST(ntile({1 << _ZB}) OVER (ORDER BY x, k) - 1 AS BIGINT) AS xb,
             CAST(ntile({1 << _ZB}) OVER (ORDER BY y, k) - 1 AS BIGINT) AS yb
      FROM base),
    bz AS (SELECT x, y, k, CAST({zd} AS BIGINT) AS z FROM bn),
    cz AS (SELECT 'zorder' AS layout,
                  ntile({_ZCHUNKS}) OVER (ORDER BY z, k) AS c, x, y FROM bz),
    ck AS (SELECT 'rowkey' AS layout,
                  ntile({_ZCHUNKS}) OVER (ORDER BY k) AS c, x, y FROM base),
    mz AS ({chunk.format(src="cz")}),
    mk AS ({chunk.format(src="ck")}),
    m AS (SELECT * FROM mz UNION ALL SELECT * FROM mk),
    agg AS (
      SELECT layout, CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN x_max >= {x_lo} AND x_min <= {x_hi}
                            AND y_max >= {y_lo} AND y_min <= {y_hi}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_read
      FROM m GROUP BY layout)
    SELECT layout, n_chunks, n_read,
           CAST({_ppm("n_read", "n_chunks", "//")} AS BIGINT) AS read_ppm
    FROM agg
    """


@query("zorder_skipping_report", _zorder_oracle())
def zorder_skipping_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout vs single-key layout, measured as FILES READ
    (operators.layout.zorder_skipping_report): the table is chunked
    into 16 equal "files" sorted by the Morton interleave of
    (l_partkey, l_suppkey) and, separately, by the natural row key;
    each chunk records its min/max footer ranges; a two-dimensional
    box predicate then counts the chunks whose ranges intersect it —
    exactly the min/max pruning rule parquet/ORC readers apply. The
    Delta OPTIMIZE ZORDER BY payoff as an exact, engine-portable
    number (read_ppm per layout). The z-value is unrolled div/mod
    arithmetic over ntile-rank-normalized dimensions — no bit
    builtins, no silent wrap when keys exceed 2^bits (l_partkey does
    at 100x) — identical on both engines; ntile
    ties are broken by a total key (orderkey*10+linenumber), so the
    chunking is deterministic. Write-side cost at scale is the one
    range-partitioned sort a sorted layout pays anyway."""
    from meteor_spark.operators.layout import zorder_skipping_report as zrep

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rk"),
    )
    return zrep(
        li, "l_partkey", "l_suppkey", "rk", _ZBOX, n_chunks=_ZCHUNKS, bits=_ZB
    )


# Fixed, uid-keyed layout dir: the footer-skipping oracle must name the
# written files in its (static) SQL text, so this one path cannot ride
# the per-process mkdtemp root. Two hardenings beyond the bare name:
#   - the base dir is created 0700 and verified (lstat: directory, not
#     a symlink, owned by this uid) before any write — a /tmp squat of
#     the predictable name fails loudly instead of letting Spark's
#     overwrite delete/write through the squatted target;
#   - layouts are keyed one level deeper by FIXTURE label (basename of
#     sf_dir on the Spark side; $SPARK_GRAFT_FIXTURE, default sf0.01,
#     on the oracle side — tools/check_parity.py exports it before
#     importing this module), so concurrent sweeps over different
#     fixtures write disjoint dirs instead of racing one rewrite.
import os as _os  # noqa: E402
import stat as _stat  # noqa: E402
import tempfile as _tempfile  # noqa: E402

_ZREAL_BASE = _os.path.join(
    _tempfile.gettempdir(), f"msk_zreal_u{_os.getuid()}"
)
_ZREAL_FIXTURE = _os.environ.get("SPARK_GRAFT_FIXTURE", "sf0.01")


def _zreal_secure_base() -> str:
    """Create/verify the fixed layout root before trusting it."""
    try:
        _os.makedirs(_ZREAL_BASE, mode=0o700)
    except FileExistsError:
        pass
    st = _os.lstat(_ZREAL_BASE)
    if not _stat.S_ISDIR(st.st_mode) or st.st_uid != _os.getuid():
        raise RuntimeError(
            f"refusing to use {_ZREAL_BASE}: exists but is not a directory "
            f"owned by uid {_os.getuid()} (symlink squat?) — remove it"
        )
    return _ZREAL_BASE


def _zreal_oracle() -> str:
    x_lo, x_hi, y_lo, y_hi = _ZBOX
    per_file = """
      SELECT file_name,
             min(CASE WHEN path_in_schema = 'x' THEN mn END) AS x_min,
             max(CASE WHEN path_in_schema = 'x' THEN mx END) AS x_max,
             min(CASE WHEN path_in_schema = 'y' THEN mn END) AS y_min,
             max(CASE WHEN path_in_schema = 'y' THEN mx END) AS y_max,
             sum(CASE WHEN mn IS NULL OR mx IS NULL THEN 1 ELSE 0 END)
               AS n_statless
      FROM (
        SELECT file_name, path_in_schema,
               CAST(stats_min_value AS BIGINT) AS mn,
               CAST(stats_max_value AS BIGINT) AS mx
        FROM parquet_metadata('{glob}')
        WHERE path_in_schema IN ('x', 'y'))
      GROUP BY file_name
    """
    # n_statless > 0 => READ: a row group without stats on a predicate
    # column makes the whole file unprunable, matching footer_box_hits'
    # per-row-group completeness rule (the old NULL-falls-to-ELSE-0 bias
    # counted exactly those files as skipped)
    agg = f"""
      SELECT '{{layout}}' AS layout,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN n_statless > 0 THEN 1
                           WHEN x_max >= {x_lo} AND x_min <= {x_hi}
                            AND y_max >= {y_lo} AND y_min <= {y_hi}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_read
      FROM ({per_file})
    """
    zdir = f"{_ZREAL_BASE}/{_ZREAL_FIXTURE}"
    mz = agg.format(layout="zorder", glob=f"{zdir}/zorder/file_id=*/*.parquet")
    mk = agg.format(layout="rowkey", glob=f"{zdir}/rowkey/file_id=*/*.parquet")
    return f"""
    -- PRECONDITION: the Spark side of zorder_footer_skipping writes the
    -- parquet layouts this oracle reads (under {zdir}, keyed by fixture
    -- label = basename(sf_dir) / $SPARK_GRAFT_FIXTURE). Running this SQL
    -- first (or at a different fixture) fails at bind time with DuckDB's
    -- "No files found" IOException naming the missing path.
    WITH m AS ({mz} UNION ALL {mk})
    SELECT layout, n_files, n_read,
           CAST({_ppm("n_read", "n_files", "//")} AS BIGINT) AS read_ppm
    FROM m
    """


@query("zorder_footer_skipping", _zreal_oracle())
def zorder_footer_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zorder_skipping_report payoff certified on the STORAGE
    ENGINE itself (layout.write_zorder_files + footer_box_hits): the
    same ntile-rank-normalized Morton chunking is WRITTEN as real
    parquet files (one per chunk, both layouts), and the skipping count
    comes from the files' REAL footer min/max statistics — Spark reads
    them through pyarrow metadata, the oracle independently through
    DuckDB's parquet_metadata(), neither touching a data page. Agreeing
    n_read means the min/max pruning rule the synthetic report models
    is exactly what these files deliver to any stats-pruning reader
    (Spark parquet filter pushdown, DuckDB zone-map skipping,
    Delta/Iceberg file stats). Write cost: the one range sort per
    layout any sorted write pays; the readout touches 2 x n_files
    KB-sized footers."""
    from meteor_spark.operators.layout import footer_box_hits, write_zorder_files

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rk"),
    )
    zdir = _os.path.join(
        _zreal_secure_base(), _os.path.basename(sf_dir.rstrip("/"))
    )
    # The two layout writes are independent jobs whose heavy stages are
    # single-partition ntile window chains (one core each); running them
    # sequentially leaves the cluster idle during both (guide §2.6 —
    # overlap independent jobs). A 2-thread pool overlaps the rowkey
    # write (~1.7s at sf0.1) entirely inside the zorder write (~3.6s);
    # outputs are disjoint dirs, results deterministic, order preserved
    # by pool.map.
    from concurrent.futures import ThreadPoolExecutor

    def _one_layout(args: tuple) -> tuple:
        layout, z = args
        path = f"{zdir}/{layout}"
        write_zorder_files(
            li, path, "l_partkey", "l_suppkey", "rk",
            n_files=_ZCHUNKS, bits=_ZB, zorder=z,
        )
        n_files, n_read = footer_box_hits(spark, path, _ZBOX)
        return (layout, n_files, n_read, n_read * 1_000_000 // n_files)

    with ThreadPoolExecutor(max_workers=2) as pool:
        rows = list(pool.map(_one_layout, (("zorder", True), ("rowkey", False))))
    return spark.createDataFrame(
        rows, "layout string, n_files long, n_read long, read_ppm long"
    )


# skipping bound for the DISTRIBUTED writer: <= 6/16 files under _ZBOX.
# Measured n_read/16: sf0.01 4, sf0.1 2, 10x 1 — the bound is 1.5x the
# worst observed (small fixtures are noisiest: fewer rows per quantile
# bucket widen each file's min/max box).
_ZDIST_BOUND_PPM = 375_000


def _zdist_oracle() -> str:
    x_lo, x_hi, y_lo, y_hi = _ZBOX
    glob = f"{_ZREAL_BASE}/{_ZREAL_FIXTURE}/zdist/part-*.parquet"
    return f"""
    -- PRECONDITION: the Spark side of zorder_distributed_skipping writes
    -- the layout this oracle reads (see zorder_footer_skipping's note).
    WITH per_file AS (
      SELECT file_name,
             min(CASE WHEN path_in_schema = 'x' THEN mn END) AS x_min,
             max(CASE WHEN path_in_schema = 'x' THEN mx END) AS x_max,
             min(CASE WHEN path_in_schema = 'y' THEN mn END) AS y_min,
             max(CASE WHEN path_in_schema = 'y' THEN mx END) AS y_max,
             sum(CASE WHEN mn IS NULL OR mx IS NULL THEN 1 ELSE 0 END)
               AS n_statless
      FROM (
        SELECT file_name, path_in_schema,
               CAST(stats_min_value AS BIGINT) AS mn,
               CAST(stats_max_value AS BIGINT) AS mx
        FROM parquet_metadata('{glob}')
        WHERE path_in_schema IN ('x', 'y'))
      GROUP BY file_name),
    -- a row group without stats on a predicate column makes its file
    -- unprunable (matches footer_box_hits' completeness rule)
    reads AS (
      SELECT CASE WHEN n_statless > 0 THEN 1
                  WHEN x_max >= {x_lo} AND x_min <= {x_hi}
                   AND y_max >= {y_lo} AND y_min <= {y_hi}
                  THEN 1 ELSE 0 END AS is_read
      FROM per_file)
    SELECT 'zorder_distributed' AS layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(is_read) AS BIGINT) AS n_read,
           CAST({_ZDIST_BOUND_PPM} AS BIGINT) AS bound_ppm,
           (sum(is_read) * 1000000 <= count(*) * {_ZDIST_BOUND_PPM})
             AS within_bound
    FROM reads
    """


@query("zorder_distributed_skipping", _zdist_oracle())
def zorder_distributed_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION z-order write path certified on real footers:
    io.write_zordered — one multi-column approxQuantile pass for the
    bucket boundaries, Morton interleave JVM-side, repartitionByRange +
    sortWithinPartitions (a distributed plan: no single-partition
    Exchange, no Window — pinned in tests/test_plans.py) — writes the
    layout, then both engines read the REAL parquet footers (pyarrow vs
    DuckDB parquet_metadata) and check a skipping BOUND: n_read <=
    bound_ppm of n_files under the _ZBOX predicate. A bound, not exact
    chunk identity, because range boundaries come from reservoir
    sampling and quantiles from an approx sketch — the file split may
    move a row between neighbors across runs, but the clustering payoff
    it exists to deliver must hold every run. The exact-identity twins
    (zorder_skipping_report / zorder_footer_skipping, serial ntile)
    stay the bit-deterministic gates; this one certifies the writer a
    1000-executor cluster would actually run. The bound claim itself is
    enforced in tests/test_scale_io.py; here both engines must agree on
    every published number from independent footer reads."""
    from meteor_spark.io import write_zordered
    from meteor_spark.operators.layout import footer_box_hits

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("x"),
        F.col("l_suppkey").alias("y"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("k"),
    )
    path = _os.path.join(
        _zreal_secure_base(), _os.path.basename(sf_dir.rstrip("/")), "zdist"
    )
    write_zordered(li, path, ["x", "y"], bits=8, n_files=_ZCHUNKS)
    n_files, n_read = footer_box_hits(
        spark, path, _ZBOX, glob_pattern="part-*.parquet"
    )
    return spark.createDataFrame(
        [(
            "zorder_distributed",
            n_files,
            n_read,
            _ZDIST_BOUND_PPM,
            n_read * 1_000_000 <= n_files * _ZDIST_BOUND_PPM,
        )],
        "layout string, n_files long, n_read long, bound_ppm long, within_bound boolean",
    )


@query(
    "multi_touch_attribution",
    f"""
    WITH pairs AS (
      SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             p.user_id,
             CAST(round(p.value * 100) AS BIGINT) AS purchase_value_cents
      FROM events p JOIN events c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'),
    n AS (SELECT purchase_id, CAST(count(*) AS BIGINT) AS n_touches
          FROM pairs GROUP BY purchase_id)
    SELECT pr.purchase_id, pr.click_id, pr.user_id, pr.purchase_value_cents,
           n.n_touches,
           CAST({_ppm("1", "n.n_touches", "//")} AS BIGINT) AS credit_ppm
    FROM pairs pr JOIN n USING (purchase_id)
    """,
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every click in the trailing
    hour of a same-user purchase shares the credit EQUALLY
    (credit_ppm = floor(1e6 / n_touches)) — the multi-touch
    generalization of the last-touch join the click-attribution gates
    already certify, and the standard first marketing model beyond
    last-click. Same bounded interval self-join (watermark-shaped:
    the time bound caps join state at stream scale); the touch count
    rides a purchase-keyed window over pair rows, never re-scanning
    events; credit is exact-integer ppm, and the purchase value is
    published in exact integer CENTS (the sql_api_revenue fixed-point
    discipline) — a rounded double here would be a latent HALF_UP vs
    half-even parity flake near .xx5 boundaries."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        _fp_lift(F.col("value")).alias("purchase_value_cents"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
    )
    pairs = p.join(c, "user_id").filter(
        (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    w = Window.partitionBy("purchase_id")
    return pairs.select(
        "purchase_id",
        "click_id",
        "user_id",
        "purchase_value_cents",
        F.count("*").over(w).cast("long").alias("n_touches"),
    ).withColumn(
        "credit_ppm",
        F.expr(_ppm("1", "n_touches", "div")).cast("long"),
    )


def _hll_est_sql(src: str, keys: str) -> str:
    """DuckDB HLL estimate from a (keys, reg, rho) frame — the
    _HLL64_ORACLE readout parameterized by key list (used by the
    source-overlap oracle at two levels: per-source and per-pair)."""
    m = _HLL64_M
    return f"""
  SELECT {keys},
         round(CASE WHEN {_HLL64_ALPHA_NUM!r} / s <= 2.5 * {m} AND v > 0
                    THEN {float(m)!r} * ln({float(m)!r} / v)
                    ELSE {_HLL64_ALPHA_NUM!r} / s END, 4) AS est
  FROM (
    SELECT {keys},
           sum(CAST(1 AS BIGINT) << (50 - rho))
             + ({m} - count(rho)) * (CAST(1 AS BIGINT) << 50) AS s,
           {m} - count(rho) AS v
    FROM {src} GROUP BY {keys})
"""


_OVHLL_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array({_NORM_SQL}, ' ')) AS w
  FROM documents),
h AS (
  SELECT source,
         ('0x' || substr(md5(w), 1, 8))::BIGINT % {_HLL64_M} AS reg,
         CASE WHEN ('0x' || substr(md5(w), 9, 8))::BIGINT = 0 THEN 33
              ELSE 33 - len(bin(('0x' || substr(md5(w), 9, 8))::BIGINT)) END
           AS rho
  FROM toks),
regs AS (SELECT source, reg, max(rho) AS rho FROM h GROUP BY 1, 2),
singles AS ({_hll_est_sql("regs", "source")}),
srcs AS (SELECT DISTINCT source FROM regs),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM srcs a, srcs b WHERE a.source < b.source),
uregs0 AS (
  SELECT p.src_a, p.src_b, r.reg, r.rho
  FROM pairs p JOIN regs r ON r.source = p.src_a
  UNION ALL
  SELECT p.src_a, p.src_b, r.reg, r.rho
  FROM pairs p JOIN regs r ON r.source = p.src_b),
uregs AS (SELECT src_a, src_b, reg, max(rho) AS rho
          FROM uregs0 GROUP BY 1, 2, 3),
uest AS ({_hll_est_sql("uregs", "src_a, src_b")})
SELECT u.src_a, u.src_b,
       sa.est AS est_a, sb.est AS est_b, u.est AS est_union,
       floor((sa.est + sb.est - u.est) * 1e4 + 0.5) / 1e4 AS overlap_est
FROM uest u
JOIN singles sa ON sa.source = u.src_a
JOIN singles sb ON sb.source = u.src_b
"""


@query("source_overlap_hll_estimate", _OVHLL_ORACLE)
def source_overlap_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap WITHOUT intersecting
    anything (sketches.hll_pairwise_overlap): per-source portable-HLL
    register partials over the token stream, union estimates by
    register max-merge, overlap by inclusion-exclusion — the sketch
    answer to the question source_overlap_matrix answers exactly, at
    register cost instead of a quadratic token-pair shuffle. The
    DuckDB oracle rebuilds registers, merges, and both estimate
    levels bit-for-bit (md5 registers + exact-integer harmonic sums,
    the events_portable_hll_rollup discipline; overlap published via
    the floor-shift rounding)."""
    from meteor_spark.operators import sketches
    from meteor_spark.operators.text import normalize_text

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("w"),
    )
    partials = persist(sketches.hll64_partials(toks, ["source"], "w", lg_k=_HLL64_LGK))
    return sketches.hll_pairwise_overlap(partials, "source", lg_k=_HLL64_LGK)


@query(
    "lineitem_constraint_report",
    """
    WITH rowchecks AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
             AS BIGINT) AS range_quantity,
        CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END)
             AS BIGINT) AS range_discount,
        CAST(sum(CASE WHEN l_returnflag NOT IN ('R', 'A', 'N') OR
                           l_returnflag IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS accepted_returnflag,
        CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS not_null_shipdate,
        CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS positive_price
      FROM lineitem),
    long_rows AS (
      SELECT 'range_quantity' AS "constraint", n AS n_checked,
             range_quantity AS n_violations FROM rowchecks
      UNION ALL SELECT 'range_discount', n, range_discount FROM rowchecks
      UNION ALL SELECT 'accepted_returnflag', n, accepted_returnflag FROM rowchecks
      UNION ALL SELECT 'not_null_shipdate', n, not_null_shipdate FROM rowchecks
      UNION ALL SELECT 'positive_price', n, positive_price FROM rowchecks),
    fk AS (
      SELECT 'fk_l_orderkey' AS "constraint", CAST(NULL AS BIGINT) AS n_checked,
             CAST(count(*) AS BIGINT) AS n_violations
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey IS NULL)
    SELECT "constraint", n_checked, n_violations, n_violations = 0 AS passed
    FROM (SELECT * FROM long_rows UNION ALL SELECT * FROM fk)
    ORDER BY "constraint"
    """,
)
def lineitem_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite over lineitem (profile.
    constraint_report — the dbt-test / expectation-suite shape): five
    ROW-LEVEL checks (ranges, accepted values, not-null, positivity) fused into ONE conditional-aggregation pass, plus
    referential integrity as a broadcast anti-join against the orders
    key projection — the fact table is scanned exactly twice no matter
    how many row checks ride along. One row per constraint:
    (constraint, n_checked, n_violations, passed). The per-constraint
    report is what a pipeline gates deploys on — the single-row
    profile twins (referential_integrity_report) feed dashboards."""
    from meteor_spark.operators.profile import constraint_report

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    checks = [
        ("range_quantity", "l_quantity < 1 OR l_quantity > 50"),
        ("range_discount", "l_discount < 0 OR l_discount > 0.1"),
        (
            "accepted_returnflag",
            "l_returnflag NOT IN ('R', 'A', 'N') OR l_returnflag IS NULL",
        ),
        ("not_null_shipdate", "l_shipdate IS NULL"),
        ("positive_price", "l_extendedprice <= 0"),
    ]
    return constraint_report(li, orders, "l_orderkey", "o_orderkey", checks)


@query(
    "user_ldiversity_census",
    f"""
    WITH h AS (
      SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
    dom AS (
      SELECT user_id, event_type AS sens FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY c DESC, event_type) AS r
        FROM h) WHERE r = 1),
    sig AS (
      SELECT user_id,
             string_agg(event_type || ':' || CAST(length(bin(c)) AS VARCHAR),
                        ',' ORDER BY event_type) AS sig
      FROM h GROUP BY user_id),
    per_set AS (
      SELECT s.sig, count(*) AS k, count(DISTINCT d.sens) AS l
      FROM sig s JOIN dom d USING (user_id) GROUP BY s.sig),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM sig),
    census AS (
      SELECT CAST(l AS BIGINT) AS l, CAST(count(*) AS BIGINT) AS n_sets,
             CAST(sum(k) AS BIGINT) AS n_users
      FROM per_set GROUP BY l)
    SELECT l, n_sets, n_users,
           CAST({_ppm("n_users", "n_total", "//")} AS BIGINT) AS user_share_ppm
    FROM census, tot ORDER BY l
    """,
)
def user_ldiversity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity census (usage.ldiversity_census) — the homogeneity-
    attack complement to user_kanonymity_census: within each
    generalized-signature anonymity set, how many DISTINCT dominant
    event types (the sensitive value) do its users exhibit? l = 1
    sets leak the sensitive value without re-identification, however
    large k is. Dominant value ties break lexicographically, the
    signature is the kanonymity gate's integer-exact magnitude-band
    string, and the census is all-integer ppm — bit-stable at any N."""
    from meteor_spark.operators.usage import ldiversity_census

    return ldiversity_census(_t(spark, sf_dir, "events"))


@query(
    "user_tcloseness_census",
    """
    WITH h AS (
      SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
    dom AS (
      SELECT user_id, event_type AS sens FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY c DESC, event_type) AS r
        FROM h) WHERE r = 1),
    sig AS (
      SELECT user_id,
             string_agg(event_type || ':' || CAST(length(bin(c)) AS VARCHAR),
                        ',' ORDER BY event_type) AS sig
      FROM h GROUP BY user_id),
    j AS (SELECT s.user_id, s.sig, d.sens FROM sig s JOIN dom d USING (user_id)),
    set_counts AS (SELECT sig, sens, CAST(count(*) AS BIGINT) AS c
                   FROM j GROUP BY 1, 2),
    set_sizes AS (SELECT sig, CAST(count(*) AS BIGINT) AS k FROM j GROUP BY sig),
    gd AS (SELECT sens, CAST(count(*) AS BIGINT) AS g FROM j GROUP BY sens),
    ng AS (SELECT CAST(count(*) AS BIGINT) AS n_g FROM j),
    grid AS (
      SELECT ss.sig, ss.k,
             abs(coalesce(sc.c, 0) * ng.n_g - gl.g * ss.k) AS term, ng.n_g
      FROM set_sizes ss CROSS JOIN gd gl CROSS JOIN ng
      LEFT JOIN set_counts sc ON sc.sig = ss.sig AND sc.sens = gl.sens),
    per_set AS (
      SELECT sig, k, n_g, CAST(sum(term) AS BIGINT) AS t_num
      FROM grid GROUP BY 1, 2, 3),
    scored AS (
      SELECT k, CAST(((t_num) // (2 * k * n_g)) * 1000000 + (((((t_num) % (2 * k * n_g)) * 10)) // (2 * k * n_g)) * 100000 + ((((((((t_num) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) // (2 * k * n_g)) * 10000 + (((((((((((t_num) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) // (2 * k * n_g)) * 1000 + ((((((((((((((t_num) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) // (2 * k * n_g)) * 100 + (((((((((((((((((t_num) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) // (2 * k * n_g)) * 10 + ((((((((((((((((((((t_num) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) % (2 * k * n_g)) * 10)) // (2 * k * n_g)) * 1 AS BIGINT) AS t_ppm FROM per_set)
    SELECT k, CAST(count(*) AS BIGINT) AS n_sets,
           CAST(max(t_ppm) AS BIGINT) AS max_t_ppm
    FROM scored GROUP BY k ORDER BY k
    """,
)
def user_tcloseness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness census (usage.tcloseness_census) — completes the
    privacy-audit trio: k-anonymity asks how BIG the sets are,
    l-diversity how VARIED their sensitive values, t-closeness how
    far each set's sensitive-value DISTRIBUTION sits from the global
    one (the skewness attack l-diversity misses). Total variation in
    exact-integer cross-multiplied form, published per set size as
    the worst set's t_ppm via fixed_div_expr (valid to ~1e8 users;
    shard past that). Set grid is |sigs| x |attr domain| rows — never
    user-sized."""
    from meteor_spark.operators.usage import tcloseness_census

    return tcloseness_census(_t(spark, sf_dir, "events"))
