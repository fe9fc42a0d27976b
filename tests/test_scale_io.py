"""Plan-level assertions for the scale levers: filter pushdown,
broadcast hints, z-order layouts and file compaction."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ to expose exchanges
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 49).select("l_orderkey")
    plan = _plan(q)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity,49" in plan
    # column pruning: scan reads only the 2 needed columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_broadcast_hint_respected(spark, sf_dir, warehouse):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    j = li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    assert "BroadcastHashJoin" in _plan(j)


def test_zorder_write_tightens_file_stats_on_both_dims(spark, sf_dir, tmp_path):
    """Z-ordered layout must narrow per-file min/max ranges on BOTH
    clustering columns simultaneously (single-column sorting can only do
    one) — that's what lets parquet row-group stats skip files for a
    predicate on either dimension."""
    import glob

    import pyarrow.parquet as pq

    from meteor_spark.io import read_parquet_table, write_zordered

    e = read_parquet_table(spark, f"{sf_dir}/events.parquet").select("user_id", "value", "event_id")
    path = str(tmp_path / "events_z")
    write_zordered(e, path, ["user_id", "value"], n_files=8)

    out = spark.read.parquet(path)
    assert out.count() == e.count()  # clustering is a permutation, not a filter

    spans = {"user_id": [], "value": []}
    glob_min, glob_max = {}, {}
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) >= 4
    for f in files:
        md = pq.ParquetFile(f).metadata
        for col in spans:
            idx = md.schema.to_arrow_schema().get_field_index(col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            lo, hi = min(mins), max(maxs)
            spans[col].append(hi - lo)
            glob_min[col] = min(glob_min.get(col, lo), lo)
            glob_max[col] = max(glob_max.get(col, hi), hi)
    for col, sp in spans.items():
        full = glob_max[col] - glob_min[col]
        avg_span = sum(sp) / len(sp)
        # each dimension's per-file range must be well under the global
        # range (z-interleave gives every dim locality, not just the
        # primary sort key)
        assert avg_span < 0.8 * full, f"{col}: avg file span {avg_span} vs global {full}"


def test_compact_files_reduces_file_count(spark, sf_dir, tmp_path):
    from meteor_spark.io import compact_files, list_data_files

    src = str(tmp_path / "shattered")
    dst = str(tmp_path / "compacted")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events.repartition(64).write.parquet(src)  # simulate a small-file mess
    assert len(list_data_files(spark, src)) == 64

    before, after = compact_files(spark, src, dst, target_bytes=8 << 20)
    assert before == 64 and after < 8
    # the rewrite is lossless
    a = spark.read.parquet(dst)
    assert a.count() == events.count()
    assert sorted(a.columns) == sorted(events.columns)
    assert a.agg(F.sum("value")).first()[0] == pytest.approx(
        events.agg(F.sum("value")).first()[0]
    )


def test_compact_files_shuffle_mode_even_sizes(spark, sf_dir, tmp_path):
    from meteor_spark.io import compact_files, list_data_files

    src = str(tmp_path / "shattered2")
    dst = str(tmp_path / "compacted2")
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(32).write.parquet(src)
    compact_files(spark, src, dst, target_bytes=16 << 10, shuffle=True)
    sizes = [sz for _, sz in list_data_files(spark, dst)]
    assert len(sizes) >= 2
    assert max(sizes) < 2.5 * min(sizes)  # round-robin keeps files even


def test_zorder_value_rejects_sign_bit_overflow(spark):
    # regression: bits=16 x 4 cols put the top interleaved bit at
    # position 63 (the sign bit), making ~half the z-values negative
    import pytest

    from pyspark.sql import functions as F

    from meteor_spark.io import zorder_value

    with pytest.raises(ValueError, match="63 usable"):
        zorder_value([F.col(c) for c in "abcd"], bits=16)


def test_z_value_expr_matches_bit_interleave(spark):
    from meteor_spark.operators.layout import z_value_expr

    def z_py(x, y, bits=10):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    df = spark.range(200).selectExpr("id % 17 AS x", "(id * 7) % 23 AS y")
    got = df.selectExpr("x", "y", f"CAST({z_value_expr('x', 'y', 10)} AS BIGINT) AS z").collect()
    for r in got:
        assert r["z"] == z_py(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_reads_fewer_chunks_than_rowkey(spark, sf_dir):
    from pyspark.sql import functions as F

    from meteor_spark.io import read_parquet_table
    from meteor_spark.operators.layout import zorder_skipping_report

    li = read_parquet_table(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rk"),
    )
    # box from the data's own range so the test is meaningful at any
    # fixture scale (a fixed box can be empty at sf0.001)
    b = li.agg(
        F.max("l_partkey").alias("xm"), F.max("l_suppkey").alias("ym")
    ).first()
    box = (b["xm"] // 10, 3 * b["xm"] // 10, b["ym"] // 10, 4 * b["ym"] // 10)
    out = {
        r["layout"]: r
        for r in zorder_skipping_report(
            li, "l_partkey", "l_suppkey", "rk", box
        ).collect()
    }
    # the point of the layout: the same box touches strictly fewer
    # z-ordered chunks than row-key-ordered chunks
    assert out["zorder"]["n_read"] < out["rowkey"]["n_read"]
    assert out["zorder"]["n_chunks"] == out["rowkey"]["n_chunks"] == 16


def test_zordered_frame_plan_is_distributed_and_bound_holds(spark, sf_dir):
    """The production z-order writer must stay a DISTRIBUTED plan — no
    single-partition Exchange (the percent_rank window it replaced
    funnelled the whole table through one task) and no Window at all —
    and the layout it writes must actually deliver the skipping bound
    the zorder_distributed_skipping gate publishes (n_read <= 6/16
    files under the gate's box predicate)."""
    from meteor_spark.io import zordered_frame, write_zordered
    from meteor_spark.operators.layout import footer_box_hits
    import tempfile

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_partkey").alias("x"),
        F.col("l_suppkey").alias("y"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("k"),
    )
    plan = _plan(zordered_frame(li, ["x", "y"], bits=8, n_files=16))
    assert "SinglePartition" not in plan, plan
    assert "Window" not in plan, plan
    assert "rangepartitioning" in plan.lower(), plan

    with tempfile.TemporaryDirectory() as d:
        write_zordered(li, d, ["x", "y"], bits=8, n_files=16)
        n_files, n_read = footer_box_hits(
            spark, d, (100, 299, 10, 39), glob_pattern="part-*.parquet"
        )
    assert n_files == 16
    assert n_read * 1_000_000 <= n_files * 375_000, (n_files, n_read)
