"""Kill-and-resume equality for the stateful streaming gates: process
the first half of the microbatches, STOP the query, restart from the
checkpoint over the remaining files, and assert the union of published
output equals the uninterrupted single run. Batch boundaries are pinned
identical in both runs (maxFilesPerTrigger=1, mtime order), so any
divergence is recovery state, not batching."""

from __future__ import annotations

from pyspark.sql import functions as F


def _stage_parquet(df, build_dir, watch_dir, name: str, mtime: int) -> None:
    import glob
    import os

    d = str(build_dir / name)
    df.coalesce(1).write.mode("overwrite").parquet(d)
    src = glob.glob(f"{d}/part-*.parquet")[0]
    dst = watch_dir / f"{name}.parquet"
    dst.write_bytes(open(src, "rb").read())
    os.utime(dst, (mtime, mtime))


def _ttl_batches(spark):
    """The streaming_ttl_dedup gate's exact four-microbatch fixture:
    fresh keys, live-state drops, and post-eviction re-admission
    (queries.py streaming_ttl_dedup)."""
    t0 = 1_700_000_000
    return (
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


def _run_ttl_foreach(spark, watch, ckpt) -> list:
    """Drive the TTL dedup over whatever files currently sit in watch,
    from (or creating) the given checkpoint; foreachBatch is the
    fault-tolerant sink path (the memory sink cannot recover)."""
    got: list = []

    def collect_batch(df, _epoch):
        got.extend((r["k"], r["ts_s"]) for r in df.collect())

    s = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    out = (
        s.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["k"])
        .select("k", F.expr("CAST(unix_timestamp(ts) AS BIGINT)").alias("ts_s"))
    )
    q = (
        out.writeStream.foreachBatch(collect_batch)
        .outputMode("append")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return got


def test_ttl_dedup_kill_and_resume_equals_uninterrupted(spark, tmp_path):
    """dropDuplicatesWithinWatermark state (live keys + watermark) must
    survive a stop/restart: a key first seen before the stop must still
    be dropped after the restart while its TTL state lives, and the
    split run's total output must equal the uninterrupted run row for
    row."""
    batches = _ttl_batches(spark)

    # uninterrupted reference: all four files visible from the start
    w_all = tmp_path / "all"
    w_all.mkdir()
    for i, b in enumerate(batches):
        _stage_parquet(b, tmp_path, w_all, f"batch_{i}", 1_700_000_000 + i * 1000)
    ref = _run_ttl_foreach(spark, w_all, tmp_path / "ckpt_all")

    # split run: two files, stop, stage the rest, resume from checkpoint
    w = tmp_path / "split"
    w.mkdir()
    for i in (0, 1):
        _stage_parquet(batches[i], tmp_path, w, f"batch_{i}", 1_700_000_000 + i * 1000)
    first = _run_ttl_foreach(spark, w, tmp_path / "ckpt_split")
    for i in (2, 3):
        _stage_parquet(batches[i], tmp_path, w, f"batch_{i}", 1_700_000_000 + i * 1000)
    second = _run_ttl_foreach(spark, w, tmp_path / "ckpt_split")

    assert sorted(first + second) == sorted(ref)
    # the resumed run must have processed only the new files (state
    # carried, input offsets honored): batch_0's 100 keys belong to run 1
    assert len(first) == 120  # b0's 100 fresh + b1's 20 fresh
    # b3 re-admissions/drops land in run 2 exactly as uninterrupted
    assert len(second) == len(ref) - 120


def test_incremental_dedup_kill_and_resume_equals_uninterrupted(spark, tmp_path):
    """The fingerprint-store continuation path (seed=False + the same
    checkpoint) must resume mid-stream: fingerprints appended before the
    stop still dedup later batches, and the final survivor set equals
    the uninterrupted run's."""
    import os

    from meteor_spark.streaming.pipeline import incremental_dedup_stream

    corpus = spark.createDataFrame([(1, "alpha text")], "doc_id long, text string")
    batches = [
        spark.createDataFrame(
            [(10, "bravo text"), (11, "charlie text")], "doc_id long, text string"
        ),
        spark.createDataFrame(
            [(20, "BRAVO   text"), (21, "delta text")], "doc_id long, text string"
        ),
        # 30 dups batch-1's survivor 11 ACROSS the stop boundary; 31 dups
        # the corpus; 32 is novel
        spark.createDataFrame(
            [(30, "  CHARLIE text"), (31, "alpha  TEXT"), (32, "echo text")],
            "doc_id long, text string",
        ),
        spark.createDataFrame(
            [(40, "delta   TEXT"), (41, "foxtrot text")], "doc_id long, text string"
        ),
    ]

    def stage_all(watch, idxs):
        for i in idxs:
            _stage_parquet(
                batches[i], tmp_path, watch, f"batch_{i}", 1_700_000_000 + i * 1000
            )

    # uninterrupted reference
    w_all = tmp_path / "d_all"
    w_all.mkdir()
    stage_all(w_all, range(4))
    ref = incremental_dedup_stream(
        spark, str(w_all), corpus, str(tmp_path / "d_store_all"), str(tmp_path / "d_ck_all")
    )
    ref_ids = sorted(r["doc_id"] for r in ref.collect())
    assert ref_ids == [10, 11, 21, 32, 41]

    # split run
    w = tmp_path / "d_split"
    w.mkdir()
    stage_all(w, (0, 1))
    incremental_dedup_stream(
        spark, str(w), corpus, str(tmp_path / "d_store"), str(tmp_path / "d_ck")
    )
    stage_all(w, (2, 3))
    out = incremental_dedup_stream(
        spark,
        str(w),
        corpus,
        str(tmp_path / "d_store"),
        str(tmp_path / "d_ck"),
        seed=False,  # continue on the existing store — do NOT rebuild it
    )
    assert sorted(r["doc_id"] for r in out.collect()) == ref_ids


def test_incremental_neardup_kill_and_resume_equals_uninterrupted(spark, tmp_path):
    """The LSH band store's continuation path: a post-restart batch doc
    that is a near-dup of a PRE-restart survivor must still be dropped
    (band + shingle state persisted through the store, offsets through
    the checkpoint), and the final survivor set equals the uninterrupted
    run's."""
    from meteor_spark.streaming.pipeline import incremental_neardup_stream

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame([(1, base)], "doc_id long, text string")
    novel_a = "completely different content about spark structured streaming state stores and dedup"
    novel_b = "unrelated text on partition pruning bucketing and broadcast joins in catalyst"
    batches = [
        spark.createDataFrame(
            [(10, base.replace("today", "tonight")), (11, novel_a)],
            "doc_id long, text string",
        ),
        # 20 near-dups pre-restart survivor 11 ACROSS the stop boundary;
        # 21 is novel
        spark.createDataFrame(
            [(20, novel_a + " pipelines"), (21, novel_b)], "doc_id long, text string"
        ),
        spark.createDataFrame(
            # " pipelines" (not " again"): the suffix must actually
            # band-collide with novel_b under the deterministic minhash
            # (verified by direct band-key comparison; " again" misses
            # every band and would test nothing)
            [(30, novel_b + " pipelines"), (31, "fresh words about watermark eviction and quantile sketches entirely")],
            "doc_id long, text string",
        ),
    ]

    def stage_all(watch, idxs):
        for i in idxs:
            _stage_parquet(
                batches[i], tmp_path, watch, f"batch_{i}", 1_700_000_000 + i * 1000
            )

    w_all = tmp_path / "n_all"
    w_all.mkdir()
    stage_all(w_all, range(3))
    ref = incremental_neardup_stream(
        spark, str(w_all), corpus, str(tmp_path / "n_store_all"), str(tmp_path / "n_ck_all"),
        threshold=0.5,
    )
    ref_ids = sorted(r["doc_id"] for r in ref.collect())
    assert ref_ids == [11, 21, 31]

    w = tmp_path / "n_split"
    w.mkdir()
    stage_all(w, (0,))
    incremental_neardup_stream(
        spark, str(w), corpus, str(tmp_path / "n_store"), str(tmp_path / "n_ck"),
        threshold=0.5,
    )
    stage_all(w, (1, 2))
    out = incremental_neardup_stream(
        spark, str(w), corpus, str(tmp_path / "n_store"), str(tmp_path / "n_ck"),
        threshold=0.5, seed=False,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == ref_ids


def test_sliding_distinct_state_kill_and_resume(spark, tmp_path):
    """The HLL-register partials behind streaming_sliding_distinct are a
    streaming groupBy-max: in update mode each microbatch emits the keys
    it changed. After a stop/restart the state store must restore the
    max-rho registers, so replaying the LAST update per key from the
    split run must equal the uninterrupted run AND the batch registers
    over the full data."""
    from meteor_spark.operators import sketches

    t0 = 1_700_000_000
    batches = [
        spark.range(500).selectExpr(
            "id AS user_id", "'click' AS event_type",
            f"timestamp_seconds({t0} + id) AS ts",
        ),
        # overlapping users: must NOT raise registers twice
        spark.range(400).selectExpr(
            "id AS user_id", "'click' AS event_type",
            f"timestamp_seconds({t0} + 3600 + id) AS ts",
        ),
        spark.range(300, 900).selectExpr(
            "id AS user_id", "'view' AS event_type",
            f"timestamp_seconds({t0} + 7200 + id) AS ts",
        ),
    ]

    def run(watch, ckpt) -> dict:
        latest: dict = {}

        def collect_batch(df, epoch):
            for r in df.collect():
                latest[(r["event_type"], r["hr"], r["reg"])] = (epoch, r["rho"])

        s = (
            spark.readStream.schema("user_id long, event_type string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(watch))
        )
        partials = sketches.hll64_partials(
            s.withColumn("hr", F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 3600")),
            ["event_type", "hr"],
            "user_id",
            lg_k=6,
        )
        q = (
            partials.writeStream.foreachBatch(collect_batch)
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return latest

    w_all = tmp_path / "s_all"
    w_all.mkdir()
    for i, b in enumerate(batches):
        _stage_parquet(b, tmp_path, w_all, f"batch_{i}", 1_700_000_000 + i * 1000)
    ref = run(w_all, tmp_path / "s_ck_all")

    w = tmp_path / "s_split"
    w.mkdir()
    _stage_parquet(batches[0], tmp_path, w, "batch_0", 1_700_000_000)
    first = run(w, tmp_path / "s_ck")
    for i in (1, 2):
        _stage_parquet(batches[i], tmp_path, w, f"batch_{i}", 1_700_000_000 + i * 1000)
    second = run(w, tmp_path / "s_ck")

    merged = dict(first)
    merged.update(second)  # later run's updates win per key
    final = {k: v[1] for k, v in merged.items()}
    assert final == {k: v[1] for k, v in ref.items()}

    # ... and both equal the BATCH registers over the full data — the
    # same equality the gate's oracle asserts
    full = batches[0].unionByName(batches[1]).unionByName(batches[2]).withColumn(
        "hr", F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 3600")
    )
    batch_regs = {
        (r["event_type"], r["hr"], r["reg"]): r["rho"]
        for r in sketches.hll64_partials(full, ["event_type", "hr"], "user_id", lg_k=6).collect()
    }
    assert final == batch_regs
