"""Structured Streaming: windowed rollup, incremental dedup, watermark
semantics on bounded input (must equal batch)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from meteor_spark.streaming.pipeline import (
    run_stream_to_batch,
    stream_events,
    windowed_rollup,
)


def test_windowed_rollup_equals_batch(spark, sf_dir):
    out = run_stream_to_batch(windowed_rollup(stream_events(spark, sf_dir)))
    from meteor_spark.queries import events_hourly_rollup

    batch = events_hourly_rollup(spark, sf_dir)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_windowed_rollup_window_alignment(spark, sf_dir):
    out = run_stream_to_batch(windowed_rollup(stream_events(spark, sf_dir), window="1 hour"))
    hours = [r["hour"] for r in out.select("hour").distinct().collect()]
    assert all(h.endswith(":00:00") for h in hours)


def test_incremental_dedup_stream_cross_batch(spark, tmp_path):
    """A duplicate spanning two microbatches must be caught by the
    fingerprint store (batch 2's copy dropped), and corpus re-crawls
    must never survive."""
    import os

    from meteor_spark.streaming.pipeline import incremental_dedup_stream

    corpus = spark.createDataFrame([(1, "alpha text")], "doc_id long, text string")
    b1 = spark.createDataFrame([(10, "bravo text"), (11, "charlie text")], "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(20, "BRAVO   text"), (21, "delta text"), (22, "alpha text")], "doc_id long, text string"
    )
    watch = tmp_path / "in"
    watch.mkdir()
    for i, part in enumerate((b1, b2)):
        d = str(tmp_path / f"b{i}")
        part.coalesce(1).write.parquet(d)
        src = next(p for p in os.listdir(d) if p.startswith("part-") and p.endswith(".parquet"))
        dst = watch / f"batch_{i}.parquet"
        (dst).write_bytes((tmp_path / f"b{i}" / src).read_bytes())
        os.utime(dst, (1_700_000_000 + i * 1000,) * 2)
    out = incremental_dedup_stream(
        spark, str(watch), corpus, str(tmp_path / "store"), str(tmp_path / "ckpt")
    )
    # 20 is a normalized dup of 10 (case/whitespace), 22 re-crawls corpus
    assert sorted(r["doc_id"] for r in out.collect()) == [10, 11, 21]


def test_stream_stream_join_is_stateful_symmetric_hash(spark, sf_dir):
    from meteor_spark.streaming.pipeline import stream_stream_attribution

    events = stream_events(spark, sf_dir)
    joined = stream_stream_attribution(events)
    # the logical plan must be a genuine stream-stream join (both sides
    # streaming, event-time bound), not a degenerate stream-static join
    assert joined.isStreaming
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2

    out = run_stream_to_batch(joined, output_mode="append")
    from meteor_spark.io import read_parquet_table

    b = read_parquet_table(spark, f"{sf_dir}/events.parquet")
    p = b.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts"), "value"
    )
    c = b.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"), F.col("event_id").alias("click_id")
    )
    expected = (
        p.join(c, (F.col("user_id") == F.col("cu"))
               & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
               & (F.col("cts") <= F.col("pts")))
        .select("purchase_id", "click_id", "user_id", F.round("value", 2).alias("purchase_value"))
    )
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in expected.collect()}


def test_watermark_drops_data_later_than_horizon(spark, tmp_path):
    """An event arriving in a later batch with event-time older than
    (max seen - watermark) must be excluded from its closed window; a
    late-but-within-watermark event must still be counted. Pins the
    exact lateness semantics the rollup relies on at scale."""
    import glob
    import os

    schema = "event_id long, ts timestamp, event_type string, value double"
    watch = tmp_path / "wm_in"
    watch.mkdir()

    def stage(rows, name, mtime):
        df = spark.createDataFrame(rows, schema)
        d = str(tmp_path / name)
        df.coalesce(1).write.mode("overwrite").parquet(d)
        src = next(p for p in glob.glob(f"{d}/part-*.parquet"))
        dst = watch / f"{name}.parquet"
        dst.write_bytes(open(src, "rb").read())
        os.utime(dst, (mtime, mtime))

    from datetime import datetime

    ts = datetime.fromisoformat
    # batch 1 advances the max event time to 12:00; the 09:00 watermark
    # (12:00 - 3h) is committed after the batch and visible to the
    # late-row filter one batch later (the micro-batch watermark lag)
    stage(
        [(1, ts("2024-01-01 09:30:00"), "click", 1.0),
         (2, ts("2024-01-01 12:00:00"), "click", 1.0)],
        "b1", 1_700_000_000,
    )
    stage([(9, ts("2024-01-01 11:00:00"), "click", 1.0)], "b2", 1_700_000_900)
    # batch 3 (09:00 watermark now in force): event 3 at 09:45 lands in
    # the 09:00 window (end 10:00 > watermark -> accepted, late but
    # within horizon); event 4 at 05:30 lands in the 05:00 window
    # (end 06:00 < watermark -> DROPPED)
    stage(
        [(3, ts("2024-01-01 09:45:00"), "click", 1.0),
         (4, ts("2024-01-01 05:30:00"), "click", 1.0)],
        "b3", 1_700_001_800,
    )
    # final batch advances max event time to 15:00 -> watermark 12:00,
    # which closes (emits) every window ending <= 12:00
    stage([(5, ts("2024-01-01 15:00:00"), "click", 1.0)], "b4", 1_700_002_700)

    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(watch)).schema
        ).option("maxFilesPerTrigger", 1).parquet(str(watch))
    )
    agg = (
        stream.withWatermark("ts", "3 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("string").alias("hour"), "n")
    )
    from meteor_spark.streaming.pipeline import run_stream_to_batch

    out = {r["hour"]: r["n"] for r in run_stream_to_batch(agg, output_mode="append").collect()}
    # the 09:00 window closed with BOTH event 1 and late-within-horizon
    # event 3; the beyond-horizon event 4 left no 05:00 window at all
    assert out.get("2024-01-01 09:00:00") == 2
    assert "2024-01-01 05:00:00" not in out
    # 12:00's window (end 13:00 > watermark 12:00) is still open: append
    # mode must NOT have emitted it
    assert "2024-01-01 12:00:00" not in out


def test_incremental_neardup_stream_cross_batch(spark, tmp_path):
    """Near-dup (not exact) ingestion dedup: a batch-2 doc that is a
    close paraphrase of a corpus doc must be dropped; a batch-3 near-dup
    of a batch-2 SURVIVOR must be dropped (store grows as the stream
    runs); genuinely novel docs survive."""
    import os

    from meteor_spark.streaming.pipeline import incremental_neardup_stream

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame([(1, base)], "doc_id long, text string")
    # 10: one-word change from corpus doc 1 -> high jaccard -> dropped
    # 11: novel -> survives
    b1 = spark.createDataFrame(
        [(10, base.replace("today", "tonight")),
         (11, "completely different content about spark structured streaming state stores and dedup")],
        "doc_id long, text string",
    )
    # 20: near-dup of survivor 11 -> dropped; 21: novel -> survives
    b2 = spark.createDataFrame(
        [(20, "completely different content about spark structured streaming state stores and dedup pipelines"),
         (21, "unrelated text on partition pruning bucketing and broadcast joins in catalyst")],
        "doc_id long, text string",
    )
    watch = tmp_path / "nd_in"
    watch.mkdir()
    for i, part in enumerate((b1, b2)):
        d = str(tmp_path / f"nd_b{i}")
        part.coalesce(1).write.parquet(d)
        src = next(p for p in os.listdir(d) if p.startswith("part-") and p.endswith(".parquet"))
        dst = watch / f"batch_{i}.parquet"
        dst.write_bytes((tmp_path / f"nd_b{i}" / src).read_bytes())
        os.utime(dst, (1_700_000_000 + i * 1000,) * 2)

    out = incremental_neardup_stream(
        spark,
        str(watch),
        corpus,
        str(tmp_path / "nd_store"),
        str(tmp_path / "nd_ckpt"),
        threshold=0.5,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 21]


def test_incremental_neardup_stream_survives_id_collision(spark, tmp_path):
    """regression: stream survivors were identified by anti-joining ids
    against the corpus, so a NOVEL stream doc whose doc_id collided with
    a corpus doc_id vanished from the survivor set — the id spaces are
    independent, and the store now carries an origin marker instead."""
    import os

    from meteor_spark.streaming.pipeline import incremental_neardup_stream

    corpus = spark.createDataFrame(
        [(7, "the quick brown fox jumps over the lazy dog near the river bank")],
        "doc_id long, text string",
    )
    # id 7 collides with the corpus id but the text is novel -> must survive
    b1 = spark.createDataFrame(
        [(7, "completely different content about spark structured streaming state stores")],
        "doc_id long, text string",
    )
    watch = tmp_path / "ndc_in"
    watch.mkdir()
    d = str(tmp_path / "ndc_b0")
    b1.coalesce(1).write.parquet(d)
    src = next(p for p in os.listdir(d) if p.startswith("part-") and p.endswith(".parquet"))
    (watch / "batch_0.parquet").write_bytes((tmp_path / "ndc_b0" / src).read_bytes())
    out = incremental_neardup_stream(
        spark,
        str(watch),
        corpus,
        str(tmp_path / "ndc_store"),
        str(tmp_path / "ndc_ckpt"),
        threshold=0.5,
    )
    assert [r["doc_id"] for r in out.collect()] == [7]


# --------------------------------------------------- store compaction


def _seed_store(spark, sf_dir, store, dup_appends=2):
    from meteor_spark.operators.dedup import shingle_frame
    from meteor_spark.queries import _t
    from meteor_spark.streaming.pipeline import write_neardup_store

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 140))
    for src, seed in [(corpus, True)] + [(batch, False)] * dup_appends:
        write_neardup_store(
            shingle_frame(src, "text", "doc_id", 3), store, seed=seed,
            id_col="doc_id", num_hashes=12, bands=4,
        )
    return corpus


def test_compaction_drops_duplicate_appends_and_partitions(spark, sf_dir, tmp_path):
    from meteor_spark.streaming.pipeline import compact_neardup_store

    store = str(tmp_path / "store")
    _seed_store(spark, sf_dir, store, dup_appends=2)
    rep = compact_neardup_store(spark, store)
    # 100 corpus + 40 batch docs x 4 bands; the duplicate append doubled
    # the batch rows, compaction must keep exactly one of each
    assert rep["bands"]["rows"] == (100 * 4 + 40 * 4 * 2, 140 * 4)
    assert rep["shingles"]["rows"] == (100 + 40 * 2, 140)
    bands = spark.read.parquet(f"{store}/bands")
    assert "pfx1" in bands.columns  # small store -> 1-hex-char buckets
    assert bands.count() == 140 * 4
    assert bands.dropDuplicates(["doc_id", "band", "band_key"]).count() == 140 * 4


def test_pruned_store_bands_partition_prunes(spark, sf_dir, tmp_path):
    from meteor_spark.operators.dedup import minhash_bands
    from meteor_spark.queries import _t
    from meteor_spark.streaming.pipeline import compact_neardup_store, pruned_store

    store = str(tmp_path / "store")
    _seed_store(spark, sf_dir, store, dup_appends=1)
    compact_neardup_store(spark, store)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch_bands = minhash_bands(docs.filter(F.col("doc_id") < 5)).persist()
    store_bands = spark.read.parquet(f"{store}/bands")
    pruned = pruned_store(store_bands, batch_bands, "band_key")
    # the pruned view must show partition filters in its scan...
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "pfx1" in plan
    # ...and be equivalent to the unpruned store for the candidate join
    full = store_bands.drop("pfx1").join(batch_bands, ["band", "band_key"]).count()
    cut = pruned.join(batch_bands, ["band", "band_key"]).count()
    assert full == cut
    # identity on an uncompacted store
    raw = minhash_bands(docs.filter(F.col("doc_id") < 10))
    assert pruned_store(raw, batch_bands, "band_key") is raw
    batch_bands.unpersist()


def test_incremental_stream_continues_on_compacted_store(spark, sf_dir, tmp_path):
    import glob
    import os
    import shutil

    from meteor_spark.queries import _t
    from meteor_spark.streaming.pipeline import (
        compact_neardup_store,
        incremental_neardup_stream,
    )

    store = str(tmp_path / "store")
    corpus = _seed_store(spark, sf_dir, store, dup_appends=1)
    compact_neardup_store(spark, store)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # one novel doc + one paraphrase of a corpus doc (near-dup, not exact)
    para = docs.filter(F.col("doc_id") == 3).select(
        (F.col("doc_id") + 9000).alias("doc_id"),
        F.concat("text", F.lit(" addendum")).alias("text"),
    )
    newb = docs.filter(F.col("doc_id") == 200).union(para)
    watch = str(tmp_path / "in"); os.makedirs(watch)
    d = str(tmp_path / "b0")
    newb.coalesce(1).write.mode("overwrite").parquet(d)
    shutil.copyfile(glob.glob(f"{d}/part-*.parquet")[0], f"{watch}/batch_0.parquet")

    surv = incremental_neardup_stream(
        spark, watch, corpus, store, str(tmp_path / "ckpt"),
        seed=False,
    )
    ids = {r[0] for r in surv.collect()}
    assert 200 in ids          # novel doc survives
    assert 9000 + 3 not in ids  # paraphrase near-dups against the store
    # the partitioned append kept the store readable and consistent
    bands = spark.read.parquet(f"{store}/bands")
    assert "pfx1" in bands.columns
    assert bands.filter(F.col("doc_id") == 200).count() == 4


def test_compaction_preserves_corpus_stream_id_collision(spark, tmp_path):
    """regression: shingles/ was compacted on [doc_id] alone, so a
    corpus doc and a stream survivor sharing an id (independent id
    spaces — the reason __corpus exists) collapsed to one arbitrary
    row: either the stream survivor vanished from the final readout
    (filter ~__corpus) or later candidates verified Jaccard against
    the wrong shingle set. The key is now (doc_id, __corpus); the
    row-count losslessness gate alone cannot catch this, since the
    dropDuplicates IS the lossy step."""
    import os

    from meteor_spark.streaming.pipeline import (
        compact_neardup_store,
        incremental_neardup_stream,
    )

    corpus = spark.createDataFrame(
        [(7, "the quick brown fox jumps over the lazy dog near the river bank")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(7, "completely different content about spark structured streaming state stores")],
        "doc_id long, text string",
    )
    watch = tmp_path / "cc_in"
    watch.mkdir()
    d = str(tmp_path / "cc_b0")
    b1.coalesce(1).write.parquet(d)
    src = next(p for p in os.listdir(d) if p.startswith("part-") and p.endswith(".parquet"))
    (watch / "batch_0.parquet").write_bytes((tmp_path / "cc_b0" / src).read_bytes())
    store = str(tmp_path / "cc_store")
    incremental_neardup_stream(
        spark, str(watch), corpus, store, str(tmp_path / "cc_ckpt"), threshold=0.5
    )
    sh_before = spark.read.parquet(f"{store}/shingles")
    assert sh_before.filter(F.col("doc_id") == 7).count() == 2  # both origins

    compact_neardup_store(spark, store)

    sh = spark.read.parquet(f"{store}/shingles")
    # both rows survive compaction, one per origin
    assert sh.filter(F.col("doc_id") == 7).count() == 2
    assert (
        sh.filter(F.col("doc_id") == 7).select("__corpus").distinct().count() == 2
    )
    # and the final readout still shows the stream survivor
    assert [
        r[0] for r in sh.filter(~F.col("__corpus")).select("doc_id").collect()
    ] == [7]


def test_compaction_recovers_from_mid_swap_crash(spark, sf_dir, tmp_path):
    """a crash between the two swap renames leaves the data only at
    __pre_compact; the next compaction call must restore and proceed
    instead of failing on a missing live path."""
    import shutil

    from meteor_spark.streaming.pipeline import compact_neardup_store

    store = str(tmp_path / "store")
    _seed_store(spark, sf_dir, store, dup_appends=2)
    rep1 = compact_neardup_store(spark, store)
    # simulate the crash window: live moved away, replacement not yet in
    shutil.move(f"{store}/bands", f"{store}/bands__pre_compact")
    rep2 = compact_neardup_store(spark, store)
    assert rep2["bands"]["rows"] == (rep1["bands"]["rows"][1],) * 2
    bands = spark.read.parquet(f"{store}/bands")
    assert bands.count() == rep1["bands"]["rows"][1]


def test_compaction_is_idempotent(spark, sf_dir, tmp_path):
    from meteor_spark.streaming.pipeline import compact_neardup_store

    store = str(tmp_path / "store")
    _seed_store(spark, sf_dir, store, dup_appends=2)
    rep1 = compact_neardup_store(spark, store)
    rep2 = compact_neardup_store(spark, store)
    assert rep1["bands"]["rows"][1] == rep2["bands"]["rows"][0] == rep2["bands"]["rows"][1]
    assert rep2["shingles"]["rows"][0] == rep2["shingles"]["rows"][1]


def test_compaction_refuses_foreign_store(spark, tmp_path):
    """pointing compaction at a parquet dir that lacks the key columns
    must refuse, not dropDuplicates([])-collapse it to one row and swap
    the wreckage in (the losslessness gate can't catch this: `expect`
    derives from the same deduped frame). Only the optional __corpus
    origin marker may be absent."""
    import pytest

    from meteor_spark.streaming.pipeline import (
        _compact_dataset,
        compact_fingerprint_store,
    )

    foreign = str(tmp_path / "foreign")
    spark.range(50).selectExpr("id", "id * 2 AS other").write.parquet(foreign)
    with pytest.raises(RuntimeError, match="refused"):
        compact_fingerprint_store(spark, foreign)
    kept = spark.read.parquet(foreign)
    assert kept.count() == 50 and set(kept.columns) == {"id", "other"}

    # a pre-__corpus store (only the marker missing) still compacts
    legacy = str(tmp_path / "legacy")
    df = spark.range(20).selectExpr("CAST(id % 10 AS BIGINT) AS doc_id")
    df.union(df).write.parquet(legacy)
    rep = _compact_dataset(spark, legacy, ["doc_id", "__corpus"], range_col="doc_id")
    assert rep["rows"] == (40, 10)


def test_fingerprint_store_compaction_and_pruned_continuation(spark, sf_dir, tmp_path):
    import glob
    import os
    import shutil

    from meteor_spark.operators.text import normalize_text
    from meteor_spark.queries import _t
    from meteor_spark.streaming.pipeline import (
        compact_fingerprint_store,
        incremental_dedup_stream,
        pruned_store,
        write_fingerprint_store,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 100)
    store = str(tmp_path / "fpstore")
    fp = F.md5(normalize_text(F.col("text")))
    write_fingerprint_store(corpus.select(fp.alias("fp")), store, seed=True, id_col="doc_id")
    # at-least-once duplicate append of one batch's survivors
    batch_rows = docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 120)).select(
        fp.alias("fp"), F.col("doc_id")
    )
    for _ in range(2):
        write_fingerprint_store(batch_rows, store, seed=False, id_col="doc_id")

    rep = compact_fingerprint_store(spark, store)
    assert rep["fingerprints"]["rows"][1] == rep["fingerprints"]["rows"][0] - 20
    compacted = spark.read.parquet(store)
    assert "pfx1" in compacted.columns  # small store -> 1-char buckets

    # the pruned anti-join scan partition-prunes and agrees with full
    probe = docs.filter(F.col("doc_id") < 5).select(fp.alias("fp"), "doc_id")
    pruned = pruned_store(compacted, probe, "fp")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "pfx1" in plan
    assert (pruned.join(probe, "fp").count()
            == compacted.drop("pfx1").join(probe, "fp").count())

    # continuation on the compacted store: an exact dup of a corpus doc
    # is dropped, a novel doc survives, appends stay partitioned
    dup = docs.filter(F.col("doc_id") == 5).select(
        (F.col("doc_id") + 9000).alias("doc_id"), "text"
    )
    newb = docs.filter(F.col("doc_id") == 300).union(dup)
    watch = str(tmp_path / "in"); os.makedirs(watch)
    d = str(tmp_path / "b0")
    newb.coalesce(1).write.mode("overwrite").parquet(d)
    shutil.copyfile(glob.glob(f"{d}/part-*.parquet")[0], f"{watch}/batch_0.parquet")
    surv = incremental_dedup_stream(
        spark, watch, corpus, store, str(tmp_path / "ckpt"),
        seed=False,
    )
    ids = {r[0] for r in surv.collect()}
    assert 300 in ids and 9005 not in ids
    assert 100 in ids  # prior batch survivors persist through compaction
    after = spark.read.parquet(store)
    assert "pfx1" in after.columns
    assert after.filter(F.col("doc_id") == 300).count() == 1


def test_compacted_all_digit_fingerprint_store_takes_letter_prefix(spark, tmp_path):
    """regression: a compacted store whose fingerprints all start with
    a digit was read with its pfx1 partition column inferred as int,
    and the next batch fingerprint starting with a letter killed the
    stream with CAST_INVALID_INPUT in pruned_store's isin. The store
    reader types pfx1 as string."""
    import hashlib

    from meteor_spark.queries import _stage_microbatches
    from meteor_spark.streaming.pipeline import (
        compact_fingerprint_store,
        incremental_dedup_stream,
        write_fingerprint_store,
    )

    texts = [
        "alpha0 delta1 golf2 juliet3 mike4 papa5 charlie6 foxtrot7",
        "hotel1 kilo2 november3 alpha4 delta5 golf6 juliet7 mike8",
        "oscar2 bravo3 echo4 hotel5 kilo6 november7 alpha8 delta9",
    ]
    novel = "foxtrot3 india4 lima5 oscar6 bravo7 echo8 hotel9 kilo0"
    assert all(hashlib.md5(t.encode()).hexdigest()[0].isdigit() for t in texts)
    assert hashlib.md5(novel.encode()).hexdigest()[0].isalpha()
    corpus = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    store = str(tmp_path / "store")
    write_fingerprint_store(corpus.select(F.md5("text").alias("fp")), store, seed=True, id_col="doc_id")
    compact_fingerprint_store(spark, store)
    batch = spark.createDataFrame([(10, novel)], "doc_id long, text string")
    watch = _stage_microbatches(str(tmp_path), (batch,))
    out = incremental_dedup_stream(spark, watch, corpus, store, str(tmp_path / "ckpt"), seed=False)
    assert [r[0] for r in out.collect()] == [10]


def test_compacted_all_digit_band_store_takes_letter_prefix(spark, tmp_path):
    """The bands/ twin of the fingerprint-store regression above: every
    band_key of the corpus starts with a digit, a batch band_key with a
    letter."""
    from meteor_spark.operators.dedup import minhash_bands, shingle_frame
    from meteor_spark.queries import _stage_microbatches
    from meteor_spark.streaming.pipeline import (
        compact_neardup_store,
        incremental_neardup_stream,
        neardup_store_bands,
        write_neardup_store,
    )

    corpus = spark.createDataFrame(
        [(7, "bravo7 echo8 hotel9 kilo0 november1 alpha2 delta3 golf4")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1, "hotel1 kilo2 november3 alpha4 delta5 golf6 juliet7 mike8")], "doc_id long, text string"
    )
    store = str(tmp_path / "store")
    write_neardup_store(
        shingle_frame(corpus, "text", "doc_id", 3), store, seed=True,
        id_col="doc_id", num_hashes=12, bands=4,
    )
    assert all(r.band_key[0].isdigit() for r in neardup_store_bands(spark, store).collect())
    assert any(r.band_key[0].isalpha() for r in minhash_bands(batch).collect())
    compact_neardup_store(spark, store)
    watch = _stage_microbatches(str(tmp_path), (batch,))
    out = incremental_neardup_stream(spark, watch, corpus, store, str(tmp_path / "ckpt"), seed=False)
    assert [r[0] for r in out.collect()] == [1]


@pytest.mark.parametrize(
    "kind, seeded_jobs, compacted_jobs",
    # each store read inferred its schema with a job of its own: 8 and 8
    # jobs for the exact stream, 27 and 22 for the near-dup stream
    [("dedup", 6, 6), ("neardup", 24, 19)],
)
def test_store_stream_job_budget(spark, sf_dir, tmp_path, kind, seeded_jobs, compacted_jobs):
    """Jobs of one run of an incremental-dedup stream over one
    microbatch, result collected: on a freshly seeded store, then
    continuing on the same store compacted. Store reads pass the
    writer's schema and find the layout from a listing, so no read
    runs a job."""
    from meteor_spark.queries import _stage_microbatches, _t
    from meteor_spark.streaming import pipeline

    stream, compact = {
        "dedup": (pipeline.incremental_dedup_stream, pipeline.compact_fingerprint_store),
        "neardup": (pipeline.incremental_neardup_stream, pipeline.compact_neardup_store),
    }[kind]
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 100)
    para = docs.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 9000).alias("doc_id"), F.concat("text", F.lit(" addendum")).alias("text")
    )
    w0 = _stage_microbatches(str(tmp_path / "w0"), (docs.filter(F.col("doc_id").between(100, 109)),))
    w1 = _stage_microbatches(
        str(tmp_path / "w1"), (docs.filter(F.col("doc_id").between(110, 119)).union(para),)
    )
    store = str(tmp_path / "store")
    sched = spark.sparkContext._jsc.sc().dagScheduler()

    before = sched.numTotalJobs()
    assert len(stream(spark, w0, corpus, store, str(tmp_path / "c0")).collect()) == 10
    seeded = sched.numTotalJobs() - before
    compact(spark, store)
    before = sched.numTotalJobs()
    survivors = stream(spark, w1, corpus, store, str(tmp_path / "c1"), seed=False).collect()
    compacted = sched.numTotalJobs() - before
    assert len(survivors) == (23 if kind == "dedup" else 19)
    assert (seeded, compacted) == (seeded_jobs, compacted_jobs)


def test_streaming_ks_drift_equals_batch(spark, sf_dir):
    """The streaming KS twin's mergeable count state must reproduce the
    batch gate to the last ppm on bounded input (same readout, same
    split boundary)."""
    from meteor_spark.queries import QUERIES

    stream = QUERIES["streaming_ks_drift"](spark, sf_dir)
    batch = QUERIES["event_value_ks_drift"](spark, sf_dir)
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_foreach_batch_leaves_caller_conf_alone(spark, sf_dir, monkeypatch):
    """The microbatch's 4 shuffle partitions go on the batch's own
    session (the stream's clone), never on the caller's: a set/restore
    there races every other thread sharing the session
    (Agent.run_multiple)."""
    from pyspark.sql.conf import RuntimeConfig

    from meteor_spark.io import cache_scope
    from meteor_spark.queries import QUERIES

    recorded = []
    real_set = RuntimeConfig.set

    def _set(self, key, value):
        if self is spark.conf:
            recorded.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", _set)
    with cache_scope():
        assert QUERIES["streaming_incremental_dedup"](spark, sf_dir).count() > 0
    assert "spark.sql.shuffle.partitions" not in recorded


def test_neardup_store_layout_has_one_writer():
    # the store's origin marker is written (write_neardup_store) and
    # read back in one module only
    import ast
    import pathlib
    import re

    import meteor_spark

    root = pathlib.Path(meteor_spark.__file__).parent
    users = sorted(
        str(p.relative_to(root)) for p in root.rglob("*.py") if "__corpus" in p.read_text()
    )
    assert users == ["streaming/pipeline.py"]

    # no other module reads or writes a store directory: none names a
    # store subdirectory in a string ("{store}/bands", "shingles/")
    subdir = re.compile(r"(?:^|/)(?:bands|shingles)(?:/|$)")
    namers = {
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and subdir.search(node.value)
    }
    assert namers == {"streaming/pipeline.py"}

    # in pipeline.py only the compaction (which must see the columns
    # on disk) and the fixture footer sniff read parquet without a schema
    tree = ast.parse((root / "streaming" / "pipeline.py").read_text())
    inferring = set()
    for fn in tree.body:
        for node in ast.walk(fn):
            if isinstance(node, ast.Call) and getattr(node.func, "attr", "") == "parquet":
                chain = ast.unparse(node.func)
                if ".read." in chain and ".schema(" not in chain:
                    inferring.add(getattr(fn, "name", "<module>"))
    assert inferring == {"_compact_dataset", "stream_table"}
