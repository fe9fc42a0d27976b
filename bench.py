"""Benchmark runner: every registered gate at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Isolated re-measure protocol (the round-8 regression-triage procedure,
promoted to a flag): cross-gate session accounting — JIT warm-up,
streaming state-store residue — can shift an individual gate's in-sweep
timing without any plan change. `--isolate name1,name2` (or `--isolate auto`
for every >2s entry of the last BENCH_FULL.json) re-measures each gate
median-of-3 in its OWN fresh process (fresh JVM — same-process session
restarts reuse the gateway and inherit its heap), merges the medians
into BENCH_FULL.json under "isolated", and prints a compact line. A
gate whose sweep timing moved but whose isolated median is stable
regressed in session accounting, not in its plan.

`--single name` is the child mode --isolate spawns: warm up, run the
one gate 3x, print {"single": name, "runs": [...]}.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))



def compact_line(timings, headline, failed, total, sf, limit: int = 1800) -> str:
    """The ONE stdout JSON line the driver parses. Must stay under the
    driver's ~2KB tail window no matter how many queries exist: degrade
    by dropping headline entries from the END (newest additions still
    ride in BENCH_FULL.json), then by truncating the failed list —
    never by emitting an overlong or empty-on-success line."""
    line = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        # failed queries are listed by name, not as -1.0 "timings"
        "queries": {k: timings[k] for k in headline if k in timings and timings[k] >= 0},
        "failed": failed,
        "sf": sf,
        "n_queries": len(timings),
        "full_timings": "BENCH_FULL.json",
    }
    out = json.dumps(line, separators=(",", ":"))
    while len(out) > limit and line["queries"]:
        line["queries"].popitem()
        out = json.dumps(line, separators=(",", ":"))
    if len(out) > limit:
        line["failed"] = failed[:10] + (["..."] if len(failed) > 10 else [])
        out = json.dumps(line, separators=(",", ":"))
    return out


def _sf_of(sf_dir: str) -> float:
    """Scale factor from a path ending in sfN; 0.1 for any other path
    (e.g. /data/transfer/corpus has 'sf' but no number)."""
    m = re.search(r"sf([0-9.]+)/?$", sf_dir.rstrip("/"))
    try:
        return float(m.group(1)) if m else 0.1
    except ValueError:
        return 0.1


def _warm(spark, sf_dir: str) -> None:
    """The main sweep's warm-up, shared by --single children."""
    from meteor_spark.io import cache_scope
    from meteor_spark.queries import QUERIES

    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    for warm in ("q1_pricing_summary", "text_analysis", "ann_cosine_topk"):
        try:
            with cache_scope():
                QUERIES[warm](spark, sf_dir).collect()
        except Exception:  # noqa: BLE001 — warm-up must never fail the bench
            pass
    try:
        (
            spark.readStream.format("rate").option("numPartitions", "1")
            .option("rowsPerSecond", "1").load()
            .withWatermark("timestamp", "0 seconds")
            .groupBy("timestamp").count()
            .writeStream.format("memory").queryName("__warm_stream")
            .outputMode("complete").trigger(availableNow=True)
            .start().awaitTermination(30)
        )
        spark.catalog.dropTempView("__warm_stream")
    except Exception:  # noqa: BLE001
        pass


def single_main(name: str) -> None:
    """Child mode: one gate, fresh process, 3 timed runs."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from meteor_spark.io import cache_scope
    from meteor_spark.session import get_spark
    from meteor_spark.queries import QUERIES

    spark = get_spark("bench_single")
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark, sf_dir)
    runs = []
    for _ in range(3):
        t0 = time.time()
        try:
            with cache_scope():
                QUERIES[name](spark, sf_dir).collect()
                runs.append(round(time.time() - t0, 3))
        except Exception as e:  # noqa: BLE001
            print(f"bench error in {name}: {e}", file=sys.stderr)
            runs.append(-1.0)
    print(json.dumps({"single": name, "runs": runs}))
    spark.stop()


def write_bench_full(full_path: str, payload: dict) -> None:
    """Write the full-sweep record, PRESERVING the prior file's
    "isolated" block: a driver bench overwrite must not drop the
    medians --isolate recorded — that block is the sweep's own
    adjudication record (lost once at commit d70031a and absent from
    the committed record for two rounds). Same merge-on-write idea as
    check_parity._dump_json, minus the lock: the driver never runs two
    benches concurrently."""
    isolated_prev: dict = {}
    isolated_sf = None
    try:
        with open(full_path) as f:
            prior = json.load(f)
        isolated_prev = prior.get("isolated", {})
        isolated_sf = prior.get("isolated_sf")
    except (OSError, ValueError):
        pass
    # Only carry medians measured at the SAME scale factor as the new
    # sweep — pairing sf0.1 sweep timings with medians isolated at a
    # different sf would silently mix scales (r11 advice). A prior file
    # without isolated_sf predates the stamp; keep it but stamp nothing.
    if isolated_prev and "isolated" not in payload and (
        isolated_sf is None or isolated_sf == payload.get("sf")
    ):
        payload["isolated"] = isolated_prev
        if isolated_sf is not None:
            payload["isolated_sf"] = isolated_sf
    with open(full_path, "w") as f:
        json.dump(payload, f, indent=1)


def merge_isolated(full: dict, isolated: dict, sf: float) -> None:
    """MERGE new --isolate medians into the record's prior isolated
    block rather than replacing it: a single-gate --isolate run must
    update that gate's median without dropping every other gate's
    (replacing here is what emptied the 77-median r11 block during
    r12's per-change isolate runs). Only merge when the prior block was
    measured at the SAME sf — medians from another scale factor are not
    comparable (same rule as write_bench_full)."""
    prior_iso = full.get("isolated", {})
    if prior_iso and full.get("isolated_sf") == sf:
        full["isolated"] = {**prior_iso, **isolated}
    else:
        full["isolated"] = isolated
    full["isolated_sf"] = sf


def isolate_main(spec: str) -> None:
    """Parent mode: median-of-3 per gate, each in its own process."""
    import statistics
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    full_path = os.path.join(here, "BENCH_FULL.json")
    if spec == "auto":
        with open(full_path) as f:
            prior = json.load(f)
        # 1.0s (was 2.0 through r9): the headline tier starts around 1s
        # at sf0.1, and sub-second drift there (r9's ivf_ann_topk +0.55s)
        # should be self-adjudicating via the isolated medians
        names = sorted(
            k for k, t in prior.get("queries", {}).items()
            if t > 1.0 and not k.endswith(("_per_batch", "_per_mb"))
        )
    else:
        names = [n for n in spec.split(",") if n]
    isolated: dict[str, float] = {}
    for n in names:
        r = None
        try:
            # TimeoutExpired must land INSIDE the loop: one hung gate
            # records -1.0 and the sweep keeps its other medians
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--single", n],
                capture_output=True, text=True, timeout=1800,
            )
            runs = json.loads(r.stdout.strip().splitlines()[-1])["runs"]
            good = [t for t in runs if t > 0]
            isolated[n] = round(statistics.median(good), 3) if good else -1.0
        except subprocess.TimeoutExpired:
            print(f"isolate timeout in {n} (1800s)", file=sys.stderr)
            isolated[n] = -1.0
        except Exception as e:  # noqa: BLE001
            out = r.stdout[-300:] if r is not None else ""
            err = r.stderr[-300:] if r is not None else ""
            print(f"isolate error in {n}: {e}: {out} {err}", file=sys.stderr)
            isolated[n] = -1.0
    try:
        with open(full_path) as f:
            full = json.load(f)
    except OSError:
        full = {}
    merge_isolated(full, isolated, _sf_of(sf_dir))
    try:
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1)
    except OSError as e:
        print(f"bench warning: could not write BENCH_FULL.json: {e}", file=sys.stderr)
    print(json.dumps(
        {"metric": "isolated_median_seconds", "unit": "sec",
         "sf": _sf_of(sf_dir), "queries": isolated},
        separators=(",", ":"),
    ))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf_of(sf_dir)

    from meteor_spark.io import cache_scope
    from meteor_spark.session import get_spark
    from meteor_spark.queries import QUERIES

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers with a trivial action, then one
    # aggregation query, one text query, and one HOF query (untimed):
    # whole-stage codegen, the lambda interpreter, and the shuffle
    # machinery otherwise bill their one-time cost to whichever query
    # happens to run first in registration order; the rate-source
    # stream warms the microbatch executor + state store the same way
    _warm(spark, sf_dir)

    def run_once(name, fn) -> float:
        t0 = time.time()
        try:
            # the scope releases the gate's caches after the timing
            with cache_scope():
                fn(spark, sf_dir).collect()
                return round(time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001
            print(f"bench error in {name}: {e}", file=sys.stderr)
            return -1.0

    timings: dict[str, float] = {}
    for name, fn in QUERIES.items():
        t = run_once(name, fn)
        # first runs carry one-time lambda-interpreter/codegen warm-up and
        # this host shows noisy-neighbor windows that can double a single
        # measurement; for queries where that matters (>1.5s), measure
        # once more and keep the min — steady-state cost, not scheduling
        # luck. (Threshold was 3.0s through r5; the 1.5-3s band then
        # carried single-sample times, and hybrid_search_rrf sat in that
        # blind spot looking like a 3-round monotonic regression that
        # 5-run medians later exonerated as host noise.) Streaming gates
        # always re-measure: their first execution pays plan-specific
        # microbatch/state-store setup (~1.5-2s at sf0.1, 2-3x steady
        # state) that the rate-source warm-up cannot absorb.
        if t > 1.5 or (0 < t and name.startswith("streaming_")):
            t2 = run_once(name, fn)
            if t2 > 0:
                # a noisy-neighbor burst can span BOTH runs; when the two
                # measurements disagree by >2x, one of them was a bad
                # window — buy a third sample before trusting the min
                if min(t, t2) > 1.5 and max(t, t2) / min(t, t2) > 2.0:
                    t3 = run_once(name, fn)
                    if t3 > 0:
                        t2 = min(t2, t3)
                t = min(t, t2)
        timings[name] = t

    # Amortized store-lifecycle line items (informational, excluded
    # from the total): the two multi-microbatch pipeline gates report
    # one number that mixes per-batch fixed cost with state growth;
    # these split out cost per microbatch and per MB of store
    # compacted, from instrumentation of the gates' final run.
    try:
        from meteor_spark.streaming.pipeline import LAST_STATS

        if timings.get("streaming_incremental_neardup", -1) > 0 and LAST_STATS.get(
            "neardup_stream_batches"
        ):
            timings["streaming_incremental_neardup_per_batch"] = round(
                LAST_STATS["neardup_stream_sec"]
                / LAST_STATS["neardup_stream_batches"],
                3,
            )
        if timings.get("neardup_store_compaction", -1) > 0 and LAST_STATS.get(
            "compact_bytes_in"
        ):
            timings["neardup_store_compaction_per_mb"] = round(
                LAST_STATS["compact_sec"] / (LAST_STATS["compact_bytes_in"] / 1e6),
                3,
            )
    except Exception as e:  # noqa: BLE001
        print(f"bench error deriving amortized entries: {e}", file=sys.stderr)

    _informational = ("_per_batch", "_per_mb")
    total = round(
        sum(t for k, t in timings.items() if t >= 0 and not k.endswith(_informational)),
        3,
    )
    failed = sorted(k for k, t in timings.items() if t < 0)
    # Full per-query timings go to a side file; the stdout line must stay
    # SHORT — the driver keeps only the last ~2KB of stdout, and a JSON
    # line with all ~100 queries overflows that window and fails to parse
    # (this is exactly what nulled BENCH_r01).
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        write_bench_full(
            os.path.join(here, "BENCH_FULL.json"),
            {
                "metric": "total_query_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "failed": failed,
                "sf": sf,
            },
        )
    except OSError as e:
        # the side file is best-effort; the stdout line below must still
        # print (a read-only checkout/full disk must not null the bench)
        print(f"bench warning: could not write BENCH_FULL.json: {e}", file=sys.stderr)
    # headline = every timing in registration order, the two derived
    # entries last; compact_line trims from the end to fit the line
    print(compact_line(timings, list(timings), failed, total, sf))
    spark.stop()


if __name__ == "__main__":
    if "--single" in sys.argv:
        single_main(sys.argv[sys.argv.index("--single") + 1])
    elif "--isolate" in sys.argv:
        isolate_main(sys.argv[sys.argv.index("--isolate") + 1])
    else:
        main()
