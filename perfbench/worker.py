"""One benchmark run of one workload, in a fresh process and a fresh JVM.

Started by run.py, which owns the environment (driver memory, local and
temporary dirs, the event log of a traced run) and turns the record this
process writes into the result line.

Timeline: set-up (process start to a ready session with every plugin
registered), then the first pass, timed with no warm-up, then warm passes
until ``--seconds`` have been spent on them. Outputs are checked after
each pass, outside its timing. With ``--trace 1`` some warm passes run
untraced, so the record also carries the tracing overhead; the event log
stays on for both kinds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
# warm passes per run at least, whatever --seconds says; pass_s is the
# fastest of them. A traced run takes its warm passes untraced, traced,
# untraced, ..., so that the drift of passes still warming up falls on
# both sides of the tracing-overhead comparison alike.
MIN_WARM = 2
MIN_WARM_TRACED = 3
sys.path[:0] = [str(HERE.parent), str(HERE)]


def jvm_peak_rss_mb() -> float:
    """VmHWM of the driver JVM, which is a child of this process."""
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if int(status.get("PPid", "0").strip()) == me and status.get("Name", "").strip() == "java":
            return int(status.get("VmHWM", "0 kB").split()[0]) / 1024.0
    return 0.0


def setup(spawned: float, tracer=None):
    import meteor_spark.processors  # noqa: F401 — registers the plugins
    import meteor_spark.session
    import meteor_spark.sinks  # noqa: F401
    import meteor_spark.sources  # noqa: F401

    if tracer is not None:
        tracer.install()
        tracer.enabled = True
    spark = meteor_spark.session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    if tracer is not None:
        tracer.enabled = False
    return spark, time.time() - spawned


def fresh_context(spark):
    """Stop the SparkContext and start another in the same JVM, so
    nothing keyed by applicationId survives into the next pass."""
    import meteor_spark.session

    spark.stop()
    spark = meteor_spark.session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def unit_record(u, why) -> dict:
    return {
        "name": u.name, "shape": u.shape, "ok": why is None, "why": why,
        "duration_ms": u.duration_ms, "records": u.records, "residue": u.residue,
        "build_s": u.build_s, "collect_s": u.collect_s, "jobs": u.jobs, "started": u.started,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--skew", type=int, default=0)
    a = ap.parse_args()

    tracer = probe = None
    if a.trace:
        from tracing import StreamingProbe, Tracer

        tracer = Tracer()
    spark, setup_s = setup(a.spawned, tracer)
    rec: dict = {"setup_s": setup_s}
    if a.setup_only:
        Path(a.out).write_text(json.dumps(rec))
        return 0

    from checks import Checker
    from workloads import WORKLOADS, GatePasses, RecipePasses, SHARED_REPEAT

    wl = WORKLOADS[a.workload]
    work = Path(a.work)
    checker = Checker(a.data_dir)
    checker.skew = a.skew
    workers = len(os.sched_getaffinity(0))
    if wl.gates:
        runner = GatePasses(wl, a.data_dir, a.seed, tracer)
    else:
        runner = RecipePasses(wl, a.data_dir, work, a.seed, workers)
    if tracer is not None:
        tracer.spark = spark
        probe = StreamingProbe(tracer)
        spark.streams.addListener(probe)
        rec["session.get_spark_s"] = tracer.spans[0].end - tracer.spans[0].start

    passes: list[dict] = []
    spans_by_pass: list[list] = []

    def one_pass(n: int, traced: bool) -> None:
        nonlocal spark
        if wl.gates and n > 0:
            spark = fresh_context(spark)
            if tracer is not None:
                tracer.spark = spark
                spark.streams.addListener(probe)
        if tracer is not None:
            tracer.enabled = traced
            probe.reset()
        mark = tracer.mark() if tracer is not None else 0
        jobs0 = tracer.jobs_started() if tracer is not None else 0
        t_start = time.time()
        res = runner.run(spark, n)
        t_end = time.time()
        jobs = tracer.jobs_started() - jobs0 if tracer is not None else None
        if tracer is not None:
            tracer.enabled = False
        units = []
        for u in res.units:
            why = checker.gate(u) if wl.gates else checker.recipe(u, res.out_dir)
            units.append(unit_record(u, why))
        p = {
            "n": n, "traced": traced, "wall_s": res.wall_s, "cpu_s": res.cpu_s,
            "window": [t_start, t_end], "jobs": jobs, "units": units,
        }
        if traced and probe is not None:
            probe.drain()
            p["streaming"] = probe.summary()
        passes.append(p)
        spans_by_pass.append(tracer.since(mark) if tracer is not None else [])

    one_pass(0, bool(a.trace))
    t_window = time.perf_counter()
    n = 1
    while True:
        traced = bool(a.trace) and n % 2 == 0
        one_pass(n, traced)
        n += 1
        spent = time.perf_counter() - t_window
        if n > (MIN_WARM_TRACED if a.trace else MIN_WARM) and spent >= a.seconds:
            break

    if tracer is not None and wl.gates:
        # _SHARED keeps these gates' inputs for the life of the context:
        # time a second call in the context the last traced pass used
        rep = {}
        for g in SHARED_REPEAT:
            u = runner.call(spark, g)
            rep[g] = unit_record(u, checker.gate(u))
        rec["shared_repeat"] = rep

    import pyspark

    rec["java_version"] = spark._jvm.java.lang.System.getProperty("java.version")
    rec["pyspark_version"] = pyspark.__version__
    rec["passes"] = passes
    checker.close()
    if tracer is not None:
        from metrics import per_layer
        from tracing import event_log_totals, self_times

        rec["jvm_peak_rss_mb"] = jvm_peak_rss_mb()
        spark.stop()  # completes the event log
        traced_passes = [
            (p, {"self_s": self_times(spans), "spans": [s.as_dict() for s in spans]},
             event_log_totals(work / "eventlog", tuple(p["window"])))
            for p, spans in zip(passes, spans_by_pass)
            if p["traced"] and p["n"] > 0
        ]
        rec["per_layer"] = per_layer(rec, traced_passes)
        tracer.dump(work / "spans.jsonl")
    # an untraced run leaves its JVM to run.py, which ends the process group
    Path(a.out).write_text(json.dumps(rec))
    return 0


if __name__ == "__main__":
    sys.exit(main())
