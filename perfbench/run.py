"""Repository benchmark: one workload, one run, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root. Each run starts fresh processes: a few that
only set up (process start to a ready SparkSession with every plugin
registered) and one worker that sets up, runs the first pass and then
warm passes for ``--seconds``. The last line of standard output is the
result: ``{"correct", "attempted", "failed", "metrics"}``, with the
end-to-end metrics when ``--trace 0`` and the per-layer metrics when
``--trace 1``. The line before it stamps the host and the run.

Fixtures are the read-only seed-42 tables whose directories TESTDATA.md
names; the seed permutes recipe and gate order, never the data.
Everything the run writes stays under perfbench/.work/.

``--smoke`` gives every workload its shortest run (both use sf0.001),
untraced and then traced with a deliberately wrong expected output, and
checks that every metric BENCHMARK.json names is printed with its unit
and that the wrong expectation is counted as failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path[:0] = [str(ROOT), str(HERE)]

SETUPS = 2  # set-up samples per run: the worker's own and SETUPS - 1 set-up-only processes
RUN_LIMIT_S = 170.0


class BenchError(RuntimeError):
    pass


def fixture_dirs() -> dict[str, str]:
    """Fixture label ("sf0.1") -> directory, as TESTDATA.md lists them."""
    doc = ROOT / "TESTDATA.md"
    if not doc.is_file():
        raise BenchError("TESTDATA.md not found: run from a checkout of the repository")
    dirs = {}
    for path in re.findall(r"`([^`\s]*?(sf[0-9.]+?))/?`", doc.read_text()):
        dirs[path[1]] = path[0]
    return dirs


def host() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    nproc = len(os.sched_getaffinity(0))
    ram_gib = mem_kb / 2**20
    # a quarter of the host's memory, whole GiB, at most 8: the session
    # default (48g) is sized for a far larger machine
    driver_gib = max(1, min(8, int(ram_gib // 4)))
    return {"nproc": nproc, "ram_gib": round(ram_gib, 2), "driver_memory": f"{driver_gib}g"}


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) ticks of every CPU since boot. Steal is time the
    hypervisor ran something else while this machine had work: a run with
    a high share of it was slowed by the host, not by the program."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


def source_stamp() -> dict:
    """The git commit when there is one, and a digest of the program's
    sources, which a checkout without git history still has."""
    commit = None
    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.md5()
    for p in sorted((ROOT / "meteor_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return {"git_commit": commit, "source_md5": h.hexdigest()}


def worker_env(work: Path, hw: dict, trace: bool) -> dict:
    env = dict(os.environ)
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "eventlog"):
        d.mkdir(parents=True, exist_ok=True)
    submit = [
        # no hsperfdata file in the system temp dir
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{work / 'eventlog'}",
        ]
    env.update(
        SPARK_GRAFT_CPUS=str(hw["nproc"]),
        SPARK_DRIVER_MEMORY=hw["driver_memory"],
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def become_subreaper() -> None:
    """Have orphaned descendants (the JVM, pyspark's daemon and its
    workers) re-parented to this process, so that it can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            out.append(int(pid))
    return out


def end_group(proc: subprocess.Popen) -> None:
    """Kill the worker's process group, which holds its JVM, and wait
    until every descendant has ended. pyspark's daemon runs in a group of
    its own and exits once the JVM is gone; what is still running after
    a grace period is killed."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    grace = time.monotonic() + 10.0
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > grace:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def run_worker(args: list[str], work: Path, env: dict, deadline: float) -> dict:
    out = work / f"rec-{len(list(work.glob('rec-*')))}.json"
    cmd = [sys.executable, str(HERE / "worker.py"), *args,
           "--work", str(work), "--out", str(out), "--spawned", repr(time.time())]
    log = open(work / "worker.log", "a")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        end_group(proc)
        log.close()
    if code != 0 or not out.exists():
        tail = (work / "worker.log").read_text(errors="replace")[-3000:]
        raise BenchError(f"worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    return json.loads(out.read_text())


def one_run(workload: str, seed: int, seconds: float, trace: int,
            skew: int = 0) -> tuple[dict, dict]:
    from metrics import END_TO_END, PER_LAYER, end_to_end
    from workloads import WORKLOADS

    if not (ROOT / "meteor_spark" / "runner" / "agent.py").is_file():
        raise BenchError("meteor_spark/ not found next to perfbench/: nothing to measure")
    if workload not in WORKLOADS:
        raise BenchError(f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)}")
    label = WORKLOADS[workload].sf
    dirs = fixture_dirs()
    if label not in dirs or not Path(dirs[label]).is_dir():
        raise BenchError(f"fixture {label} not found (TESTDATA.md lists {dirs})")
    started = time.time()
    ticks0 = cpu_ticks()
    deadline = started + RUN_LIMIT_S
    hw = host()
    work = WORK / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        env = worker_env(work, hw, bool(trace))
        base = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--data-dir", dirs[label]]
        setups = [
            run_worker(base + ["--setup-only"], work, worker_env(work, hw, False), deadline)["setup_s"]
            for _ in range(SETUPS - 1)
        ]
        rec = run_worker(base + ["--trace", str(trace), "--skew", str(skew)], work, env, deadline)
        setups.append(rec["setup_s"])
        if trace:
            shutil.copy(work / "spans.jsonl", WORK / f"spans-{workload}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = [u for p in rec["passes"] for u in p["units"]]
    units += list(rec.get("shared_repeat", {}).values())
    failed = [u for u in units if not u["ok"]]
    if trace:
        values, units_of = rec["per_layer"], PER_LAYER
    else:
        values, units_of = end_to_end(rec, setups), END_TO_END
    result = {
        "correct": not failed,
        "attempted": len(units),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units_of.items()},
    }
    ticks = cpu_ticks()
    stamp = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "fixture": label, "data_dir": dirs[label], **hw,
        "spark_graft_cpus": hw["nproc"], "max_workers": hw["nproc"],
        "pyspark": rec["pyspark_version"], "java": rec["java_version"],
        **source_stamp(),
        "setups_s": setups,
        "warm_passes_s": [p["wall_s"] for p in rec["passes"] if p["n"] > 0 and not p["traced"]],
        "failures": [f"{u['name']}: {u['why']}" for u in failed][:20],
        "run_s": round(time.time() - started, 1),
        "steal_frac": round((ticks[1] - ticks0[1]) / max(1, ticks[0] - ticks0[0]), 4),
    }
    # the full record of the last run of each kind, for reading by hand
    (WORK / f"last-{workload}-trace{trace}.json").write_text(
        json.dumps({"stamp": stamp, "record": rec}, indent=1)
    )
    return stamp, result


def smoke() -> int:
    """The shortest run of every workload: all metrics printed with their
    units, and a wrong expected output counted as failed."""
    from workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for name in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            skew = trace  # the traced run expects one record too many per unit
            stamp, res = one_run(name, seed=1, seconds=0, trace=trace, skew=skew)
            print(json.dumps({"smoke": name, "trace": trace, "stamp": stamp}), flush=True)
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    problems.append(f"{name} trace={trace}: {m['name']} missing or wrong unit: {got}")
            if skew and res["failed"] != res["attempted"]:
                problems.append(f"{name}: wrong expectation not counted ({res['failed']}/{res['attempted']})")
            if not skew and res["failed"]:
                problems.append(f"{name}: {res['failed']} failed at the right expectation: {stamp['failures']}")
    print(json.dumps({"smoke_ok": not problems, "problems": problems}))
    return 0 if not problems else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    become_subreaper()
    try:
        if a.smoke:
            return smoke()
        if not a.workload:
            ap.error("--workload is required")
        stamp, result = one_run(a.workload, a.seed, a.seconds, a.trace)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
