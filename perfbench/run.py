"""Benchmark entry point: search (with its ingest set-up) and dedup over laion_spark.

    python3 perfbench/run.py --workload search --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py                     # every workload, seed 1

Run from the repository root. Each workload runs in a worker process
of its own (a fresh JVM), fitted to this host from outside the program:
the driver heap comes from MemTotal or the cgroup limit, the core count
from the affinity mask, and every temporary file goes under one scratch
directory inside the checkout that is removed at exit. ``--trace 1``
runs the workload with spans, Spark job groups and Spark's event log
on, and reports per-layer metrics plus the tracing overhead: search
interleaves traced and untraced ops in the one run, and dedup is
compared with the untraced run of the same seed and sources (made after
it unless this checkout has one). The last line of stdout is one JSON object; the full
result, with the host fingerprint, is also written to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host, spec  # noqa: E402
from perfbench.workloads import SIZES  # noqa: E402

#: a run must end within this many seconds, children included
RUN_BUDGET_S = 175
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
SCRATCH_DIR = os.path.join(ROOT, ".perfbench_tmp")


def child_env(scratch: str, heap: int, events: str | None) -> dict:
    env = dict(os.environ)
    local = os.path.join(scratch, "local")
    os.makedirs(local, exist_ok=True)
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if events is not None:
        os.makedirs(events, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{events}",
                   "--conf", "spark.eventLog.compress=false"]
    env.update({
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
        "SPARK_GRAFT_CPUS": str(host.cpus()),
        "TMPDIR": scratch,
        "SPARK_LOCAL_DIRS": local,
        # the JVM ignores TMPDIR; keep its temp files and perf data out of /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYTHONHASHSEED": "0",
    })
    env.pop("PERFBENCH_EVENT_DIR", None)
    if events is not None:
        env["PERFBENCH_EVENT_DIR"] = events
    return env


def stop_session(sid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of session ``sid`` (worker, JVM, Python
    workers) to end; kill what is left after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while host.session_pids(sid):
        if time.monotonic() > deadline:
            for pid in host.session_pids(sid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace_s
        time.sleep(0.1)


def run_child(workload: str, seed: int, seconds: float, trace: bool, scale: str,
              scratch: str, heap: int, timeout_s: float) -> dict:
    """One workload in its own process session; returns its result."""
    tag = "traced" if trace else "untraced"
    os.makedirs(scratch, exist_ok=True)
    out = os.path.join(scratch, f"{tag}.json")
    log = os.path.join(scratch, f"{tag}.log")
    events = os.path.join(scratch, "events") if trace else None
    cmd = [sys.executable, "-m", "perfbench.workloads", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace)),
           "--scale", scale, "--root", scratch, "--out", out]
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(scratch, heap, events),
                                stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
        finally:
            stop_session(proc.pid)
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        why = "timed out" if rc is None else f"exited with code {rc}"
        raise RuntimeError(f"{workload} ({tag}) {why}; log tail:\n{tail}")
    with open(out) as f:
        return json.load(f)


def out_path(workload: str, seed: int, trace: bool) -> str:
    return os.path.join(OUT_DIR, f"{workload}-seed{seed}-trace{int(trace)}.json")


def untraced_geomean(workload: str, seed: int, seconds: float, scale: str,
                     digest: str) -> float | None:
    """op_geomean_ms of this checkout's untraced run of the same
    workload, seed, length, sizes and sources; None when there is none."""
    try:
        with open(out_path(workload, seed, False)) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return None
    run = prev["run"]
    key = (prev["host"].get("digest"), prev["seconds"], run["scale"], run["sizes"])
    if key != (digest, seconds, scale, SIZES[scale][workload]):
        return None
    return run["e2e"]["op_geomean_ms"]


def run_workload(workload: str, seed: int, seconds: float, trace: bool, scale: str) -> dict:
    heap = host.heap_mb()
    stamp = host.fingerprint(ROOT, heap)
    scratch = os.path.join(SCRATCH_DIR, f"{workload}-{os.getpid()}")
    tmp_before = set(os.listdir("/tmp")) if os.path.isdir("/tmp") else set()
    t0 = time.monotonic()
    extra_runs = []
    base = None
    try:
        res = run_child(workload, seed, seconds, trace, scale, os.path.join(scratch, "r"),
                        heap, RUN_BUDGET_S)
        if trace and "trace.overhead_pct" not in res["per_layer"]:
            # a workload too short to interleave traced and untraced ops
            # is compared with an untraced run of the same seed and
            # sources: this checkout's, or one made now
            base = untraced_geomean(workload, seed, seconds, scale, stamp["digest"])
            if base is None:
                left = RUN_BUDGET_S - (time.monotonic() - t0)
                extra_runs.append(run_child(workload, seed, seconds, False, scale,
                                            os.path.join(scratch, "u"), heap, left))
                base = extra_runs[0]["e2e"]["op_geomean_ms"]
            res["per_layer"]["trace.overhead_pct"] = (
                res["e2e"]["op_geomean_ms"] / base - 1.0) * 100.0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        if os.path.isdir(SCRATCH_DIR) and not os.listdir(SCRATCH_DIR):
            os.rmdir(SCRATCH_DIR)
    tmp_after = set(os.listdir("/tmp")) if os.path.isdir("/tmp") else set()
    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "host": stamp,
        "wall_s": time.monotonic() - t0,
        "tmp_added": sorted(tmp_after - tmp_before),
        "untraced_op_geomean_ms": base,
        "run": res,
        "extra_runs": [{k: r[k] for k in ("e2e", "attempted", "failed")} for r in extra_runs],
    }


def final_line(result: dict) -> dict:
    runs = [result["run"], *result["extra_runs"]]
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    if result["trace"]:
        pl = result["run"]["per_layer"]
        metrics = {n: {"value": pl[n], "unit": u} for n, u, *_ in spec.per_layer()}
    else:
        metrics = {n: {"value": result["run"]["e2e"][n], "unit": u}
                   for n, u, *_ in spec.END_TO_END}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def summary(result: dict) -> str:
    r = result["run"]
    h = result["host"]
    n = r["samples"]["ops"]
    lines = [
        f"== {result['workload']} seed={result['seed']} {'traced' if result['trace'] else 'untraced'} "
        f"sizes={r['sizes']} ({n} measured ops; by kind {r['samples']['by_kind'] or '-'}; "
        f"run wall {result['wall_s']:.1f} s)",
        f"   host: {h['cores']} cores, MemTotal {h['mem_total_mb']} MB, heap {h['heap_mb']} MB, "
        f"free disk {h['free_disk_mb']} MB, python {h['python']}, pyspark {h['pyspark']}, "
        f"{h['java']}, {h['source']}",
    ]
    for name, unit, better, bound in spec.END_TO_END:
        lines.append(f"   {name:<12} {r['e2e'][name]:>14.4f} {unit:<6} ({better} is better, "
                     f"bound {bound:.1%}, n={n} ops)")
    ratio = r["failed"] / r["attempted"] if r["attempted"] else 1.0
    lines.append(f"   failed_ops_ratio {ratio:.4f} ({r['failed']}/{r['attempted']})")
    for op_id, why in r["failures"]:
        lines.append(f"   FAILED {op_id}: {why}")
    if result["tmp_added"]:
        lines.append(f"   /tmp gained entries during the run: {result['tmp_added']}")
    if result["trace"]:
        base = result["untraced_op_geomean_ms"]
        against = (f"against an untraced run's {base:.1f} ms" if base is not None
                   else "against the untraced ops of the same run")
        lines.append(f"   {len(r['per_layer'])} per-layer metrics; tracing overhead "
                     f"{r['per_layer']['trace.overhead_pct']:+.1f}% on op wall time, {against}")
        for op, row in sorted(r["extra"].get("stage_table", {}).items()):
            cells = " ".join(f"{k}={v:.4g}" for k, v in row.items())
            lines.append(f"   stage[{op}] {cells}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all", choices=["all", *[w for w, _ in spec.WORKLOADS]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full",
                    help="toy: tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "laion_spark", "__init__.py")):
        print(f"perfbench: no laion_spark package under {ROOT}; run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    names = [w for w, _ in spec.WORKLOADS] if args.workload == "all" else [args.workload]
    os.makedirs(OUT_DIR, exist_ok=True)
    lines = []
    for w in names:
        try:
            result = run_workload(w, args.seed, args.seconds, bool(args.trace), args.scale)
        except RuntimeError as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 1
        with open(out_path(w, args.seed, bool(args.trace)), "w") as f:
            json.dump(result, f, indent=1)
        print(summary(result), flush=True)
        lines.append(final_line(result))
    if len(lines) == 1:
        print(json.dumps(lines[0]))
    else:
        print(json.dumps({
            "correct": all(x["correct"] for x in lines),
            "attempted": sum(x["attempted"] for x in lines),
            "failed": sum(x["failed"] for x in lines),
            "workloads": {w: x["metrics"] for w, x in zip(names, lines)},
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
