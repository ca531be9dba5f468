"""CDC-ingest benchmark launcher.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Each invocation runs one workload in a
fresh child process (`workloads.py`), measures that process from the
outside (wall time, peak RSS of its whole process tree, load and CPU
steal around it) and prints, as the last line of standard output, one
JSON object: `correct`, `attempted`, `failed` and `metrics` — the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The line before it is a JSON object of supporting detail. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import SPEC, UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

WORK_ROOT = ".perfbench_work"
# one invocation (two workload processes on a first traced run) must end
# within 180 s
INVOCATION_LIMIT_S = 170.0
POLL_S = 0.5
PR_SET_CHILD_SUBREAPER = 36


def cpu_times() -> tuple:
    """(total, steal) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user/nice
    return sum(fields[:8]), steal


def load_average() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _proc_table() -> dict:
    """{pid: (ppid, state)} of every process visible in /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            # fields after the parenthesised command: state ppid ...
            rest = stat[stat.rindex(")") + 2:].split()
            table[int(name)] = (int(rest[1]), rest[0])
        except (OSError, ValueError, IndexError):
            continue
    return table


def descendants(root: int) -> tuple:
    """(live, zombie) pids below `root`, found by parent links, not by
    process group: Spark's Python daemon moves itself and every worker it
    forks into a group of their own."""
    table = _proc_table()
    children: dict = {}
    for pid, (ppid, _state) in table.items():
        children.setdefault(ppid, []).append(pid)
    live, zombie, todo = [], [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        (zombie if table[pid][1] == "Z" else live).append(pid)
        todo += children.get(pid, [])
    return live, zombie


def become_subreaper() -> None:
    """Re-parent orphaned descendants to this process instead of init, so
    a Python worker that outlives its parent is still found (and stopped)
    by walking parent links from here."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def tree_pss() -> dict:
    """{pid: resident bytes} of every process this launcher started — the
    workload interpreter, the driver JVM, Spark's Python daemon and UDF
    workers — counted as PSS, so pages the forked workers share with
    their daemon are counted once."""
    out = {}
    for pid in descendants(os.getpid())[0]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            continue
    return out


def _reap(skip: int | None) -> None:
    """Collect the exit status of re-parented descendants that have ended."""
    for pid in descendants(os.getpid())[1]:
        if pid != skip:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def stop_tree(proc) -> None:
    """SIGTERM, then SIGKILL, every process below this launcher, and wait
    until each has ended and been reaped."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        live = descendants(os.getpid())[0]
        if not live:
            break
        for pid in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace
        while time.time() < deadline and descendants(os.getpid())[0]:
            _reap(skip=proc.pid)
            time.sleep(0.05)
    proc.wait()
    _reap(skip=None)


def source_digest(root: str) -> str:
    """Short hash of the code a run executes: the package, the benchmark
    and BENCHMARK.json (a checkout need not be a git repository)."""
    h = hashlib.sha256()
    files = [os.path.join(root, "BENCHMARK.json")]
    for top in ("data_juicer_spark", os.path.relpath(HERE, root)):
        for base, dirs, names in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            files += [os.path.join(base, n) for n in sorted(names)]
    for fn in files:
        h.update(os.path.relpath(fn, root).encode() + b"\0")
        with open(fn, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_child(args, root: str, work: str, trace: int, deadline: float) -> dict:
    """Run one workload process, killed at `deadline`; returns its result
    plus the parent's own measurements of it."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    env = dict(os.environ)
    # the package must import in Spark's Python workers as well as in the
    # driver, whatever the working directory
    env["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = f"{work}/tmp"
    env["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # measure the package as shipped: its session warmup stays on
    env.pop("SPARK_GRAFT_NO_WARMUP", None)
    out = f"{work}/result.json"
    cmd = [sys.executable, os.path.join(HERE, "workloads.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--work", work, "--out", out]

    cpu0, load0 = cpu_times(), load_average()
    with open(f"{work}/child.log", "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd + ["--spawn-time", repr(t0)], cwd=root,
                                env=env, stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT)
        peak, peak_procs, prev = 0, 0, {}
        try:
            while proc.poll() is None:
                # count a process once it has been seen twice: the JVM's
                # spawn helper briefly shares the JVM's whole address space
                # and would count it a second time
                cur = tree_pss()
                seen = [v for pid, v in cur.items() if pid in prev]
                if sum(seen) > peak:
                    peak, peak_procs = sum(seen), len(seen)
                prev = cur
                if time.time() > deadline:
                    raise TimeoutError("workload exceeded the invocation's time limit")
                time.sleep(POLL_S)
            process_s = time.time() - t0
        finally:
            stop_tree(proc)
    cpu1, load1 = cpu_times(), load_average()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(f"{work}/child.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"workload process failed (exit {proc.returncode})")
    with open(out) as f:
        result = json.load(f)
    dt = max(cpu1[0] - cpu0[0], 1)
    result["host"] = {"nproc": len(os.sched_getaffinity(0)),
                      "loadavg_before": load0, "loadavg_after": load1,
                      "steal_share": (cpu1[1] - cpu0[1]) / dt}
    result["process_s"] = process_s
    result["peak_rss_mb"] = peak / 2**20
    result["detail"]["peak_processes"] = peak_procs
    # mostly set-up, which setup_s reports: detail line, not a metric
    result["detail"]["process_s"] = process_s
    return result


def save_untraced(ref_dir: str, seed: int, result: dict) -> None:
    with open(os.path.join(ref_dir, f"{seed}.json"), "w") as f:
        json.dump(result, f)


def untraced_reference(ref_dir: str, seed: int) -> dict | None:
    """The untraced `op_s.p50` and `process_s` to subtract: those of the
    same seed when this code has run it, else the medians over the seeds
    it has run (a traced invocation then avoids a second, untraced run)."""
    runs = {}
    for name in os.listdir(ref_dir):
        with open(os.path.join(ref_dir, name)) as f:
            r = json.load(f)
        if r.get("e2e"):
            runs[int(name.split(".")[0])] = r
    chosen = [runs[seed]] if seed in runs else list(runs.values())
    if not chosen:
        return None
    return {"seeds": sorted(runs) if seed not in runs else [seed],
            "op_s.p50": statistics.median(r["e2e"]["op_s.p50"] for r in chosen),
            "process_s": statistics.median(r["process_s"] for r in chosen)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "data_juicer_spark", "__init__.py")):
        sys.stderr.write("run from the root of a data_juicer_spark checkout\n")
        return 2
    work_root = os.path.join(root, WORK_ROOT)
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    # untraced results of this workload and code, one file per seed; the
    # tracing overhead compares with them
    ref_dir = os.path.join(
        work_root, f"untraced-{args.workload}-{source_digest(root)}")
    os.makedirs(ref_dir, exist_ok=True)
    deadline = time.time() + INVOCATION_LIMIT_S
    become_subreaper()
    try:
        if args.trace and not os.listdir(ref_dir):
            # no untraced run of this code yet: make one of the same seed
            save_untraced(ref_dir, args.seed, run_child(args, root, work, 0, deadline))
        result = run_child(args, root, work, args.trace, deadline)
        if args.trace:
            os.replace(f"{work}/spans.json",
                       os.path.join(work_root, f"spans-{args.workload}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = dict(result["per_layer"])
        traced = {"process_s": result["process_s"], **result["e2e"]}
        base = untraced_reference(ref_dir, args.seed)
        if base and traced.get("op_s.p50"):
            metrics["trace.overhead_op_s"] = traced["op_s.p50"] - base["op_s.p50"]
            metrics["trace.overhead_process_s"] = traced["process_s"] - base["process_s"]
            result["detail"]["untraced_reference"] = base
        result["detail"]["traced_end_to_end"] = traced
    else:
        save_untraced(ref_dir, args.seed, result)
        metrics = dict(result["e2e"])
        if metrics:
            metrics["peak_rss_mb"] = result["peak_rss_mb"]

    if result["correct"]:
        kind = "per_layer" if args.trace else "end_to_end"
        want = {m["name"] for m in SPEC[kind]}
        if set(metrics) != want:
            raise RuntimeError(f"metrics differ from BENCHMARK.json {kind}: "
                               f"{sorted(set(metrics) ^ want)}")
    print(json.dumps({"detail": result["detail"], "checks": result["checks"],
                      "host": result["host"]}))
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
