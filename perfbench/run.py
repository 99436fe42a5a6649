"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 10 --trace 0

Runs one workload (stream_ingest, cdc_upsert or query_mix; see
perfbench/README.md) in a child process with a fresh scratch root under
``.perfbench/`` in the checkout, samples the resident memory of the
child's whole process tree (driver JVM and Python workers included)
from outside, and prints one line per metric, then the result as one
JSON line. ``--trace 1`` runs the workload traced and reports the
per-layer metrics; ``trace.overhead_ratio`` is the gap between its
latency and that of the last untraced run of the same workload in this
checkout (an untraced run is made first when there is none).

Exits 2 without a result when the engine package is not next to the
benchmark, 1 when a run fails or overruns its deadline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "kinesis_datastore_app_spark"
DEADLINE_S = 170.0  # the whole invocation, both runs of a traced one
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, str] | None:
    """(state, parent pid, start time) of a live process, from /proc."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], int(fields[1]), fields[19]
    except (OSError, IndexError, ValueError):
        return None


def _tree(pid: int) -> dict[int, str]:
    """``pid`` and every descendant, each with its start time."""
    children: dict[int, list[int]] = {}
    start: dict[int, str] = {}
    for d in os.listdir("/proc"):
        st = _stat(int(d)) if d.isdigit() else None
        if st is not None:
            children.setdefault(st[1], []).append(int(d))
            start[int(d)] = st[2]
    out, todo = {}, [pid]
    while todo:
        p = todo.pop()
        if p in start:
            out[p] = start[p]
        todo += children.get(p, [])
    return out


def _rss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class ProcessWatch(threading.Thread):
    """Samples the child's process tree every 100 ms until ``stop``: its
    resident memory (driver JVM and Python workers included), and every
    process in it, so that all of them can be stopped at the end even
    after they leave the tree (Spark's Python daemon runs in a process
    group of its own)."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.samples: list[tuple[float, int]] = []
        self.seen: dict[int, str] = {}
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            tree = _tree(self.pid)
            self.seen.update(tree)
            self.samples.append((time.time(), _rss_bytes(tree)))
            self._done.wait(0.1)

    def stop(self) -> None:
        self._done.set()
        self.join()

    def mean_mb(self, start: float, end: float) -> float:
        """Mean resident MB over the samples taken in [start, end]."""
        xs = [b for t, b in self.samples if start <= t <= end]
        if not xs:
            raise RuntimeError("no memory samples in the timed phase")
        return sum(xs) / len(xs) / 2**20

    def peak_mb(self) -> float:
        return max(b for _, b in self.samples) / 2**20


def _stop_all(proc: subprocess.Popen, seen: dict[int, str]) -> None:
    """Kill the child's process group and every process ever seen in its
    tree, then wait until all of them have ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()

    def alive() -> list[int]:
        out = []
        for pid, start in seen.items():
            st = _stat(pid)
            if st is not None and st[2] == start and st[0] != "Z":
                out.append(pid)
        return out

    deadline = time.time() + 10
    while (pids := alive()) and time.time() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def run_child(args, trace: bool, deadline: float) -> dict:
    run_id = f"{args.workload}-{args.seed}-{'t' if trace else 'u'}-{os.getpid()}"
    run_dir = os.path.join(ROOT, ".perfbench", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "scratch", "local"):
        os.makedirs(os.path.join(run_dir, d))
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # every JVM, spark-submit's launcher too: temp files in the run
        # dir, and no hsperfdata file under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp",
    )
    env.pop("OMP_NUM_THREADS", None)
    traces = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(traces, exist_ok=True)
    t_spawn = time.time()
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": trace,
        "run_dir": run_dir,
        "run_id": run_id,
        "t_spawn": t_spawn,
        "spans_out": os.path.join(traces, f"{args.workload}-{args.seed}.spans.jsonl"),
    }
    log_path = os.path.join(run_dir, "child.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, "-m", "perfbench.child", json.dumps(cfg)],
                cwd=ROOT,
                env=env,
                stdout=log,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
        watch = ProcessWatch(proc.pid)
        watch.start()
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            watch.stop()
            _stop_all(proc, watch.seen)
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                tail = f.readlines()[-40:]
            sys.stderr.write("".join(tail))
            why = "overran its deadline" if code is None else f"exited {code}"
            raise RuntimeError(f"{run_id}: the workload process {why}")
        with open(result_path) as f:
            result = json.load(f)
        e2e = result["end_to_end"]
        e2e["rss_mean_mb"] = watch.mean_mb(result["t_first_op"], result["t_timed_end"])
        result["report"].append(("peak_rss_mb", watch.peak_mb(), "MB", len(watch.samples)))
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def untraced_baseline(args, deadline: float) -> dict:
    """End-to-end metrics of an untraced run to set against a traced one:
    the last untraced run of this workload and run length in this
    checkout, or a fresh run when there is none."""
    path = os.path.join(ROOT, ".perfbench", "untraced", f"{args.workload}.json")
    if os.path.exists(path):
        with open(path) as f:
            last = json.load(f)
        if last["seconds"] == args.seconds:
            return last["end_to_end"]
    return record_untraced(args, run_child(args, False, deadline))


def record_untraced(args, result: dict) -> dict:
    path = os.path.join(ROOT, ".perfbench", "untraced", f"{args.workload}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"seconds": args.seconds, "seed": args.seed, **result}, f)
    return result["end_to_end"]


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.child import END_TO_END, per_layer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # a terminated benchmark still stops its workload process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + DEADLINE_S
    try:
        if args.trace:
            baseline = untraced_baseline(args, deadline)
            result = run_child(args, True, deadline)
        else:
            result = run_child(args, False, deadline)
            record_untraced(args, result)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    e2e = result["end_to_end"]
    samples = {"latency_p50_s": result["samples"]}
    for name, value, unit, n in result["report"]:
        print(f"{name} = {value:.6g} {unit} (n={n})")
    for name, unit in END_TO_END:
        print(f"{name} = {e2e[name]:.6g} {unit} (n={samples.get(name, 1)})")
    print(
        f"ops_failed_ratio = {result['failed'] / result['attempted']:.6g} ratio "
        f"(n={result['attempted']})"
    )
    if args.trace:
        layers = result["per_layer"]
        layers["trace.overhead_ratio"] = e2e["latency_p50_s"] / baseline["latency_p50_s"] - 1
        metrics = {n: {"value": layers[n], "unit": u} for n, u in per_layer()}
        for n, u in per_layer():
            print(f"{n} = {layers[n]:.6g} {u}")
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
