#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <bulk-build|serve-topk> --seed <n> \\
        --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository.  This process starts the
Spark driver (``perfbench/worker.py``) as a child, samples the resident
memory of the whole process tree (driver, JVM, Python workers), waits for
every descendant to end, and prints one JSON object as the last line of
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
the per-layer ones; the traced run also writes its spans to
``perfbench_out/trace-<workload>-seed<n>.json`` and prints a host-control
reading (``tools/host_control.py``) taken before the workload starts.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "gitlab_elasticsearch_indexer_spark"
DEADLINE_S = 170  # from start: the worker is killed past it; run.py must end within 180 s
PR_SET_CHILD_SUBREAPER = 36


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (the Python daemon and its forked workers) split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemSampler(threading.Thread):
    """Peak memory of the worker's process tree, sampled every PERIOD_S."""

    PERIOD_S = 0.2

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.done, self.peak = pid, threading.Event(), 0

    def run(self) -> None:
        while not self.done.wait(self.PERIOD_S):
            self.peak = max(self.peak, sum(map(pss_bytes, tree_pids(self.pid))))


def kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def reap_all(pgid: int, deadline: float) -> None:
    """Wait for every remaining descendant (re-parented to this process as
    child subreaper); kill the worker's process group past the deadline."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            if time.time() > deadline:
                kill_group(pgid)
            time.sleep(0.05)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    deadline = time.time() + DEADLINE_S

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from a checkout root", file=sys.stderr)
        return 2
    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    if args.trace:  # host phase indicator beside the traced run; not gated
        hc = subprocess.run([sys.executable, os.path.join(root, "tools", "host_control.py")],
                            capture_output=True, text=True, timeout=60)
        print(json.dumps({"host_control": json.loads(hc.stdout.strip().splitlines()[-1])}))

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # SPARK_LOCAL_DIRS would override the worker's spark.local.dir
    env = dict(os.environ, TMPDIR=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               PYTHONPATH=os.pathsep.join([root, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep))
    out = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    # own process group: the JVM and Python workers it starts can be killed together
    worker = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True,
                              start_new_session=True)
    signal.signal(signal.SIGTERM, lambda *_: (kill_group(worker.pid), sys.exit(1)))
    sampler = MemSampler(worker.pid)
    sampler.start()
    killer = threading.Timer(max(deadline - time.time(), 0), kill_group, [worker.pid])
    killer.daemon = True
    killer.start()
    for line in worker.stdout:
        sys.stdout.write(line)
    code = worker.wait()
    killer.cancel()
    sampler.done.set()
    sampler.join()
    reap_all(worker.pid, min(time.time() + 20, deadline + 5))

    try:
        if code != 0:
            print(f"perfbench: worker exited with {code}", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = res["layers"] if args.trace else dict(res["e2e"], peak_rss_mb=sampler.peak / 2**20)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **res["summary"],
                      "error_rate": res["failed"] / res["attempted"],
                      "failures": res["failures"]}))
    if args.trace:
        print(json.dumps({"layers": res["layers"]}))
    # null where no operation produced the metric (the run then has failures)
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]} for m in spec}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
