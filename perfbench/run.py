"""Benchmark of the delta_lake_play_spark package, driven from outside.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload query-mix --seed 7 --seconds 13 --trace 0

Generates a seeded fixture with ``scripts/gen_altdata.py``, runs one
workload in a child process with its own temp and Spark scratch
directories, samples the child tree's resident memory, and prints one
JSON object as the last line of standard output. See README.md in this
directory for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query-mix", "serve-mixed")
FIXTURE_SF = "0.01"
DRIVER_MEM = "2g"
RUN_TIMEOUT_S = 150
PAGE = os.sysconf("SC_PAGE_SIZE")
# Spark's task threads take half the cores; the Spark driver, the Python
# workers and the JIT get the rest.
CPUS = max(1, len(os.sched_getaffinity(0)) // 2)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    kids = _children()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    def __init__(self, pid: int, every: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.every, self.peak = pid, every, 0
        self.stop_event = threading.Event()

    def run(self) -> None:
        while not self.stop_event.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.pid))
            self.stop_event.wait(self.every)


def stop_group(proc: subprocess.Popen, timeout: float = 10.0) -> None:
    """Kill the worker's process group and wait until it is empty."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def isolated_env(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYTHONPATH=os.pathsep.join([ROOT, env["PYTHONPATH"]]) if env.get("PYTHONPATH") else ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=FIXTURE_SF, help="fixture scale factor")
    ap.add_argument("--inject-wrong", action="store_true", help="corrupt one checked result (self-test)")
    args = ap.parse_args()

    gen = os.path.join(ROOT, "scripts", "gen_altdata.py")
    if not (os.path.isdir(os.path.join(ROOT, "delta_lake_play_spark")) and os.path.isfile(gen)):
        print("perfbench: the delta_lake_play_spark package is not in this checkout", file=sys.stderr)
        return 2

    # A terminated run still stops its worker group (the finally below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    t_start = time.monotonic()
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    proc = None
    try:
        env = isolated_env(run_dir)
        fixture = os.path.join(run_dir, "fixture")
        if args.workload == "query-mix":  # serve-mixed starts from the reference's seed rows
            subprocess.run(
                [sys.executable, gen, fixture, str(args.seed), args.sf],
                check=True, stdout=subprocess.DEVNULL, env=env, cwd=run_dir, timeout=120,
            )
        out = os.path.join(run_dir, "result.json")
        spans = os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-seed{args.seed}.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--fixture", fixture, "--out", out, "--spans", spans,
        ] + (["--inject-wrong"] if args.inject_wrong else [])
        # Own session: every process the worker starts (the JVM, Python
        # workers) is in one process group that is killed at the end.
        proc = subprocess.Popen(cmd, env=env, cwd=run_dir, start_new_session=True, stdout=sys.stderr)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=max(10, RUN_TIMEOUT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            code = None
        sampler.stop_event.set()
        sampler.join()
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}", file=sys.stderr)
            return 1
        with open(out) as fh:
            res = json.load(fh)
    finally:
        if proc is not None:
            stop_group(proc)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = dict(res["end_to_end"], peak_rss_mb=sampler.peak / 2**20)
    detail = dict(res["detail"], isolation={k: env[k] for k in (
        "TMPDIR", "SPARK_LOCAL_DIRS", "PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "JAVA_TOOL_OPTIONS")})
    if args.workload == "query-mix":
        detail["fixture"] = {"generator": "scripts/gen_altdata.py", "seed": args.seed, "sf": args.sf}
    detail["end_to_end"] = e2e
    detail["run_wall_s"] = time.monotonic() - t_start
    print(json.dumps({"detail": detail}))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    values = res["per_layer"] if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
