"""Fast self-test of the benchmark at the smallest fixture (sf0.001).

Runs every workload at minimum size with tracing off and on, checks
that every metric named in BENCHMARK.json is printed with its unit,
that an injected wrong result is counted as failed, and that the
benchmark refuses to run where the package is missing.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=cwd, timeout=300)
    lines = out.stdout.strip().splitlines()
    return out.returncode, (json.loads(lines[-1]) if out.returncode == 0 and lines else None)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems: list[str] = []

    def expect(cond: bool, msg: str) -> None:
        print(("ok   " if cond else "FAIL ") + msg, flush=True)
        if not cond:
            problems.append(msg)

    for wl in (w["name"] for w in spec["workloads"]):
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run(wl, trace)
            expect(code == 0 and res is not None, f"{wl} trace={trace}: exits 0 with a result")
            if res is None:
                continue
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{wl} trace={trace}: result keys")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{wl} trace={trace}: correct, {res['failed']}/{res['attempted']} failed")
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{wl} trace={trace}: every {group} metric with its unit")
        code, res = run(wl, 0, "--inject-wrong")
        expect(res is not None and res["failed"] > 0 and not res["correct"],
               f"{wl}: an injected wrong result is counted as failed")

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, res = run(spec["workloads"][0]["name"], 0, cwd=bare)
        expect(code != 0 and res is None, "refuses to run without the package")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print("self-test", "passed" if not problems else f"failed: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
