"""Run one workload untraced under several seeds and print each
end-to-end metric's median and interquartile spread (as a share of the
median, from ``statistics.quantiles(values, n=4)``).

    python3 perfbench/spread.py --workload serve-mixed --seeds 1 2 3 4 5 --seconds 13
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", default="13")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        detail = json.loads(lines[-2])["detail"]
        print(f"seed {seed}: {detail['run_wall_s']:.0f}s correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        print("    per kind: " + " ".join(
            f"{k}={v:.3g}x{detail['per_kind_samples'][k]}" for k, v in detail["per_kind_trimmed_mean_s"].items()), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            print(f"{k:28s} median={med:.4g} spread={(q3 - q1) / med:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
