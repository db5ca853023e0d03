"""Compare two plan captures from ``scripts/capture_plans.py``.

Usage: python scripts/compare_plans.py <dir_a> <suffix_a> <dir_b> <suffix_b>

Two captures of one tree are never byte-identical: expression ids,
RDD ids, temp-table paths and the seeds ``rand``/``shuffle`` draw at
analysis differ from run to run. Each plan is normalized for exactly
those (expression ids and the numbers of higher-order-function
lambda variables, ``lambda x_532#10``, renumbered by first
appearance) before the comparison. Prints the number of identical
keys and the differing ones; exits 1 if any differ.
"""

import os
import re
import sys

_UUID = r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"


def normalize(plan: str) -> str:
    plan = re.sub(r"/tmp/[^\s,\]]*", "<tmp>", plan)
    plan = re.sub(_UUID, "<uuid>", plan)
    ids: dict[str, int] = {}
    plan = re.sub(r"#(\d+)", lambda m: f"#{ids.setdefault(m.group(1), len(ids))}", plan)
    # lambda names come from one counter for the whole session
    lambdas: dict[str, int] = {}
    plan = re.sub(
        r"(lambda \w+?_)(\d+)#",
        lambda m: f"{m.group(1)}{lambdas.setdefault(m.group(2), len(lambdas))}#",
        plan,
    )
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    plan = re.sub(r"Some\(-?\d{6,}\)", "Some(SEED)", plan)
    return re.sub(r"\[id=#?\d+\]", "[id=N]", plan)


def main() -> int:
    dir_a, suf_a, dir_b, suf_b = sys.argv[1:5]
    keys = sorted(f[: -len(f"_{suf_a}.txt")] for f in os.listdir(dir_a) if f.endswith(f"_{suf_a}.txt"))
    differ = []
    for key in keys:
        with open(os.path.join(dir_a, f"{key}_{suf_a}.txt")) as fa:
            a = normalize(fa.read())
        try:
            with open(os.path.join(dir_b, f"{key}_{suf_b}.txt")) as fb:
                b = normalize(fb.read())
        except FileNotFoundError:
            b = None
        if a != b:
            differ.append(key)
    print(f"identical after normalization: {len(keys) - len(differ)}/{len(keys)}")
    for key in differ:
        print("differs:", key)
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
