"""Capture .explain('formatted') for registered queries.

Usage: python scripts/capture_plans.py <out_dir> <suffix> [key ...]

Writes <out_dir>/<key>_<suffix>.txt for each key (all keys when none
given) and exits 1 when any key's plan could not be built (its file
then holds ``EXPLAIN FAILED: ...``). Build-only — no action is
executed, so this is cheap even for heavy keys; streaming/DML keys
whose builder itself runs jobs still run them (that cost is the
builder's, not the explain's).
"""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from delta_lake_play_spark.registry import all_queries  # noqa: E402
from delta_lake_play_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    only = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-capture")
    queries = all_queries()
    keys = only or sorted(queries)
    failed = []
    for key in keys:
        try:
            df = queries[key](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — record, keep going
            plan = f"EXPLAIN FAILED: {type(exc).__name__}: {exc}\n"
            failed.append(key)
        with open(os.path.join(out_dir, f"{key}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        spark.catalog.clearCache()
        print(key, flush=True)
    for key in failed:
        print("EXPLAIN FAILED:", key, flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
