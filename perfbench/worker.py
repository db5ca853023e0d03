"""One benchmark run inside the isolated environment ``run.py`` prepares.

Order: JVM start and the first set-up, the cold pass, then the
correctness check and the measured window in the order the workload asks
for, with an untimed warm-up just before the window, then repeated
set-up (the median is ``setup_s``), then the metrics, written as JSON to
``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT]

import tracing  # noqa: E402
from probe import host_factor, host_probe  # noqa: E402

SETUP_REPEATS = 3
# Host probes: the first few of a run are JIT-cold and dropped; then as
# many right before the window as right after it, and a few after each
# timed set-up.
PROBE_WARMUP = 3
WINDOW_PROBES = 8
SETUP_PROBES = 3
COMMIT_DIR = re.compile(r"^c-\d+-[0-9a-f]{8}$")


def _session():
    from delta_lake_play_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).count()
    return spark


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _trimmed_mean(xs):
    """Mean of the middle 80% of ``xs``. Unlike the median it does not
    jump between the modes of a two-mode sample (a read that overlaps a
    commit and one that does not), and unlike the mean it ignores the
    odd GC pause."""
    xs = sorted(xs)
    cut = len(xs) // 10
    xs = xs[cut:len(xs) - cut]
    return sum(xs) / len(xs) if xs else 0.0


def _p90(xs):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(0.9 * len(xs)))] if xs else 0.0


def _throughput(ok: list[dict]) -> float:
    """Completed operations per second of client busy time, summed over
    clients: for a closed loop this is the request rate, without the
    rounding that counting whole operations in a short window adds."""
    busy: dict[int, list[float]] = {}
    for r in ok:
        busy.setdefault(r.get("client", 0), []).append(r["wall"])
    return sum(len(w) / sum(w) for w in busy.values() if sum(w) > 0)


def end_to_end(warm: list[dict], setup: list[float], factor: float = 1.0, setup_factor: float = 1.0) -> dict:
    """Warm timings are sums of per-kind trimmed means, so that they do
    not depend on which kinds the window happened to end on. Warm
    timings are multiplied by ``factor``, set-up by ``setup_factor``."""
    per_kind: dict[tuple[str, bool], float] = {}
    for kind, write in {(r["kind"], r["write"]) for r in warm if r["ok"]}:
        per_kind[kind, write] = _trimmed_mean([r["wall"] for r in warm if r["ok"] and r["kind"] == kind])
    return {
        "setup_s": setup_factor * _median(setup),
        "warm_pass_s": factor * sum(per_kind.values()),
        "read_pass_s": factor * sum(v for (_, w), v in per_kind.items() if not w),
        "write_pass_s": factor * sum(v for (_, w), v in per_kind.items() if w),
    }


def _table_stats(path: str) -> tuple[int, int, int, int]:
    """(commit dirs never referenced by a log entry, versions, bytes on
    disk, bytes of the latest snapshot's files) for one table."""
    import pyarrow.parquet as pq

    log_dir = os.path.join(path, "_log")
    versions = sorted(int(f.split(".")[0]) for f in os.listdir(log_dir) if f.endswith(".json"))
    referenced: set[str] = set()
    live: list[str] = []
    for v in versions:
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            entry = json.load(fh)
        if "filesManifest" in entry:
            paths = pq.read_table(os.path.join(log_dir, entry["filesManifest"]), columns=["path"])
            files = paths.column("path").to_pylist()
        else:
            files = [f["path"] for f in entry.get("files", ())]
        referenced.update(f.split("/")[0] for f in files)
        live = files
    dirs = [d for d in os.listdir(path) if COMMIT_DIR.match(d)]
    orphans = sum(1 for d in dirs if d not in referenced)
    disk = sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )
    live_bytes = sum(os.path.getsize(os.path.join(path, f)) for f in live if os.path.exists(os.path.join(path, f)))
    return orphans, len(versions), disk, live_bytes


def per_layer(tr: tracing.Tracer, warm: list[dict], joblog: tracing.JobLog, e2e: dict) -> dict:
    n = max(1, len(warm))
    wall = sum(r["wall"] for r in warm) or 1e-9
    c = tr.counts
    # Jobs submitted inside an operation.
    jobs = list({j["id"]: j for r in warm for j in joblog.in_window(r["t0"], r["t1"])}.values())
    gap = sum(r["wall"] - joblog.busy(r["t0"], r["t1"]) for r in warm)
    entry = sum(
        s["end"] - s["start"]
        for s in tr.spans
        if s["warm"] and s["parent"] is None
        and s["group"] in ("queries.build", "spark.plan", "spark.execute", "serving.handler")
    )
    build_jobs = 0
    for r in warm:
        if "build" in r:
            b0, b1 = r["build"]
            build_jobs += len(joblog.in_window(r["t0"], r["t0"] + (b1 - b0)))
    orphans = versions = disk = live = 0
    for path in sorted(tr.tables):
        o, v, d, lb = _table_stats(path)
        orphans, versions, disk, live = orphans + o, versions + v, disk + d, live + lb
    commits = c["table.commits"]
    syncs = c["delta_log.syncs"]

    def share(group: str) -> float:
        return 100.0 * tr.warm_total(group) / wall

    return {
        "spark.plan_s": tr.warm_total("spark.plan") / n,
        "spark.execute_s": tr.warm_total("spark.execute") / n,
        "spark.driver_gap_s": gap / n,
        "op.remainder_s": (wall - entry) / n,
        "traced.warm_pass_s": e2e["warm_pass_s"],
        "queries.build_share": share("queries.build"),
        "sources.load_table_share": share("sources.load_table"),
        "table.commit_share": share("table.commit"),
        "table.read_share": share("table.read"),
        "table.data_write_share": share("table.data_write"),
        "table.footer_read_share": share("table.footer_read"),
        "delta_log.sync_share": share("delta_log.sync"),
        "streaming.add_batch_share": 100.0 * c["streaming.add_batch_s"] / wall,
        "serving.handler_share": share("serving.handler"),
        "queries.build_py4j_calls": c["queries.build_py4j_calls"] / n,
        "queries.build_jobs": build_jobs / n,
        "sources.load_table_calls": tr.warm_count("sources.load_table") / n,
        "spark.jobs": len(jobs) / n,
        "spark.tasks": sum(j["tasks"] for j in jobs) / n,
        "spark.shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs) / n,
        "spark.spill_bytes": sum(j["spill_bytes"] for j in jobs) / n,
        "udf.python_nodes": c["udf.python_nodes"] / n,
        "cache.persisted_after_op": c["cache.persisted_after_op"] / n,
        "table.commits": commits / n,
        "table.data_writes": c["table.data_writes"] / n,
        "table.footer_reads": c["table.footer_reads"] / n,
        "table.log_bytes_per_commit": c["table.log_bytes"] / commits if commits else 0.0,
        "table.files_per_version": c["table.files"] / commits if commits else 0.0,
        "table.wasted_attempts": orphans / versions if versions else 0.0,
        "table.bytes_per_live_byte": disk / live if live else 0.0,
        "delta_log.syncs": syncs / n,
        "delta_log.bytes_per_commit": c["delta_log.bytes"] / syncs if syncs else 0.0,
        "streaming.batches": c["streaming.batches"] / n,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", default=None)
    ap.add_argument("--inject-wrong", action="store_true")
    args = ap.parse_args()

    tr = tracing.Tracer() if args.trace else None
    t0 = time.perf_counter()
    if tr:
        tracing.install_before_registry(tr)
    spark = _session()
    jvm_start_s = time.perf_counter() - t0
    if tr:
        tracing.install(tr, spark)

    if args.workload == "query-mix":
        from query_mix import QueryMix as Workload
    else:
        from serve_mixed import ServeMixed as Workload
    wl = Workload(args.fixture, args.seed, tr)

    # The first set-up includes the JVM launch and is reported apart.
    wl.setup(spark)
    phases = {"jvm_start_s": jvm_start_s, "first_setup_s": time.perf_counter() - t0}
    try:
        t = time.perf_counter()
        cold = wl.cold()
        phases["cold_s"] = time.perf_counter() - t
        t = time.perf_counter()
        if wl.check_first:
            wl.check(args.inject_wrong)
        phases["check_s"] = time.perf_counter() - t
        t = time.perf_counter()
        warmup = wl.warmup()
        for _ in range(PROBE_WARMUP):
            host_probe(spark)
        probes = [host_probe(spark) for _ in range(WINDOW_PROBES)]
        phases["warmup_s"] = time.perf_counter() - t
        t = time.perf_counter()
        if tr:
            tr.joblog = tracing.JobLog(spark)
            tr.warm = True
        warm = wl.measure(args.seconds)
        if tr:
            tr.warm = False
            tr.poll_jobs(force=True)
        probes += [host_probe(spark) for _ in range(WINDOW_PROBES)]
        if not wl.check_first:
            wl.check(args.inject_wrong)
        phases["window_and_check_s"] = time.perf_counter() - t
    finally:
        wl.teardown()

    # ``setup_s`` is timed after the window, in the warm JVM, where JIT
    # warm-up does not blur it: each repeat restarts the session and sets
    # the workload up again, and host probes after it give the host speed.
    setup: list[float] = []
    setup_probes: list[float] = []
    t = time.perf_counter()
    for _ in range(SETUP_REPEATS):
        spark.stop()
        t1 = time.perf_counter()
        spark = _session()
        wl.setup(spark)
        setup.append(time.perf_counter() - t1)
        setup_probes.extend(host_probe(spark) for _ in range(SETUP_PROBES))
        wl.teardown()
    phases["setup_repeats_s"] = time.perf_counter() - t

    factor, setup_factor = host_factor(probes), host_factor(setup_probes)
    e2e = end_to_end(warm, setup, factor, setup_factor)
    errors = [r["error"] for r in cold + warmup + warm if not r["ok"]]
    result = {
        "attempted": len(cold) + len(warmup) + len(warm) + wl.checked,
        "failed": len(errors) + len(wl.wrong),
        "end_to_end": e2e,
        "detail": {
            "phases_s": phases,
            "setup_runs_s": setup,
            "warm_window_s": wl.window,
            "warm_samples": sum(1 for r in warm if r["ok"]),
            "cold_samples": len(cold),
            "warmup_samples": len(warmup),
            "per_kind_trimmed_mean_s": {
                k: _trimmed_mean([r["wall"] for r in warm if r["ok"] and r["kind"] == k])
                for k in sorted({r["kind"] for r in warm})
            },
            "cold_pass_s": sum(r["wall"] for r in cold),
            "read_p50_s": _median([r["wall"] for r in warm if r["ok"] and not r["write"]]),
            "write_p50_s": _median([r["wall"] for r in warm if r["ok"] and r["write"]]),
            "op_p90_s": _p90([r["wall"] for r in warm if r["ok"]]),
            "ops_per_s": _throughput([r for r in warm if r["ok"]]),
            "per_kind_samples": {
                k: sum(1 for r in warm if r["ok"] and r["kind"] == k) for k in sorted({r["kind"] for r in warm})
            },
            "samples": {
                k: [round(r["wall"], 3) for r in warm if r["ok"] and r["kind"] == k] for k in sorted({r["kind"] for r in warm})
            },
            "host_probe_s": _median(probes),
            "host_probes": len(probes),
            "host_factor": factor,
            "setup_host_probe_s": _median(setup_probes),
            "end_to_end_uncorrected": end_to_end(warm, setup),
            "errors": errors[:10],
            "wrong": wl.wrong[:10],
        },
    }
    if tr:
        result["per_layer"] = per_layer(tr, warm, tr.joblog, e2e)
        result["detail"]["layers"] = tr.layer_table()
        if args.spans:
            tr.dump(args.spans)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # The parent kills this process group (the JVM and Python workers
    # included) once the result is written; a graceful Spark stop would
    # only add seconds to every run.
    os._exit(code)
