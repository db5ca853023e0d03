"""query-mix: registry keys driven through ``registry.all_queries()``.

Each operation builds one key's DataFrame and forces it through the
``noop`` sink, as ``bench.py`` does. The keys come from three groups:
read-only analytics (Spark execution and ``sources.load_table``),
a pandas UDF (the Python-worker boundary) and a stream
that commits each micro-batch to a versioned table. Outputs are
checked against each key's DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import random
import time

from tracing import PYTHON_NODES, drain_streams, null_span

# Spark execution (a window over a shuffle) and ``sources.load_table``.
ANALYTICS = ["win_row_number_topk_per_group"]
# A pandas UDF in a Python worker. (``llm_similarity_lsh``, the heaviest
# py4j builder, is left out: its warm time moved between 2.1 and 4.5 s
# across runs of one tree, more than a bound allows.)
LLM = ["udf_pandas_vectorized"]
# An availableNow stream through an idempotent foreachBatch sink that
# commits each micro-batch to versioned tables: the stream path and the
# commit path. The workload's only write.
TABLE = ["stream_exactly_once"]
KEYS = ANALYTICS + LLM + TABLE

# Untimed passes before the window: the first passes after the cold one
# run up to 2x slower while the JIT compiles Spark's hot paths. The cap
# bounds the warm-up on a slow host.
WARMUP_PASSES = 6
WARMUP_CAP_S = 3.0

TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def _digest(pdf) -> str:
    from tests.parity import canonical_rows

    return hashlib.sha256(repr(canonical_rows(pdf)).encode()).hexdigest()


class QueryMix:
    name = "query-mix"
    # The check reads the cold pass's results, before the measured window.
    check_first = True

    def __init__(self, fixture: str, seed: int, tracer=None):
        from delta_lake_play_spark.registry import all_oracles, all_queries

        self.fx = fixture
        self.rng = random.Random(seed)
        self.tr = tracer
        self.queries = all_queries()
        self.oracles = all_oracles()
        missing = [k for k in KEYS if k not in self.queries or k not in self.oracles]
        if missing:
            raise KeyError(f"keys without a query or an oracle: {missing}")
        self.spark = None
        self.checked = 0
        self.wrong: list[str] = []

    # ------------------------------------------------------------ set-up

    def setup(self, spark) -> None:
        """Bind the session and resolve every fixture table's schema."""
        self.spark = spark
        for t in TABLES.split():
            spark.read.parquet(f"{self.fx}/{t}.parquet").schema

    def teardown(self) -> None:
        pass

    # -------------------------------------------------------- operations

    def _run_key(self, key: str) -> dict:
        spark, tr = self.spark, self.tr
        span = tr.span if tr else null_span
        if tr:
            tr.set_op(key)
        rec = {"kind": key, "write": key in TABLE, "ok": True}
        rec["t0"] = time.time()
        t0 = time.perf_counter()
        try:
            calls0 = tr.py4j_calls if tr else 0
            with span("queries.build") as b:
                df = self.queries[key](spark, self.fx)
            if tr:
                tr.count("queries.build_py4j_calls", tr.py4j_calls - calls0)
                rec["build"] = (b["start"], b["end"])
                with span("spark.plan"):
                    plan = df._jdf.queryExecution().executedPlan().toString()
                tr.count("udf.python_nodes", len(PYTHON_NODES.findall(plan)))
            with span("spark.execute"):
                df.write.mode("overwrite").format("noop").save()
        except Exception as exc:  # noqa: BLE001 — a failed key is counted, the run goes on
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["wall"] = time.perf_counter() - t0
        rec["t1"] = time.time()
        if tr:
            tr.count("cache.persisted_after_op", spark.sparkContext._jsc.getPersistentRDDs().size())
            drain_streams(tr)
            tr.poll_jobs(force=True)
            tr.set_op(None)
        spark.catalog.clearCache()
        return rec

    def cold(self) -> list[dict]:
        """First run of every key, collected to pandas as a one-shot user
        would; the results feed ``check``."""
        self.results = {}
        out = []
        # A fixed order, so that each key runs at the same point of the
        # JVM's warm-up in every run.
        for key in KEYS:
            rec = {"kind": key, "write": key in TABLE, "ok": True}
            t0 = time.perf_counter()
            try:
                self.results[key] = self.queries[key](self.spark, self.fx).toPandas()
            except Exception as exc:  # noqa: BLE001 — a failed key is counted, the run goes on
                rec["ok"] = False
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            rec["wall"] = time.perf_counter() - t0
            self.spark.catalog.clearCache()
            out.append(rec)
        return out

    def check(self, inject_wrong: bool = False) -> None:
        """Hash each key's cold-pass output against its DuckDB oracle on
        the same fixture, outside the timed region."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads = 2")
        for t in TABLES.split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.fx}/{t}.parquet')")
        for i, key in enumerate(KEYS):
            self.checked += 1
            got = self.results.get(key)
            if got is None:
                self.wrong.append(f"{key}: no result")
                continue
            if inject_wrong and i == 0:
                got = got.iloc[:-1]
            want = con.execute(self.oracles[key]).fetchdf()
            if sorted(got.columns) != sorted(want.columns) or _digest(got) != _digest(want):
                self.wrong.append(f"{key}: output differs from the oracle")
        con.close()

    def _order(self) -> list[str]:
        keys = KEYS[:]
        self.rng.shuffle(keys)
        return keys

    def warmup(self) -> list[dict]:
        out: list[dict] = []
        start = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            if time.perf_counter() - start >= WARMUP_CAP_S:
                break
            out.extend(self._run_key(key) for key in self._order())
        return out

    def measure(self, seconds: float) -> list[dict]:
        """Passes in a fresh seeded order each until ``seconds`` have
        passed; the key in flight at the deadline is finished."""
        out: list[dict] = []
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            for key in self._order():
                if time.perf_counter() - start >= seconds:
                    break
                out.append(self._run_key(key))
        self.window = time.perf_counter() - start
        return out
