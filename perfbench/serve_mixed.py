"""serve-mixed: a closed loop of two clients against the stdlib HTTP server.

The server is the reference's composition: ``make_handler`` over a
``NamesTableService`` whose table keeps a Delta log under every DML
(``delta_mirror=True``). Each client sends its next request only after
the previous reply, from a seeded sequence. One client only writes
(5-row MERGE, 2-id DELETE); the other only reads (latest, as-of version,
as-of timestamp, history), so every read runs beside a write. The check
replays the acknowledged writes in version order onto a dict model and
compares it with the final latest read and one as-of read.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import tempfile
import threading
import time
from http.server import ThreadingHTTPServer

from tracing import install_service

# Few ids, so the table stays dense and most DELETEs remove rows.
ID_RANGE = 20
MERGE_ROWS = 5
DELETE_IDS = 2
# Each client draws its requests from shuffled decks, so that every kind
# is sampled in every deck and the mix is the same in every run. The
# first client writes, the second reads.
READS = ["latest", "asof_version", "asof_timestamp", "history"]
WRITES = ["merge", "delete"]
KINDS = READS + WRITES
DECKS = [WRITES, READS]
FIRST = "abcdefghij"
LAST = "klmnopqrst"


class ServeMixed:
    name = "serve-mixed"
    # The check replays the writes made in the measured window.
    check_first = False

    def __init__(self, fixture: str, seed: int, tracer=None):
        from delta_lake_play_spark.serving.handlers import SEED_ROWS, NamesTableService
        from delta_lake_play_spark.serving.http_server import make_handler

        self.seed = seed
        self.tr = tracer
        self.seed_rows = SEED_ROWS
        self.service_cls = NamesTableService
        self.make_handler = make_handler
        if tracer:
            install_service(tracer, NamesTableService)
        self.server = None
        self.thread = None
        self.acks: list[tuple[int, str, object]] = []  # (version, kind, payload)
        self.labels: dict[int, list[int]] = {}  # write versions per client
        self.latest_labels: dict[int, list[int]] = {}  # latest-read versions per client
        self.checked = 0
        self.wrong: list[str] = []
        self.version_ts: str | None = None

    # ------------------------------------------------------------ set-up

    def setup(self, spark) -> None:
        """A fresh table, its service and a listening server."""
        self.spark = spark
        table_dir = os.path.join(tempfile.mkdtemp(prefix="serve-"), "names")
        service = self.service_cls(spark, table_dir, delta_mirror=True)
        handler = self.make_handler(service)
        tr = self.tr
        if tr:
            base = handler

            class handler(base):  # noqa: N801 — tags the server thread with the client's op
                def _route(self, method):
                    tr.set_op(self.headers.get("X-Perfbench-Op"))
                    try:
                        super()._route(method)
                    finally:
                        tr.set_op(None)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        status, _ = self._call("GET", "/hello_world", None)
        if status != 200:
            raise RuntimeError(f"server answered {status} to /hello_world")
        self.acks = []
        self.labels = {}
        self.latest_labels = {}

    def teardown(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)
            self.server = None

    # -------------------------------------------------------- operations

    def _call(self, method: str, path: str, body, op: str | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.server.server_address[1], timeout=120)
        try:
            headers = {"Content-Type": "application/json"}
            if op:
                headers["X-Perfbench-Op"] = op
            data = None if body is None else json.dumps(body)
            conn.request(method, path, body=data, headers=headers)
            resp = conn.getresponse()
            payload = json.loads(resp.read() or b"{}")
            return resp.status, payload
        finally:
            conn.close()

    def _request(self, kind: str, rng: random.Random, client: int, warm: bool, op: str) -> dict:
        if kind == "latest":
            args = ("POST", "/get_table", {"version": None})
        elif kind == "asof_version":
            top = max((v for v, _, _ in self.acks), default=0)
            args = ("POST", "/get_table", {"version": rng.randint(0, top)})
        elif kind == "asof_timestamp":
            args = ("POST", "/get_table", {"version": self.version_ts})
        elif kind == "history":
            args = ("GET", "/get_table_history", None)
        elif kind == "merge":
            ids = rng.sample(range(1, ID_RANGE + 1), MERGE_ROWS)
            rows = [{"id": i, "firstname": rng.choice(FIRST) * 3, "lastname": rng.choice(LAST) * 4} for i in ids]
            args = ("PUT", "/merge_to_table", {"data": rows})
        else:
            args = ("DELETE", "/delete_from_table", {"ids": rng.sample(range(1, ID_RANGE + 1), DELETE_IDS)})
        rec = {"kind": kind, "write": kind in WRITES, "warm": warm, "client": client, "op": op}
        rec["t0"] = time.time()
        t0 = time.perf_counter()
        try:
            status, payload = self._call(*args, op=op)
        except (OSError, http.client.HTTPException, ValueError) as exc:
            status, payload = 0, {"detail": f"{type(exc).__name__}: {exc}"}
        rec["wall"] = time.perf_counter() - t0
        rec["t1"] = time.time()
        rec["ok"] = status == 200
        if not rec["ok"]:
            rec["error"] = f"{status}: {payload.get('detail', '')}"[:300]
            return rec
        if kind in WRITES:
            body = args[2]
            self.acks.append((payload["version"], kind, body["data"] if kind == "merge" else body["ids"]))
            self.labels.setdefault(client, []).append(payload["version"])
        elif kind == "latest":
            self.latest_labels.setdefault(client, []).append(payload["version"])
        if self.tr and warm:
            self.tr.count("cache.persisted_after_op", self.spark.sparkContext._jsc.getPersistentRDDs().size())
            self.tr.poll_jobs()
        return rec

    def cold(self) -> list[dict]:
        """One request of every kind, from one client, in a fixed order so
        that each runs at the same point of the JVM's warm-up."""
        rng = random.Random(self.seed * 7919)
        status, hist = self._call("GET", "/get_table_history", None)
        self.version_ts = max(h for h in hist["timestamp"].values()) if status == 200 else None
        return [self._request(k, rng, 0, False, f"cold-{i}") for i, k in enumerate(KINDS)]

    def warmup(self) -> list[dict]:
        """Nothing more: the cold pass warms every request path, and
        later requests show no trend over the window."""
        return []

    def measure(self, seconds: float) -> list[dict]:
        """Each client deals decks until ``seconds`` have passed; the
        request in flight at the deadline is finished."""
        out: list[list[dict]] = [[] for _ in DECKS]
        start = time.perf_counter()

        def client(c: int) -> None:
            rng = random.Random(self.seed * 1000 + c)
            while time.perf_counter() - start < seconds:
                deck = DECKS[c][:]
                rng.shuffle(deck)
                for kind in deck:
                    if time.perf_counter() - start >= seconds:
                        break
                    out[c].append(self._request(kind, rng, c, True, f"c{c}-{len(out[c])}"))

        threads = [threading.Thread(target=client, args=(c,)) for c in range(len(DECKS))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.window = time.perf_counter() - start
        return [r for rs in out for r in rs]

    # ------------------------------------------------------------- check

    def _model(self, upto: int) -> dict[int, tuple[str, str]]:
        model = {i: (f, l) for i, f, l in self.seed_rows}
        for version, kind, payload in sorted(self.acks):
            if version > upto:
                break
            if kind == "merge":
                for row in payload:
                    model[row["id"]] = (row["firstname"], row["lastname"])
            else:
                for i in payload:
                    model.pop(i, None)
        return model

    def _compare(self, what: str, version, upto: int, inject_wrong: bool) -> None:
        self.checked += 1
        status, payload = self._call("POST", "/get_table", {"version": version})
        if status != 200:
            self.wrong.append(f"{what}: status {status}")
            return
        got = {r["id"]: (r["firstname"], r["lastname"]) for r in payload["data"]}
        if inject_wrong:
            got.pop(next(iter(got)), None)
        if got != self._model(upto):
            self.wrong.append(f"{what}: table differs from the replayed writes")

    def check(self, inject_wrong: bool = False) -> None:
        versions = [v for v, _, _ in self.acks]
        self.checked += 1
        if len(set(versions)) != len(versions):
            self.wrong.append("two acknowledged writes share a version")
        for c, labels in sorted(self.labels.items()):
            self.checked += 1
            if any(b <= a for a, b in zip(labels, labels[1:])):
                self.wrong.append(f"client {c}: write version labels do not rise strictly")
        for c, labels in sorted(self.latest_labels.items()):
            self.checked += 1
            if any(b < a for a, b in zip(labels, labels[1:])):
                self.wrong.append(f"client {c}: latest-read version labels go back")
        top = max(versions, default=0)
        self._compare("latest read", None, top, inject_wrong)
        mid = sorted(versions)[len(versions) // 2] if versions else 0
        self._compare(f"as-of read of version {mid}", mid, mid, False)
