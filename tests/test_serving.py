"""Serving facade tests: replay the reference's endpoint semantics
(``api.py:55-107``) against the handler layer — seed, merge-upsert,
predicate delete, history, and time travel through the HTTP shapes.
"""

from __future__ import annotations

import re
from datetime import datetime

import pytest

from delta_lake_play_spark.serving.handlers import NamesTableService, TableRow
from delta_lake_play_spark.table.versioned import temp_table_path
from .conftest import job_tasks, spark_jobs


@pytest.fixture()
def service(spark):
    return NamesTableService(spark, temp_table_path("serving"))


def _names(resp):
    return {(r["id"], r["firstname"], r["lastname"]) for r in resp["data"]}


def test_hello_world(service):
    assert service.hello_world() == {"message": "Hello World"}


def test_get_table_latest_seed(service):
    resp = service.get_table()
    assert resp["version"] == 0
    assert _names(resp) == {(1, "James", "Bond"), (2, "Alice", "Rogers"), (3, "Joe", "Bloggs")}


def test_merge_updates_and_inserts(service):
    # api.py:95-102: matched id=1 updates, unmatched id=9 inserts.
    resp = service.merge_to_table(
        [TableRow(1, "Jim", "Bond"), TableRow(9, "Q", "Branch")]
    )
    assert resp["version"] == 1
    latest = service.get_table()
    assert _names(latest) == {
        (1, "Jim", "Bond"),
        (2, "Alice", "Rogers"),
        (3, "Joe", "Bloggs"),
        (9, "Q", "Branch"),
    }
    # Time travel: version 0 unchanged (README.md:9 semantics).
    v0 = service.get_table(version=0)
    assert _names(v0) == {(1, "James", "Bond"), (2, "Alice", "Rogers"), (3, "Joe", "Bloggs")}


def test_delete_single_id(service):
    # The api.py:107 f-string hazard case: a single-element id list.
    resp = service.delete_from_table([2])
    assert resp["version"] == 1
    assert _names(service.get_table()) == {(1, "James", "Bond"), (3, "Joe", "Bloggs")}


def test_history_keyed_by_version(service):
    service.merge_to_table([TableRow(5, "M", "Boss")])
    hist = service.get_table_history()
    # api.py:67 shape: {column: {version: value}} with string timestamps.
    assert set(hist["operation"].keys()) == {"0", "1"}
    assert hist["operation"]["0"] == "CREATE"
    assert hist["operation"]["1"] == "MERGE"
    assert isinstance(hist["timestamp"]["1"], str)


def test_bad_version_raises(service):
    with pytest.raises(ValueError):
        service.get_table(version=99)


def test_endpoints_over_delta_mirror(spark):
    """Compose the two reference-parity layers the way the reference
    itself does (``api.py:91-107`` over delta-spark's ``_delta_log``,
    ``spark_project.py:36``): every HTTP-surface DML on a
    ``delta_mirror=True`` service also lands in the open Delta log,
    and the protocol reader replays the table exactly after each
    endpoint call."""
    from delta_lake_play_spark.table.delta_log import read_delta_snapshot

    svc = NamesTableService(
        spark, temp_table_path("serving-mirror"), delta_mirror=True
    )

    def mirror_matches():
        got = sorted(
            tuple(r) for r in read_delta_snapshot(spark, svc.table.path).collect()
        )
        want = sorted(tuple(r) for r in svc.table.to_df().collect())
        assert got == want

    mirror_matches()  # seed commit mirrored by create
    svc.merge_to_table([TableRow(1, "Jim", "Bond"), TableRow(9, "Q", "Branch")])
    mirror_matches()
    svc.delete_from_table([2, 9])
    mirror_matches()
    svc.merge_to_table([TableRow(4, "Eve", "Moneypenny")])
    mirror_matches()
    # history + time travel still serve, and every historical version
    # replays through the protocol reader too
    hist = svc.get_table_history()
    assert set(hist["operation"].keys()) == {"0", "1", "2", "3"}
    for v in range(svc.table.latest_version() + 1):
        got = sorted(
            tuple(r)
            for r in read_delta_snapshot(spark, svc.table.path, version=v).collect()
        )
        want = sorted(tuple(r) for r in svc.table.read(version=v).collect())
        assert got == want, f"version {v}"


# --------------------------- real HTTP round-trip ---------------------------


def test_http_server_end_to_end(spark):
    """The runnable stdlib server: all five routes over real sockets,
    reference request/response shapes (api.py:52-107)."""
    import json
    import urllib.request

    from delta_lake_play_spark.serving.http_server import start_server

    server, _thread = start_server(spark, temp_table_path("serving-http"))
    port = server.server_address[1]

    def call(method, path, payload=None):
        data = json.dumps(payload).encode() if payload is not None else None
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{path}", data=data, method=method,
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=60) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    try:
        assert call("GET", "/hello_world") == (200, {"message": "Hello World"})

        status, table = call("POST", "/get_table", {"version": None})
        assert status == 200 and table["version"] == 0
        assert _names(table) == {
            (1, "James", "Bond"), (2, "Alice", "Rogers"), (3, "Joe", "Bloggs")
        }

        status, merged = call(
            "PUT", "/merge_to_table",
            {"data": [
                {"id": 1, "firstname": "Jim", "lastname": "Bond"},
                {"id": 9, "firstname": "Q", "lastname": "Branch"},
            ]},
        )
        assert (status, merged) == (200, {"version": 1})

        status, deleted = call("DELETE", "/delete_from_table", {"ids": [2]})
        assert (status, deleted) == (200, {"version": 2})

        status, latest = call("POST", "/get_table", {})
        assert status == 200 and _names(latest) == {
            (1, "Jim", "Bond"), (3, "Joe", "Bloggs"), (9, "Q", "Branch")
        }

        status, v0 = call("POST", "/get_table", {"version": 0})  # time travel
        assert status == 200 and (1, "James", "Bond") in _names(v0)

        status, hist = call("GET", "/get_table_history")
        assert status == 200 and hist["operation"] == {
            "0": "CREATE", "1": "MERGE", "2": "DELETE"
        }

        assert call("GET", "/nope")[0] == 404
        assert call("PUT", "/merge_to_table", {"wrong": []})[0] == 422
        assert call("POST", "/get_table", {"version": 99})[0] == 422
    finally:
        server.shutdown()


def test_http_concurrent_merges_both_commit(spark):
    """Two writers PUT /merge_to_table at once: optimistic concurrency
    must land both as distinct versions (order immaterial), with both
    rows in the final table."""
    import json
    import urllib.request
    from concurrent.futures import ThreadPoolExecutor

    from delta_lake_play_spark.serving.http_server import start_server

    server, _thread = start_server(spark, temp_table_path("serving-conc"))
    port = server.server_address[1]

    def merge(row):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/merge_to_table",
            data=json.dumps({"data": [row]}).encode(),
            method="PUT",
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            return json.loads(resp.read())["version"]

    try:
        rows = [
            {"id": 100, "firstname": "Left", "lastname": "Writer"},
            {"id": 200, "firstname": "Right", "lastname": "Writer"},
        ]
        with ThreadPoolExecutor(2) as pool:
            versions = sorted(pool.map(merge, rows))
        assert versions == [1, 2]  # both committed, no version lost

        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/get_table",
            data=b"{}", method="POST",
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=120) as resp:
            table = json.loads(resp.read())
        ids = {r["id"] for r in table["data"]}
        assert {100, 200} <= ids and table["version"] == 2
    finally:
        server.shutdown()


def test_pydantic_request_models_validate_wire_shapes(spark):
    """The pydantic request models (serving/models.py — api.py:23-38
    parity) run for real now that pydantic is installed: through the
    stdlib server, FastAPI-grade validation rejects type-malformed
    payloads with 422 BEFORE the handler runs, coerces the version
    union (int | ISO datetime | null) identically, and model_dump
    round-trips merge rows to the exact dicts the handlers accept."""
    import json
    import urllib.request
    from datetime import datetime

    from delta_lake_play_spark.serving import models
    from delta_lake_play_spark.serving.http_server import start_server

    # model-level parity, no server needed
    req = models.MergeToTableRequest.model_validate(
        {"data": [{"id": "7", "firstname": "A", "lastname": "B"}]}
    )
    assert req.data[0].model_dump() == {
        "id": 7, "firstname": "A", "lastname": "B"   # "7" coerced like FastAPI
    }
    v = models.GetTableRequest.model_validate(
        {"version": "2024-05-06T07:08:09"}
    ).version
    assert v == datetime(2024, 5, 6, 7, 8, 9)
    assert models.GetTableRequest.model_validate({}).version is None

    server, _thread = start_server(spark, temp_table_path("serving-pyd"))
    port = server.server_address[1]

    def call(method, path, payload):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{path}",
            data=json.dumps(payload).encode(),
            method=method,
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=60) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    try:
        # type-malformed payloads a naive hand parser would let through
        assert call("PUT", "/merge_to_table",
                    {"data": [{"id": "x", "firstname": 1, "lastname": []}]})[0] == 422
        assert call("PUT", "/merge_to_table",
                    {"data": [{"id": 1, "firstname": "no-lastname"}]})[0] == 422
        assert call("DELETE", "/delete_from_table", {"ids": ["seven"]})[0] == 422
        assert call("POST", "/get_table", {"version": "not-a-date"})[0] == 422
        # and the happy paths still serve identically
        assert call("PUT", "/merge_to_table",
                    {"data": [{"id": 9, "firstname": "Q", "lastname": "Branch"}]}
                    ) == (200, {"version": 1})
        status, got = call("POST", "/get_table", {"version": 1})
        assert status == 200 and got["version"] == 1
    finally:
        server.shutdown()


def test_warm_merge_job_budget(spark, monkeypatch):
    """A warm 5-row ``merge_to_table`` on the serving table
    (``delta_mirror=True``) runs a pinned number of Spark jobs (its
    ``LocalRelation`` source is probed on the driver: no aggregate, no
    persist, no shuffle), and no frame the service builds from request
    or seed rows scans a PythonRDD (``ExistingRDD``): the merge source,
    the seed and the
    ``history()`` frame are ``LocalRelation`` plans, so a request never
    starts a Python worker. A wrongly typed row still fails with the
    ``TypeError``/``ValueError`` the HTTP layer maps to 422."""
    from delta_lake_play_spark.table.versioned import VersionedTable

    built = {}
    real_create, real_merge = VersionedTable.create_if_absent, VersionedTable.merge

    def create_if_absent(spark, path, df, **kwargs):
        built["seed"] = df
        return real_create(spark, path, df, **kwargs)

    def merge(self, source, *args, **kwargs):
        built["merge source"] = source
        return real_merge(self, source, *args, **kwargs)

    monkeypatch.setattr(VersionedTable, "create_if_absent", create_if_absent)
    monkeypatch.setattr(VersionedTable, "merge", merge)
    svc = NamesTableService(spark, temp_table_path("job-budget"), delta_mirror=True)

    def rows(i):
        return [
            {"id": (5 * i + k) % 20, "firstname": f"f{i}", "lastname": "l"}
            for k in range(5)
        ]

    for i in range(4):  # warm the handle; stays clear of checkpoint versions
        svc.merge_to_table(rows(i))
    with spark_jobs(spark) as jobs:
        svc.merge_to_table(rows(4))  # updates ids 0-4, as serve-mixed mostly does
    assert len(jobs) == 2

    built["history"] = svc.table.history()
    for name, df in built.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, f"{name} scans a PythonRDD:\n{plan}"

    for bad in ({"id": "7", "firstname": "a", "lastname": "b"},
                {"id": 7, "firstname": None, "lastname": "b"}):
        with pytest.raises((TypeError, ValueError)):
            svc.merge_to_table([bad])
    assert svc.table.latest_version() == 5


def test_warm_merge_and_delete_run_two_one_task_jobs(spark):
    """On the serving table (``delta_mirror=True``) a warm 5-row MERGE
    and a warm id-list DELETE each run two Spark jobs of one task: the
    touched-file probe and the rewrite. The MERGE matches by its key
    literal (no broadcast of the source), both probes and the MERGE's
    rewrite read less than one scan split and so run as one partition,
    and the MERGE adds exactly one data file."""
    svc = NamesTableService(spark, temp_table_path("serve-budget"), delta_mirror=True)

    def rows(i):
        return [
            {"id": (5 * i + k) % 20, "firstname": f"f{i}", "lastname": "l"}
            for k in range(5)
        ]

    for i in range(3):  # warm the handle; stays clear of checkpoint versions
        svc.merge_to_table(rows(i))
        svc.delete_from_table([17 - i])
    head = svc.table._read_log(svc.table.latest_version())
    before = {f["path"] for f in head["files"]}
    with spark_jobs(spark) as jobs:
        v = svc.merge_to_table(rows(3))["version"]
    assert job_tasks(spark, jobs) == [1, 1]
    added = [
        f for f in svc.table._read_log(v)["files"] if f["path"] not in before
    ]
    assert len(added) == 1 and added[0]["path"].startswith(f"c-{v}-")
    with spark_jobs(spark) as jobs:
        svc.delete_from_table([0, 1, 2])
    assert job_tasks(spark, jobs) == [1, 1]
    assert {r["id"] for r in svc.get_table()["data"]} & {0, 1, 2} == set()


def _executed_nodes(df):
    """Operator names in ``df``'s executed physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return set(re.findall(r"^[\s:+\-]*(?:\*\(\d+\) )?(\w+)", plan, re.M))


def test_warm_get_table_job_budget(spark, monkeypatch):
    """A warm latest or as-of ``get_table`` (by version and by
    timestamp) runs exactly one Spark job: the reply is sorted on the
    driver after ``toPandas()``, so the executed plan has no range
    sample job, no ``Exchange`` and no ``Sort``."""
    svc = NamesTableService(spark, temp_table_path("read-budget"), delta_mirror=True)
    for i in range(3):
        svc.merge_to_table([{"id": 10 - i, "firstname": "f", "lastname": "l"}])
    as_of_ts = datetime.fromisoformat(svc.get_table_history()["timestamp"]["2"])

    collected = []
    frame_cls = type(spark.range(1))
    real_to_pandas = frame_cls.toPandas

    def to_pandas(self):
        collected.append(self)
        return real_to_pandas(self)

    monkeypatch.setattr(frame_cls, "toPandas", to_pandas)
    for version in (None, 1, as_of_ts):
        svc.get_table(version)  # warm
        collected.clear()
        with spark_jobs(spark) as jobs:
            resp = svc.get_table(version)
        assert len(jobs) == 1, (version, jobs)
        [df] = collected
        nodes = _executed_nodes(df)
        assert "Sort" not in nodes and not any("Exchange" in n for n in nodes), nodes
        ids = [r["id"] for r in resp["data"]]
        assert ids == sorted(ids)


def test_get_table_reply_matches_spark_order(spark, service):
    """The driver-side sort returns the same JSON as sorting in Spark
    with ``orderBy("id")`` (ascending, nulls first), for latest and
    as-of reads; a null id sorts first."""
    import json

    from delta_lake_play_spark.table.versioned import VersionedTable

    service.merge_to_table([TableRow(9, "Q", "Branch"), TableRow(0, "Z", "Zero")])
    service.delete_from_table([2])
    service.merge_to_table([TableRow(5, "M", "Boss"), TableRow(1, "Jim", "Bond")])
    for version in (None, 0, 1, 2):
        resp = service.get_table(version)
        want = (
            service.table.read(version=resp["version"])
            .orderBy("id")
            .toPandas()
            .to_dict(orient="records")
        )
        assert json.dumps(resp["data"]) == json.dumps(want)
        ids = [r["id"] for r in resp["data"]]
        assert ids == sorted(ids)

    path = temp_table_path("serving-null-id")
    VersionedTable.create(
        spark,
        path,
        spark.createDataFrame(
            [(3, "c", "C"), (None, "n", "N"), (1, "a", "A")],
            "id int, firstname string, lastname string",
        ),
    )
    resp = NamesTableService(spark, path).get_table()
    want = (
        VersionedTable(spark, path).to_df().orderBy("id").toPandas()
        .to_dict(orient="records")
    )
    assert json.dumps(resp["data"]) == json.dumps(want)
    assert [r["firstname"] for r in resp["data"]] == ["n", "a", "c"]


def test_get_table_labels_the_version_it_read(service, monkeypatch):
    """A commit landing between the latest read's version lookup and
    its data read does not relabel the reply: the version is resolved
    once and that snapshot is read."""
    from delta_lake_play_spark.table.versioned import VersionedTable

    real_latest = VersionedTable.latest_version
    landed = []

    def latest_version(self):
        v = real_latest(self)
        if not landed:
            landed.append(v)
            service.merge_to_table([TableRow(9, "Q", "Branch")])
        return v

    monkeypatch.setattr(VersionedTable, "latest_version", latest_version)
    resp = service.get_table()
    monkeypatch.undo()
    assert landed == [0] and service.table.latest_version() == 1
    assert resp["version"] == 0
    assert _names(resp) == {
        (1, "James", "Bond"), (2, "Alice", "Rogers"), (3, "Joe", "Bloggs")
    }
