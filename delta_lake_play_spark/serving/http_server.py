"""Runnable HTTP service over the serving handlers — stdlib only.

The reference ships its endpoints behind FastAPI + gunicorn
(``api.py:52-58``, ``Dockerfile:13``); FastAPI is not installable in
this build environment, so this module serves the SAME five routes —
paths, methods, and request/response JSON shapes per ``api.py``:

    GET    /hello_world        → {"message": "Hello World"}
    GET    /get_table_history  → history keyed by version
    POST   /get_table          ← {"version": int | ISO datetime | null}
    PUT    /merge_to_table     ← {"data": [{id, firstname, lastname}]}
    DELETE /delete_from_table  ← {"ids": [int, ...]}

through ``http.server.ThreadingHTTPServer``. One shared
:class:`NamesTableService` (table handle + SparkSession built once at
startup, like ``api.py:51-53``); each request thread makes blocking
Spark calls, which is exactly what the reference's ``async def``
routes did wrong on the event loop — here blocking per-thread is the
design. This is the dev/test server; production would front the same
handlers with any WSGI/ASGI stack, the semantics don't change.

Run standalone::

    python -m delta_lake_play_spark.serving.http_server [port]
"""

from __future__ import annotations

import json
from datetime import datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from threading import Thread

from pyspark.sql import SparkSession

from delta_lake_play_spark.serving import models
from delta_lake_play_spark.serving.handlers import NamesTableService


def make_handler(service: NamesTableService) -> type[BaseHTTPRequestHandler]:
    class Handler(BaseHTTPRequestHandler):
        def _reply(self, status: int, payload: dict) -> None:
            body = json.dumps(payload).encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body(self) -> dict:
            length = int(self.headers.get("Content-Length") or 0)
            if not length:
                return {}
            return json.loads(self.rfile.read(length).decode("utf-8"))

        def _route(self, method: str) -> None:
            try:
                if method == "GET" and self.path == "/hello_world":
                    self._reply(200, service.hello_world())
                elif method == "GET" and self.path == "/get_table_history":
                    self._reply(200, service.get_table_history())
                elif method == "POST" and self.path == "/get_table":
                    # Validate through the pydantic request model
                    # (exactly what FastAPI does before the route runs).
                    version = models.GetTableRequest.model_validate(
                        self._body()
                    ).version
                    out = service.get_table(version)
                    # JSON-shape parity with the FastAPI app (r6
                    # review): integer labels stay numbers; only a
                    # datetime label needs serializing, in ISO form.
                    if isinstance(out["version"], datetime):
                        out["version"] = out["version"].isoformat()
                    self._reply(200, out)
                elif method == "PUT" and self.path == "/merge_to_table":
                    req = models.MergeToTableRequest.model_validate(self._body())
                    rows = [r.model_dump() for r in req.data]
                    self._reply(200, service.merge_to_table(rows))
                elif method == "DELETE" and self.path == "/delete_from_table":
                    ids = models.DeleteFromTableRequest.model_validate(
                        self._body()
                    ).ids
                    self._reply(200, service.delete_from_table(ids))
                else:
                    self._reply(404, {"detail": "Not Found"})
            except (KeyError, ValueError, TypeError) as exc:
                self._reply(422, {"detail": f"{type(exc).__name__}: {exc}"})
            except Exception as exc:  # noqa: BLE001 — surface as 500, keep serving
                self._reply(500, {"detail": f"{type(exc).__name__}: {exc}"})

        def do_GET(self):  # noqa: N802 (stdlib API)
            self._route("GET")

        def do_POST(self):  # noqa: N802
            self._route("POST")

        def do_PUT(self):  # noqa: N802
            self._route("PUT")

        def do_DELETE(self):  # noqa: N802
            self._route("DELETE")

        def log_message(self, fmt, *args):  # quiet: tests hit it in a loop
            pass

    return Handler


def start_server(
    spark: SparkSession, table_dir: str, port: int = 0
) -> tuple[ThreadingHTTPServer, Thread]:
    """Start the service on ``port`` (0 = ephemeral) in a daemon
    thread; returns (server, thread). Call ``server.shutdown()`` to
    stop."""
    service = NamesTableService(spark, table_dir)
    server = ThreadingHTTPServer(("127.0.0.1", port), make_handler(service))
    thread = Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread


def main() -> None:  # pragma: no cover — manual entry point
    import sys

    from delta_lake_play_spark.session import get_spark
    from delta_lake_play_spark.table.versioned import temp_table_path

    port = int(sys.argv[1]) if len(sys.argv) > 1 else 8000
    spark = get_spark("delta_lake_play_spark-serving")
    server, thread = start_server(spark, temp_table_path("serving"), port)
    print(f"serving on http://127.0.0.1:{server.server_address[1]}")
    thread.join()


if __name__ == "__main__":  # pragma: no cover
    main()
