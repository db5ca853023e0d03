"""Optional FastAPI wrapper over the serving handlers.

Route-for-route parity with the reference app (``api.py:52-107``):
same paths, methods, and request/response shapes. Gated behind an
import-try — FastAPI is not installed in this build environment, so
the module exposes ``create_app`` that raises a clear error when the
framework is missing; the handler layer (``handlers.py``) carries all
semantics and is fully tested without it.

Routes are registered as sync ``def`` functions: FastAPI executes
them in its threadpool, fixing the reference's blocking-inside-
``async def`` flaw (``api.py:56,70,89,105``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from delta_lake_play_spark.serving.handlers import NamesTableService
from delta_lake_play_spark.serving.models import (
    DeleteFromTableRequest,
    GetTableRequest,
    MergeToTableRequest,
)

try:
    from fastapi import FastAPI, HTTPException

    _HAVE_FASTAPI = True
except ImportError:  # pragma: no cover - not installed in build env
    _HAVE_FASTAPI = False


def create_app(spark: SparkSession, table_dir: str):
    """Build the FastAPI app (``api.py:52``'s ``create_app`` shape).
    Request models live in ``serving/models.py`` (pydantic, and
    since r8 exercised by the stdlib dev server too)."""
    if not _HAVE_FASTAPI:
        raise ImportError(
            "fastapi is not installed; use "
            "delta_lake_play_spark.serving.http_server (stdlib, same "
            "routes + pydantic validation) or handlers.NamesTableService"
        )

    service = NamesTableService(spark, table_dir)
    app = FastAPI()

    @app.get("/hello_world")
    def hello_world():
        return service.hello_world()

    @app.get("/get_table_history")
    def get_table_history():
        return service.get_table_history()

    @app.post("/get_table")
    def get_table(r: GetTableRequest):
        try:
            return service.get_table(r.version)
        except ValueError as e:  # bad version/timestamp → 500, like api.py:82-84
            raise HTTPException(status_code=500, detail=str(e)) from e

    @app.put("/merge_to_table")
    def merge_to_table(r: MergeToTableRequest):
        return service.merge_to_table([row.model_dump() for row in r.data])

    @app.delete("/delete_from_table")
    def delete_from_table(r: DeleteFromTableRequest):
        return service.delete_from_table(r.ids)

    return app
