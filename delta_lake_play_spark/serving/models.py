"""Request models mirroring the reference API's wire shapes.

Parity targets (``api.py:23-38``): ``TableRowModel`` (id/firstname/
lastname), ``MergeToTableRequest`` (``data`` list), ``DeleteFrom-
TableRequest`` (``ids`` list), ``GetTableRequest`` (``version``: int,
ISO datetime, or null).

FastAPI remains uninstallable in this environment (SURVEY §15
probe); pydantic is a pinned requirement, so the request-shape parity
is EXECUTED at runtime: the stdlib dev server (``http_server.py``)
validates every request body through these models exactly as FastAPI
would before invoking a route, rejecting malformed payloads with the
same 422 semantics.
"""

from __future__ import annotations

from datetime import datetime

from pydantic import BaseModel


class TableRowModel(BaseModel):  # api.py:23-26
    id: int
    firstname: str
    lastname: str


class MergeToTableRequest(BaseModel):  # api.py:29-30
    data: list[TableRowModel]


class DeleteFromTableRequest(BaseModel):  # api.py:33-34
    ids: list[int]


class GetTableRequest(BaseModel):  # api.py:37-38
    version: int | datetime | None = None
