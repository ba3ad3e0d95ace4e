"""Minimal HTTP ``/_sql`` client on the standard library.

POSTs ``{"stmt": ..., "args": [...]}`` over one keep-alive connection
and returns the decoded response body. An error envelope
(``{"error": {"message", "code"}}``) is raised as :class:`SqlError`.
"""

from __future__ import annotations

import http.client
import json


class SqlError(Exception):
    """The server answered with an error envelope."""

    def __init__(self, status: int, error: dict):
        self.status = status
        self.code = error.get("code")
        super().__init__(f"HTTP {status} code {self.code}: {error.get('message', '')}")


def request_body(stmt: str, args: list | None = None) -> bytes:
    payload: dict = {"stmt": stmt}
    if args:
        payload["args"] = args
    return json.dumps(payload).encode()


def decode_response(status: int, raw: bytes) -> dict:
    """Body of a ``/_sql`` response, or SqlError for an error envelope."""
    try:
        body = json.loads(raw)
    except json.JSONDecodeError as e:
        raise SqlError(status, {"message": f"not JSON: {raw[:200]!r}", "code": None}) from e
    if "error" in body:
        raise SqlError(status, body["error"])
    if status != 200:
        raise SqlError(status, {"message": "non-200 status without an error body"})
    return body


class HttpSqlClient:
    """One keep-alive connection to ``/_sql``. Not thread-safe."""

    def __init__(self, host: str, port: int, timeout: float = 120.0):
        self.conn = http.client.HTTPConnection(host, port, timeout=timeout)
        #: response body bytes received
        self.bytes_in = 0

    def sql(self, stmt: str, args: list | None = None) -> dict:
        self.conn.request(
            "POST", "/_sql", body=request_body(stmt, args),
            headers={"Content-Type": "application/json"},
        )
        resp = self.conn.getresponse()
        raw = resp.read()
        self.bytes_in += len(raw)
        return decode_response(resp.status, raw)

    def close(self) -> None:
        self.conn.close()
