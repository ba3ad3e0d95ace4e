"""Minimal PostgreSQL wire-protocol (v3) client on the standard library.

Covers what the benchmark sends: startup with trust authentication,
the simple query flow ('Q'), the extended flow (Parse/Bind/Describe/
Execute/Sync) with text-format parameters, and ErrorResponse. Values
come back as text, as the server sends them; NULL is ``None``.
"""

from __future__ import annotations

import socket
import struct


class PgError(Exception):
    """An ErrorResponse from the server."""

    def __init__(self, fields: dict[str, str]):
        self.fields = fields
        self.sqlstate = fields.get("C", "")
        super().__init__(f"{self.sqlstate}: {fields.get('M', '')}")


class ProtocolError(Exception):
    """The server sent something the client cannot parse."""


def message(tag: bytes, payload: bytes) -> bytes:
    """One frontend message: tag byte, int32 length (itself included), body."""
    return tag + struct.pack("!I", len(payload) + 4) + payload


def cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def startup_message(user: str, database: str = "doc") -> bytes:
    body = struct.pack("!I", 196608) + cstr("user") + cstr(user)
    body += cstr("database") + cstr(database) + b"\x00"
    return struct.pack("!I", len(body) + 4) + body


def parse_message(sql: str, name: str = "") -> bytes:
    return message(b"P", cstr(name) + cstr(sql) + struct.pack("!H", 0))


def bind_message(params: list, stmt: str = "", portal: str = "") -> bytes:
    body = cstr(portal) + cstr(stmt) + struct.pack("!H", 0)
    body += struct.pack("!H", len(params))
    for p in params:
        if p is None:
            body += struct.pack("!i", -1)
        else:
            raw = str(p).encode()
            body += struct.pack("!i", len(raw)) + raw
    return message(b"B", body + struct.pack("!H", 0))


def describe_portal(portal: str = "") -> bytes:
    return message(b"D", b"P" + cstr(portal))


def execute_message(portal: str = "", max_rows: int = 0) -> bytes:
    return message(b"E", cstr(portal) + struct.pack("!I", max_rows))


SYNC = message(b"S", b"")
TERMINATE = message(b"X", b"")


def parse_error_fields(payload: bytes) -> dict[str, str]:
    """ErrorResponse body: (code byte, cstring)* terminated by a NUL."""
    fields: dict[str, str] = {}
    for part in payload.split(b"\x00"):
        if part:
            fields[chr(part[0])] = part[1:].decode(errors="replace")
    return fields


def parse_row_description(payload: bytes) -> list[str]:
    (n,) = struct.unpack("!H", payload[:2])
    names, off = [], 2
    for _ in range(n):
        end = payload.index(b"\x00", off)
        names.append(payload[off:end].decode())
        off = end + 1 + 18  # table oid, attnum, type oid, typlen, typmod, format
    return names


def parse_data_row(payload: bytes) -> tuple:
    (n,) = struct.unpack("!H", payload[:2])
    vals, off = [], 2
    for _ in range(n):
        (ln,) = struct.unpack("!i", payload[off : off + 4])
        off += 4
        if ln < 0:
            vals.append(None)
        else:
            vals.append(payload[off : off + ln].decode())
            off += ln
    return tuple(vals)


class Result:
    """Rows of one statement, with its column names."""

    def __init__(self) -> None:
        self.columns: list[str] = []
        self.rows: list[tuple] = []


class PgConnection:
    """One blocking connection. Not thread-safe: use one per thread."""

    def __init__(self, host: str, port: int, user: str = "crate", timeout: float = 120.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._buf = b""
        #: bytes received from the server, all messages included
        self.bytes_in = 0
        self.params: dict[str, str] = {}
        self.sock.sendall(startup_message(user))
        while True:
            tag, payload = self._read_message()
            if tag == b"E":
                raise PgError(parse_error_fields(payload))
            if tag == b"S":
                k, v = payload.split(b"\x00")[:2]
                self.params[k.decode()] = v.decode()
            elif tag == b"Z":
                return
            elif tag not in (b"R", b"K"):
                raise ProtocolError(f"unexpected startup message {tag!r}")

    def _recv(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.sock.recv(max(65536, n - len(self._buf)))
            if not chunk:
                raise ProtocolError("server closed the connection")
            self.bytes_in += len(chunk)
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_message(self) -> tuple[bytes, bytes]:
        head = self._recv(5)
        (length,) = struct.unpack("!I", head[1:5])
        return head[0:1], self._recv(length - 4)

    def _collect(self) -> Result:
        """Read one statement's messages up to ReadyForQuery; an
        ErrorResponse is raised once ReadyForQuery has arrived."""
        result = Result()
        error = None
        while True:
            tag, payload = self._read_message()
            if tag == b"T":
                result.columns = parse_row_description(payload)
            elif tag == b"D":
                result.rows.append(parse_data_row(payload))
            elif tag == b"E":
                error = PgError(parse_error_fields(payload))
            elif tag not in (b"1", b"2", b"3", b"C", b"n", b"N", b"I", b"s", b"Z"):
                raise ProtocolError(f"unexpected message {tag!r}")
            if tag == b"Z":
                break
        if error is not None:
            raise error
        return result

    def query(self, sql: str) -> Result:
        """Simple query flow: one statement, rows as text."""
        self.sock.sendall(message(b"Q", cstr(sql)))
        return self._collect()

    def execute(self, sql: str, params: list) -> Result:
        """Extended flow: Parse, Bind ``$n`` parameters, Describe,
        Execute, Sync; one round trip."""
        self.sock.sendall(
            parse_message(sql) + bind_message(params) + describe_portal()
            + execute_message() + SYNC
        )
        return self._collect()

    def close(self) -> None:
        try:
            self.sock.sendall(TERMINATE)
        except OSError:
            pass
        self.sock.close()

    def __enter__(self) -> "PgConnection":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
