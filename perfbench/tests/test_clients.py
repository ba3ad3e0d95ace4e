"""Tests of the benchmark's own code: wire clients, statement
generation, answer checks, percentile selection and unit counts. No
Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import http.server
import json
import socket
import struct
import threading

import pytest

from perfbench import pgclient, statements, stats
from perfbench.httpclient import HttpSqlClient, SqlError, decode_response


# -- pg-wire framing ----------------------------------------------------------
def test_message_framing_counts_its_own_length():
    msg = pgclient.message(b"Q", b"SELECT 1\x00")
    assert msg[:1] == b"Q"
    assert struct.unpack("!I", msg[1:5])[0] == len(msg) - 1


def test_startup_message_is_protocol_3_with_user():
    msg = pgclient.startup_message("crate")
    length, version = struct.unpack("!II", msg[:8])
    assert length == len(msg)
    assert version == 196608
    assert b"user\x00crate\x00" in msg and msg.endswith(b"\x00\x00")


def test_bind_message_frames_text_params_and_null():
    msg = pgclient.bind_message(["42", None])
    body = msg[5:]
    assert body.startswith(b"\x00\x00")  # unnamed portal, unnamed statement
    off = 2 + 2  # portal/statement names, then the parameter-format count (0)
    (nparams,) = struct.unpack("!H", body[off : off + 2])
    assert nparams == 2
    (ln,) = struct.unpack("!i", body[off + 2 : off + 6])
    assert ln == 2 and body[off + 6 : off + 8] == b"42"
    (null,) = struct.unpack("!i", body[off + 8 : off + 12])
    assert null == -1


def test_row_description_and_data_row_roundtrip():
    desc = struct.pack("!H", 2)
    for name in ("id", "tag"):
        desc += pgclient.cstr(name) + struct.pack("!IHIhih", 0, 0, 25, -1, -1, 0)
    assert pgclient.parse_row_description(desc) == ["id", "tag"]
    row = struct.pack("!H", 2) + struct.pack("!i", 1) + b"7" + struct.pack("!i", -1)
    assert pgclient.parse_data_row(row) == ("7", None)


def test_error_fields_parse():
    payload = b"SERROR\x00C42601\x00Mboom\x00\x00"
    assert pgclient.parse_error_fields(payload) == {"S": "ERROR", "C": "42601", "M": "boom"}


class _ScriptedPg:
    """A one-connection server that answers startup, then replies to
    each frontend message batch with the next scripted bytes."""

    def __init__(self, replies: list[bytes]):
        self.sock = socket.socket()
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(1)
        self.port = self.sock.getsockname()[1]
        self.replies = replies
        self.thread = threading.Thread(target=self._serve, daemon=True)
        self.thread.start()

    def _serve(self):
        conn, _ = self.sock.accept()
        with conn:
            conn.recv(65536)  # startup
            conn.sendall(pgclient.message(b"R", struct.pack("!I", 0))
                         + pgclient.message(b"S", b"server_version\x0014.0\x00")
                         + pgclient.message(b"Z", b"I"))
            for reply in self.replies:
                conn.recv(65536)
                conn.sendall(reply)
            conn.recv(65536)  # terminate

    def close(self):
        self.thread.join(timeout=5)
        self.sock.close()


def _rows_reply(rows):
    desc = struct.pack("!H", 1) + pgclient.cstr("n") + struct.pack("!IHIhih", 0, 0, 25, -1, -1, 0)
    out = pgclient.message(b"T", desc)
    for (v,) in rows:
        out += pgclient.message(b"D", struct.pack("!H", 1) + struct.pack("!i", len(v)) + v.encode())
    return out + pgclient.message(b"C", b"SELECT 1\x00") + pgclient.message(b"Z", b"I")


def test_simple_query_and_error_envelope_over_a_socket():
    error = pgclient.message(b"E", b"SERROR\x00C42P01\x00Mno such table\x00\x00")
    srv = _ScriptedPg([_rows_reply([("1",), ("2",)]), error + pgclient.message(b"Z", b"I")])
    try:
        with pgclient.PgConnection("127.0.0.1", srv.port) as pg:
            assert pg.params["server_version"] == "14.0"
            res = pg.query("SELECT n FROM t")
            assert res.columns == ["n"] and res.rows == [("1",), ("2",)]
            with pytest.raises(pgclient.PgError) as err:
                pg.query("SELECT * FROM missing")
            assert err.value.sqlstate == "42P01"
    finally:
        srv.close()


def test_extended_query_reads_through_sync():
    reply = (pgclient.message(b"1", b"") + pgclient.message(b"2", b"")
             + _rows_reply([("9",)]))
    srv = _ScriptedPg([reply])
    try:
        with pgclient.PgConnection("127.0.0.1", srv.port) as pg:
            assert pg.execute("SELECT n FROM t WHERE id = $1", [9]).rows == [("9",)]
    finally:
        srv.close()


# -- HTTP /_sql ---------------------------------------------------------------
def test_decode_response_raises_error_envelopes():
    assert decode_response(200, b'{"cols": ["a"], "rows": [[1]]}')["rows"] == [[1]]
    with pytest.raises(SqlError) as err:
        decode_response(404, b'{"error": {"message": "unknown", "code": 4041}}')
    assert err.value.code == 4041 and err.value.status == 404
    with pytest.raises(SqlError):
        decode_response(500, b"<html>")


def test_http_client_posts_stmt_and_args():
    seen = []

    class Handler(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_POST(self):  # noqa: N802
            seen.append(json.loads(self.rfile.read(int(self.headers["Content-Length"]))))
            body = b'{"cols": ["x"], "rows": [[1]], "rowcount": 1}'
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    try:
        client = HttpSqlClient("127.0.0.1", srv.server_address[1])
        assert client.sql("SELECT ?", [1])["rows"] == [[1]]
        assert client.sql("SELECT 2")["rows"] == [[1]]  # same keep-alive connection
        client.close()
    finally:
        srv.shutdown()
        thread.join(timeout=5)
    assert seen == [{"stmt": "SELECT ?", "args": [1]}, {"stmt": "SELECT 2"}]


# -- generated statements -----------------------------------------------------
def _all_statements(seed: int) -> bytes:
    text = []
    for i in range(4):
        text += [s.sql for s in statements.olap_rotation(seed, i)]
        text += [s.sql for s in statements.catalog_session(seed, i)]
    for conn in range(2):
        gen = statements.IngestGen(seed, conn)
        text += [statements.ingest_insert(conn, gen.batch()) for _ in range(3)]
    return "\n".join(text).encode()


def test_same_seed_gives_byte_identical_statements():
    assert _all_statements(7) == _all_statements(7)
    assert _all_statements(7) != _all_statements(8)


def test_ingest_keys_never_repeat():
    gen = statements.IngestGen(3, 0)
    keys = [row[0] for _ in range(20) for row in gen.batch()]
    assert len(keys) == len(set(keys)) == 20 * statements.INGEST_ROWS


# -- percentiles --------------------------------------------------------------
def test_nearest_rank_percentile():
    samples = list(range(1, 101))
    assert stats.percentile(samples, 50) == 50
    assert stats.percentile(samples, 90) == 90
    assert stats.percentile([5.0], 90) == 5.0


@pytest.mark.parametrize(
    "n, want",
    [(5, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert stats.beyond(n, want) >= 10


# -- answer checks ------------------------------------------------------------
def test_topk_match_accepts_swapped_float_ties_only():
    from perfbench.expected import topk_match

    want = [(1, 0.9), (2, 0.8), (3, 0.8), (4, 0.7), (5, 0.7), (6, 0.6)]
    assert topk_match([(1, 0.9), (3, 0.8), (2, 0.8), (4, 0.7)], want, 4)
    assert topk_match([(1, 0.9), (2, 0.8), (3, 0.8), (5, 0.7)], want, 4)  # tie at the k-th
    assert not topk_match([(1, 0.9), (2, 0.8), (3, 0.8), (6, 0.6)], want, 4)  # below the k-th
    assert not topk_match([(1, 0.9), (2, 0.8), (4, 0.7), (5, 0.7)], want, 4)  # 3 scores above
    assert not topk_match([(1, 0.9), (2, 0.8), (3, 0.5), (4, 0.7)], want, 4)  # wrong score


@pytest.mark.parametrize("seconds, unit, want", [(16, 8, 2), (16, 4, 4), (8, 8, 1), (1, 8, 1), (12, 8, 2)])
def test_seconds_pick_a_fixed_unit_count(seconds, unit, want):
    from perfbench.workloads import units

    assert units(seconds, unit) == want
