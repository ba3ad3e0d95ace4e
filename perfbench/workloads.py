"""The benchmark's workloads.

Every workload is a closed loop: each caller sends its next request
only after the previous reply. A workload object is driven by
``run.py`` in this order: ``prepare`` (expected answers, untimed),
``setup`` (server or in-process session start and warm-up, timed as
``setup_s``), then one or two timed ``phase`` calls, then ``close``.

- ``sql_frontdoors``: the engine as a server, with four connections
  working in rounds: an HTTP ``/_sql`` client sending the OLAP
  rotation, a pg-wire catalog client, and two pg-wire writers, each
  owning a SQL-created PRIMARY KEY table (INSERT, REFRESH, a
  Parse/Bind/Execute point lookup, and a count/sum check).
- ``pipeline_ops``: one in-process caller of operator rows that SQL
  cannot reach, in a seeded order per rotation.
"""

from __future__ import annotations

import dataclasses
import json
import os
import queue
import random
import shlex
import signal
import subprocess
import sys
import threading
import time

from perfbench import expected, statements
from perfbench.host import tree_pids
from perfbench.httpclient import HttpSqlClient
from perfbench.pgclient import PgConnection

#: operator rows of pipeline_ops (registry names)
PIPELINE_OPS = (
    "streaming_rollup_events",
    "ts_lttb_downsample",
    "pipeline_pack_sequences",
)
#: pg-wire writers; with the HTTP and catalog clients, nproc (4) connections
INGEST_CONNECTIONS = 2
HOST = "127.0.0.1"
#: A timed phase runs a fixed number of whole units of work, not as many
#: as fit in the time: a round or a rotation that finishes early would
#: otherwise pull in one more unit, whose mix differs (later rounds read
#: another catalog view, over more ingest files), and the figures would
#: jump with the unit count. ``--seconds`` picks the count, at about
#: these lengths per unit on a 4-vCPU host (Xeon, 2.0 GHz).
ROUND_SECONDS = 8.0
ROTATION_SECONDS = 4.0


def units(seconds: float, unit_seconds: float) -> int:
    """How many whole units of about ``unit_seconds`` make ``seconds``."""
    return max(1, round(seconds / unit_seconds))


@dataclasses.dataclass
class Ctx:
    root: str
    work: str
    data: str
    seed: int
    cpus: int


@dataclasses.dataclass
class Tally:
    """Outcome of one timed phase."""

    latencies: list = dataclasses.field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    wall_s: float = 0.0
    bytes_in: int = 0
    rows_acked: int = 0
    visible: list = dataclasses.field(default_factory=list)
    errors: list = dataclasses.field(default_factory=list)
    #: latencies by operation kind (statement kind or operator name)
    by_kind: dict = dataclasses.field(default_factory=dict)

    def record(self, kind: str, seconds: float, ok: bool, error: str = "wrong answer") -> None:
        self.attempted += 1
        if ok:
            self.latencies.append(seconds)
            self.by_kind.setdefault(kind, []).append(seconds)
        else:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(f"{kind}: {error}"[:300])

    def merge(self, other: "Tally") -> None:
        self.latencies += other.latencies
        self.attempted += other.attempted
        self.failed += other.failed
        self.bytes_in += other.bytes_in
        self.rows_acked += other.rows_acked
        self.visible += other.visible
        self.errors += other.errors[: max(0, 5 - len(self.errors))]
        for kind, lat in other.by_kind.items():
            self.by_kind.setdefault(kind, []).extend(lat)


def spark_env(ctx: Ctx) -> dict[str, str]:
    """Environment for a process that starts Spark: every scratch file
    under the run's work directory, ``cpus`` local cores, 1 GiB driver."""
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -Xms as large as the heap cap: the heap does not grow mid-run, so
    # peak RSS does not depend on when a resize happened
    java_opts = f"-Xms1g -Djava.io.tmpdir={tmp} -Dderby.system.home={ctx.work}"
    path = os.environ.get("PYTHONPATH", "")
    return {
        # every JVM, the spark-submit launcher too: no hsperfdata files in /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(ctx.cpus),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "TZ": "UTC",
        "PYTHONPATH": ctx.root + (os.pathsep + path if path else ""),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options {shlex.quote(java_opts)} "
            f"--conf spark.sql.warehouse.dir={shlex.quote(os.path.join(ctx.work, 'warehouse'))} "
            "pyspark-shell"
        ),
    }


# -- server process -----------------------------------------------------------
class Server:
    """``perfbench/server.py`` as a child process."""

    def __init__(self, ctx: Ctx):
        self.storage = os.path.join(ctx.work, "storage")
        self.log_path = os.path.join(ctx.work, "server.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ctx.root, "perfbench", "server.py"),
             "--root", ctx.root, "--data", ctx.data, "--storage", self.storage],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True, cwd=ctx.work, env={**os.environ, **spark_env(ctx)},
        )
        self._lines: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()
        self.ports = self._reply(timeout=170)

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("PB:"):
                self._lines.put(json.loads(line[3:]))
        self._lines.put(None)

    def _reply(self, timeout: float) -> dict:
        try:
            msg = self._lines.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"server silent for {timeout:.0f} s; see {self.log_path}") from None
        if msg is None:
            raise RuntimeError(f"server exited; see {self.log_path}")
        if "error" in msg:
            raise RuntimeError(msg["error"])
        return msg

    def command(self, cmd: str, timeout: float = 120, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        return self._reply(timeout)

    def close(self) -> None:
        pids = tree_pids(self.proc.pid)
        if self.proc.poll() is None:
            try:
                self.command("quit", timeout=60)
            except (RuntimeError, OSError):
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass
        for pid in reversed(pids):  # the JVM and its Python workers too
            try:
                os.kill(pid, signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                pass
        self.proc.wait(timeout=30)
        self._reader.join(timeout=10)
        self._log.close()


# -- sql_frontdoors -----------------------------------------------------------
#: ingest cycles each pg-wire writer runs per round
ROUND_CYCLES = 1
#: rounds with prepared answers; later rounds reuse them (the tables never change)
PREPARED_ROUNDS = 4


def _timed(tally: Tally, kind: str, send, ok) -> bool:
    """Send one statement, record its latency and whether its answer
    was right; a failed statement counts and the caller goes on."""
    t0 = time.perf_counter()
    try:
        res = send()
        good = bool(ok(res))
        tally.record(kind, time.perf_counter() - t0, good)
        return good
    except Exception as e:
        tally.record(kind, time.perf_counter() - t0, False, str(e))
        return False


class _OlapClient:
    """The HTTP ``/_sql`` client: one statements.olap_rotation per round,
    checked against DuckDB. Round 0 is the warm-up."""

    def __init__(self, ctx: Ctx, con):
        self.rounds = [
            [(st, [tuple(r) for r in con.execute(st.duck).fetchall()])
             for st in statements.olap_rotation(ctx.seed, i)]
            for i in range(PREPARED_ROUNDS)
        ]

    def round(self, port: int, i: int, tally: Tally) -> None:
        client = HttpSqlClient(HOST, port)
        try:
            for st, want in self.rounds[i % PREPARED_ROUNDS]:
                if st.topk:
                    ok = lambda rows: expected.topk_match(rows, want, st.topk)  # noqa: E731
                else:
                    ok = lambda rows: expected.rows_match(rows, want)  # noqa: E731
                _timed(tally, st.kind, lambda: client.sql(st.sql)["rows"], ok)
        finally:
            tally.bytes_in += client.bytes_in
            client.close()


class _CatalogClient:
    """The pg-wire catalog client: each round is one client session
    (connect, a catalog read, a small SELECT, close)."""

    def __init__(self, ctx: Ctx, con, ingest_tables: list[str]):
        self.rounds = []
        for i in range(PREPARED_ROUNDS):
            read, count = statements.catalog_session(ctx.seed, i)
            what, arg = read.check
            if what == "columns":
                arg = expected.table_columns(ctx.data, arg)
            elif what == "tables":
                arg = ingest_tables
            n = con.execute(count.duck).fetchall()[0][0]
            self.rounds.append([
                (read, lambda rows, c=(what, arg): expected.check_catalog(c, rows)),
                (count, lambda rows, n=n: rows == [(str(n),)]),
            ])

    def round(self, port: int, i: int, tally: Tally) -> None:
        with PgConnection(HOST, port) as pg:
            for st, ok in self.rounds[i % PREPARED_ROUNDS]:
                _timed(tally, st.kind, lambda: pg.query(st.sql).rows, ok)
            tally.bytes_in += pg.bytes_in


class _IngestConn:
    """One pg-wire writer, its table, generator and running totals."""

    def __init__(self, ctx: Ctx, port: int, conn: int):
        self.conn = conn
        self.pg = PgConnection(HOST, port)
        self.gen = statements.IngestGen(ctx.seed, conn)
        self.count = 0
        self.total = 0.0
        #: every acknowledged row by key: (v, tag)
        self.rows: dict[int, tuple] = {}
        #: bytes of the acknowledged values as text (ts as "YYYY-MM-DD HH:MM:SS")
        self.user_bytes = 0

    def _lookup(self, tally: Tally, kind: str, key: int) -> bool:
        v, tag = self.rows[key]
        return _timed(tally, kind,
                      lambda: self.pg.execute(statements.ingest_lookup(self.conn), [key]),
                      lambda r: r.rows == [(str(key), repr(v), tag)])

    def round(self, cycles: int, tally: Tally) -> None:
        """``cycles`` ingest cycles, then the totals check. A cycle is an
        INSERT, a REFRESH, and two Parse/Bind/Execute point lookups: of a
        key from the batch just acknowledged (its visibility) and of a
        key from an earlier batch. Each statement is one op."""
        t = self.conn
        bytes0 = self.pg.bytes_in
        for _ in range(cycles):
            batch = self.gen.batch()
            earlier = list(self.rows)
            if not _timed(tally, "insert", lambda: self.pg.query(statements.ingest_insert(t, batch)),
                          lambda r: r.rows == [(str(len(batch)),)]):
                continue
            acked = time.perf_counter()
            tally.rows_acked += len(batch)
            for k, _ts, v, tag in batch:
                self.rows[k] = (v, tag)
                self.user_bytes += len(f"{k}{v!r}{tag}") + 19
            self.count += len(batch)
            self.total += sum(r[2] for r in batch)
            _timed(tally, "refresh",
                   lambda: self.pg.query(f"REFRESH TABLE {statements.ingest_table(t)}"),
                   lambda r: True)
            if self._lookup(tally, "lookup_new", batch[self.gen.rng.randrange(len(batch))][0]):
                tally.visible.append(time.perf_counter() - acked)
            old = earlier or [k for k, *_ in batch]
            self._lookup(tally, "lookup_old", old[self.gen.rng.randrange(len(old))])
        _timed(tally, "totals", lambda: self.pg.query(statements.ingest_totals(t)),
               lambda r: int(r.rows[0][0]) == self.count
               and expected.values_match(float(r.rows[0][1]), self.total))
        tally.bytes_in += self.pg.bytes_in - bytes0


def _concurrently(calls: list[tuple]) -> None:
    """Run each (fn, *args) on its own thread, wait for all, and raise
    the first exception a thread ended with."""
    errors: list[BaseException] = []

    def run(fn, *args):
        try:
            fn(*args)
        except BaseException as e:  # handed to the caller below
            errors.append(e)

    threads = [threading.Thread(target=run, args=call) for call in calls]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]


class SqlFrontdoors:
    """The server with both front doors loaded at once, over nproc (4)
    connections: the HTTP OLAP client, the pg-wire catalog client and
    INGEST_CONNECTIONS pg-wire writers. Work comes in rounds: in each,
    the HTTP client sends one OLAP rotation, the catalog client runs
    one session and each writer runs ROUND_CYCLES ingest cycles and a
    totals check; a round ends when all are done."""

    name = "sql_frontdoors"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.server: Server | None = None
        self.conns: list[_IngestConn] = []
        self.next_round = 0

    @property
    def pid(self) -> int:
        return self.server.proc.pid

    def prepare(self) -> None:
        tables = [statements.ingest_table(i) for i in range(INGEST_CONNECTIONS)]
        con = expected.duck_connect(self.ctx.data)
        try:
            self.olap = _OlapClient(self.ctx, con)
            self.catalog = _CatalogClient(self.ctx, con, tables)
        finally:
            con.close()

    def setup(self) -> None:
        """Start the server, create the ingest tables, then warm up with
        round 0 (one ingest cycle per writer)."""
        self.server = Server(self.ctx)
        for i in range(INGEST_CONNECTIONS):
            c = _IngestConn(self.ctx, self.server.ports["pg_port"], i)
            self.conns.append(c)
            c.pg.query(statements.ingest_create(i))
        tally = self._round()
        if tally.failed:
            raise RuntimeError(f"warm-up failed: {tally.errors}")

    def _round(self) -> Tally:
        i = self.next_round
        self.next_round += 1
        tallies = [Tally() for _ in range(len(self.conns) + 2)]
        _concurrently(
            [(c.round, ROUND_CYCLES, t) for c, t in zip(self.conns, tallies)]
            + [(self.olap.round, self.server.ports["http_port"], i, tallies[-2]),
               (self.catalog.round, self.server.ports["pg_port"], i, tallies[-1])]
        )
        out = Tally()
        for t in tallies:
            out.merge(t)
        return out

    def phase(self, seconds: float) -> Tally:
        """Whole rounds, one per ROUND_SECONDS of ``seconds``."""
        out = Tally()
        t0 = time.perf_counter()
        for _ in range(units(seconds, ROUND_SECONDS)):
            out.merge(self._round())
        out.wall_s = time.perf_counter() - t0
        return out

    def control(self) -> dict:
        return self.server.command("control")

    def trace_start(self) -> None:
        self.server.command("trace_start")

    def trace_stop(self, ops: int, spans_path: str) -> dict:
        return self.server.command("trace_stop", timeout=170, ops=ops,
                                   spans_path=spans_path)["layers"]

    def outside_layers(self) -> dict:
        """Storage accounting from outside: Parquet files and bytes per
        ingest table under the server's storage directory, against the
        bytes of the values the clients inserted."""
        files = 0
        disk = 0
        for i in range(INGEST_CONNECTIONS):
            top = os.path.join(self.server.storage, statements.ingest_table(i))
            for dirpath, _dirs, names in os.walk(top):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        disk += os.path.getsize(os.path.join(dirpath, n))
        user = sum(c.user_bytes for c in self.conns)
        return {
            "storage.files_per_table": files / INGEST_CONNECTIONS,
            "storage.bytes_per_user_byte": disk / user if user else 0.0,
        }

    def close(self) -> None:
        for c in self.conns:
            c.pg.close()
        if self.server is not None:
            self.server.close()


# -- pipeline_ops -------------------------------------------------------------
class PipelineOps:
    """Operator calls in this process; Spark starts here too."""

    name = "pipeline_ops"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = None
        self.tracer = None
        self.rotation = 0

    @property
    def pid(self) -> int:
        return os.getpid()

    def prepare(self) -> None:
        for k, v in spark_env(self.ctx).items():
            os.environ[k] = v
        import tempfile

        tempfile.tempdir = os.environ["TMPDIR"]
        sys.path.insert(0, self.ctx.root)
        os.chdir(self.ctx.work)
        from crate_spark.queries import load_all

        registry = load_all()
        self.fns = {name: registry[name].fn for name in PIPELINE_OPS}
        con = expected.duck_connect(self.ctx.data)
        try:
            self.expect = {
                name: expected.operator_expectation(name, registry[name].oracle, con)
                for name in PIPELINE_OPS
            }
        finally:
            con.close()

    def setup(self) -> None:
        from crate_spark.session import get_spark, load_tables

        self.spark = get_spark("perfbench-pipeline")
        self.spark.sparkContext.setLogLevel("ERROR")
        load_tables(self.spark, self.ctx.data)
        tally = Tally()
        for name in PIPELINE_OPS:
            self._call(name, tally)
        if tally.failed:
            raise RuntimeError(f"warm-up failed: {tally.errors}")

    def _call(self, name: str, tally: Tally) -> None:
        fn = self.fns[name]
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                df, rows = self.tracer.call("operators", _run_op, fn, self.spark, self.ctx.data)
            else:
                df, rows = _run_op(fn, self.spark, self.ctx.data)
            dt = time.perf_counter() - t0
            ok = expected.operator_matches(self.expect[name], df.columns, rows)
            tally.record(name, dt, ok)
        except Exception as e:  # a failed call counts, the loop goes on
            tally.record(name, time.perf_counter() - t0, False, str(e))

    def phase(self, seconds: float) -> Tally:
        """Whole rotations, one per ROTATION_SECONDS of ``seconds``; each
        rotation's order comes from the seed."""
        tally = Tally()
        t0 = time.perf_counter()
        for _ in range(units(seconds, ROTATION_SECONDS)):
            order = list(PIPELINE_OPS)
            random.Random(f"pipeline/{self.ctx.seed}/{self.rotation}").shuffle(order)
            self.rotation += 1
            for name in order:
                self._call(name, tally)
        tally.wall_s = time.perf_counter() - t0
        return tally

    def control(self) -> dict:
        from perfbench.host import python_control_ms, spark_control_ms

        return {"py_ms": python_control_ms(), "spark_ms": spark_control_ms(self.spark)}

    def trace_start(self) -> None:
        from perfbench.tracer import Tracer

        self.tracer = Tracer(self.spark)
        self.tracer.start()

    def trace_stop(self, ops: int, spans_path: str) -> dict:
        tracer, self.tracer = self.tracer, None
        return tracer.stop(ops, spans_path)

    def outside_layers(self) -> dict:
        return {}

    def close(self) -> None:
        """Stop Spark, then the JVM this process launched (it exits when
        its stdin closes) and anything still running under it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if proc is None:
            return
        pids = tree_pids(proc.pid)
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass
        for pid in reversed(pids):
            try:
                os.kill(pid, signal.SIGKILL)
            except (ProcessLookupError, PermissionError):
                pass
        proc.wait(timeout=30)


def _run_op(fn, spark, data: str):
    df = fn(spark, data)
    return df, [tuple(r) for r in df.collect()]


WORKLOADS = {w.name: w for w in (SqlFrontdoors, PipelineOps)}
