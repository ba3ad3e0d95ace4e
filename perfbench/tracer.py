"""Per-layer tracing for the benchmark's traced runs.

The tracer wraps the engine's layer entry points from outside (no
file of the engine changes) and records one span per call: name,
start, end, parent span and operation id. An operation starts at the
first traced call on a thread with no open span; its Spark jobs carry
``setJobGroup("pb-<op>")``. Spans stay in memory; :meth:`Tracer.stop`
removes the wrappers and turns the spans into the per-layer metrics
named in ``BENCHMARK.json``; it also writes the spans out. A layer's
self time is its span's duration minus the time its child spans cover.

Entry points (module, attribute, span name):

- ``crate_spark.http_sql.execute_request``          http_sql
- ``_PgHandler._simple_query/_bind/_execute``        pg_wire.query/bind/execute
- ``_PgHandler._exec``                               pg_wire.exec (lock wait)
- ``_PgHandler._send_rows``                          pg_wire.encode
- ``CrateSession.execute``                           engine
- ``CrateSession._ensure_system_views``              sysviews.ensure
- ``CrateSession._register_system_views``            sysviews.rebuild
- ``rewrite`` as the engine and ``sql_dml`` call it   dialect
- ``SparkSession.sql``                               spark.sql
- ``collect``/``toPandas`` of the session's DataFrame class and
  ``DataFrameWriter.save``/``parquet``              exec
- ``SqlDmlRouter._insert``                           dml.insert
- ``Catalog.refreshTable``                           dml.refresh
- py4j ``send_command`` of the session's gateway client: a counter
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict

#: Python-worker SQL metrics (PythonSQLMetrics) read from executed plans
_PY_SENT = "pythonDataSent"
_PY_ROWS = "pythonNumRowsReceived"
_FILES_READ = "numFiles"
_SCAN_ROWS = "numOutputRows"


class _Span:
    __slots__ = ("op", "name", "start", "end", "parent", "child_s", "info")

    def __init__(self, op, name, start, parent):
        self.op = op
        self.name = name
        self.start = start
        self.end = start
        self.parent = parent
        self.child_s = 0.0
        #: ("lookup", rows returned) on the exec span of a point lookup
        self.info = None

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """Install with :meth:`start`, collect with :meth:`stop`."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[_Span] = []
        self._tls = threading.local()
        self._ops = itertools.count(1)
        #: (owner, attribute, original or None when it was inherited)
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self.py4j_calls = 0
        self.py4j_s = 0.0
        #: DataFrames that executed, with the kind of statement behind them
        self._ran: dict[int, tuple[object, str]] = {}
        #: kind of each DataFrame the engine returned ("lookup" or "stmt")
        self._kinds: dict[int, tuple[object, str]] = {}
        self._groups: set[str] = set()
        self.streaming = {"batches": 0, "batch_ms": 0.0, "state_rows": 0}
        self._listener = None

    # -- wrapping ---------------------------------------------------------
    @contextlib.contextmanager
    def _internal(self):
        """py4j calls made inside this block belong to the tracer and
        are not counted."""
        self._tls.internal = getattr(self._tls, "internal", 0) + 1
        try:
            yield
        finally:
            self._tls.internal -= 1

    def call(self, name: str, fn, *args):
        """Run ``fn(*args)`` under a span of its own (the benchmark's
        in-process operator calls)."""
        return self._traced(fn, name, None)(*args)

    def _patch(self, owner, attr: str, name: str, *, on_result=None) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig if attr in vars(owner) else None))
        setattr(owner, attr, self._traced(orig, name, on_result))

    def _traced(self, orig, name: str, on_result):
        tracer = self

        def wrapper(*args, **kwargs):
            tls = tracer._tls
            stack = getattr(tls, "stack", None)
            if stack is None:
                stack = tls.stack = []
            root = not stack
            if root:
                tls.op = next(tracer._ops)
                tracer._set_group(f"pb-{tls.op}")
            parent = stack[-1] if stack else None
            span = _Span(tls.op, name, time.perf_counter(), parent)
            stack.append(span)
            try:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(span, args, kwargs, result)
                return result
            finally:
                span.end = time.perf_counter()
                stack.pop()
                if parent is not None:
                    parent.child_s += span.dur
                tracer.spans.append(span)
                if root:
                    tracer._set_group(None)

        wrapper.__wrapped__ = orig
        return wrapper

    def _set_group(self, group: str | None) -> None:
        with self._internal():
            sc = self.spark.sparkContext
            if group is None:
                sc._jsc.clearJobGroup()
            else:
                self._groups.add(group)
                sc.setJobGroup(group, "perfbench", False)

    def _patch_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        cls = type(client)
        orig = cls.send_command
        tracer = self

        def send_command(client_self, *args, **kwargs):
            if getattr(tracer._tls, "internal", 0):
                return orig(client_self, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return orig(client_self, *args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with tracer._lock:
                    tracer.py4j_calls += 1
                    tracer.py4j_s += dt

        self._patches.append((cls, "send_command", orig if "send_command" in vars(cls) else None))
        cls.send_command = send_command

    # -- result hooks -------------------------------------------------------
    def _on_engine(self, span, args, kwargs, result) -> None:
        """A statement with bound parameters is a point lookup."""
        params = args[2] if len(args) > 2 else kwargs.get("params")
        if result is not None and hasattr(result, "_jdf"):
            kind = "lookup" if params else "stmt"
            self._kinds[id(result)] = (result, kind)

    def _on_exec(self, span, args, kwargs, result) -> None:
        df = args[0]
        df = getattr(df, "_df", df)  # DataFrameWriter holds its frame
        if not hasattr(df, "_jdf"):
            return
        kind = self._kinds.get(id(df), (None, "stmt"))[1]
        if kind == "lookup" and isinstance(result, list):
            span.info = ("lookup", len(result))
        self._ran[id(df)] = (df, kind)

    def _on_sql(self, span, args, kwargs, result) -> None:
        self._ran.setdefault(id(result), (result, "stmt"))

    # -- lifecycle ----------------------------------------------------------
    def start(self) -> None:
        from pyspark.sql import DataFrameWriter, SparkSession
        from pyspark.sql.catalog import Catalog

        import crate_spark.engine as engine
        import crate_spark.http_sql as http_sql
        import crate_spark.pg_wire as pg_wire
        import crate_spark.sql_dml as sql_dml

        h = pg_wire._PgHandler
        self._patch(http_sql, "execute_request", "http_sql")
        self._patch(h, "_simple_query", "pg_wire.query")
        self._patch(h, "_bind", "pg_wire.bind")
        self._patch(h, "_execute", "pg_wire.execute")
        self._patch(h, "_exec", "pg_wire.exec")
        self._patch(h, "_send_rows", "pg_wire.encode")
        cs = engine.CrateSession
        self._patch(cs, "execute", "engine", on_result=self._on_engine)
        self._patch(cs, "_ensure_system_views", "sysviews.ensure")
        self._patch(cs, "_register_system_views", "sysviews.rebuild")
        self._patch(engine, "rewrite", "dialect")
        self._patch(sql_dml, "rewrite", "dialect")
        self._patch(SparkSession, "sql", "spark.sql", on_result=self._on_sql)
        # the session's concrete DataFrame class overrides the actions
        frame = type(self.spark.range(0))
        for attr in ("collect", "toPandas"):
            self._patch(frame, attr, "exec", on_result=self._on_exec)
        for attr in ("save", "parquet"):
            self._patch(DataFrameWriter, attr, "exec", on_result=self._on_exec)
        self._patch(sql_dml.SqlDmlRouter, "_insert", "dml.insert")
        self._patch(Catalog, "refreshTable", "dml.refresh")
        self._patch_py4j()
        self._add_streaming_listener()

    def _add_streaming_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with tracer._internal():
                    p = event.progress
                    ms = float(p.durationMs.get("triggerExecution", 0))
                    rows = sum(int(s.numRowsUpdated) for s in p.stateOperators)
                with tracer._lock:
                    tracer.streaming["batches"] += 1
                    tracer.streaming["batch_ms"] += ms
                    tracer.streaming["state_rows"] += rows

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    def stop(self, ops: int, spans_path: str) -> dict[str, float]:
        """Remove every wrapper, write the spans to ``spans_path`` (one
        JSON object per line: op, name, start/end in seconds from the
        first span, parent line number) and return the per-layer
        metrics, with times and counts divided by ``ops`` client
        operations where the name says per op (``_ms`` figures are per
        operation)."""
        for owner, attr, orig in reversed(self._patches):
            if orig is None:  # it was inherited; uncover the parent's again
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patches.clear()
        jvm_sc = self.spark.sparkContext._jsc.sc()
        jvm_sc.listenerBus().waitUntilEmpty()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None
        self._write_spans(spans_path)
        return self._metrics(max(ops, 1), jvm_sc)

    def _write_spans(self, path: str) -> None:
        spans = sorted(self.spans, key=lambda s: s.start)
        line = {id(s): i for i, s in enumerate(spans)}
        t0 = spans[0].start if spans else 0.0
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps({
                    "op": s.op, "name": s.name,
                    "start": s.start - t0, "end": s.end - t0,
                    "parent": line.get(id(s.parent)) if s.parent is not None else None,
                }) + "\n")

    # -- aggregation --------------------------------------------------------
    def _metrics(self, ops: int, jvm_sc) -> dict[str, float]:
        total = defaultdict(float)
        self_s = defaultdict(float)
        count = defaultdict(int)
        lock_wait = 0.0
        lookups = 0
        lookup_rows = 0
        for s in self.spans:
            count[s.name] += 1
            self_s[s.name] += s.self_s
            # outermost span of a name only, so nesting is not counted twice
            p = s.parent
            while p is not None and p.name != s.name:
                p = p.parent
            if p is None:
                total[s.name] += s.dur
            if s.name == "engine" and s.parent is not None and s.parent.name == "pg_wire.exec":
                lock_wait += s.start - s.parent.start
            if s.name == "exec" and isinstance(s.info, tuple) and s.info[0] == "lookup":
                lookups += 1
                lookup_rows += s.info[1]
        per_op = lambda x: x / ops  # noqa: E731
        ms = lambda x: x * 1000.0 / ops  # noqa: E731
        ensure = count["sysviews.ensure"]
        rebuilds = count["sysviews.rebuild"]
        out = {
            "http_sql.request_ms": ms(self_s["http_sql"]),
            "pg_wire.lock_wait_ms": ms(lock_wait),
            "pg_wire.encode_ms": ms(total["pg_wire.encode"]),
            "engine.execute_self_ms": ms(self_s["engine"]),
            "engine.sysviews_rebuilds": float(rebuilds),
            "engine.sysviews_ms": ms(total["sysviews.rebuild"]),
            "engine.sysviews_rebuilds_per_catalog_stmt": rebuilds / ensure if ensure else 0.0,
            "dialect.rewrite_ms": ms(total["dialect"]),
            "dialect.rewrite_calls_per_op": per_op(count["dialect"]),
            "exec.ms": ms(total["exec"]),
            "dml.insert_ms": _mean_ms(total["dml.insert"], count["dml.insert"]),
            "dml.refresh_ms": _mean_ms(total["dml.refresh"], count["dml.refresh"]),
            "driver.py4j_calls_per_op": per_op(self.py4j_calls),
            "driver.py4j_ms": ms(self.py4j_s),
            "streaming.batches": float(self.streaming["batches"]),
            "streaming.batch_ms": _mean_ms(self.streaming["batch_ms"] / 1000.0,
                                           self.streaming["batches"]),
            "streaming.state_rows": float(self.streaming["state_rows"]),
        }
        with self._internal():
            out.update(self._catalyst(ops))
            out.update(self._stages(ops, jvm_sc))
            plan = self._plan_metrics()
        out["operators.arrow_bytes_to_python"] = per_op(plan["py_sent"])
        out["operators.arrow_rows_from_python"] = per_op(plan["py_rows"])
        out["exec.files_read_per_lookup"] = plan["lookup_files"] / lookups if lookups else 0.0
        out["exec.rows_scanned_per_row_returned"] = (
            plan["lookup_scanned"] / lookup_rows if lookup_rows else 0.0
        )
        return out

    def _catalyst(self, ops: int) -> dict[str, float]:
        sums = dict.fromkeys(("parsing", "analysis", "optimization", "planning"), 0.0)
        for df, _kind in self._ran.values():
            phases = df._jdf.queryExecution().tracker().phases()
            for k in sums:
                if phases.contains(k):
                    sums[k] += phases.apply(k).durationMs()
        return {f"catalyst.{k}_ms": v / ops for k, v in sums.items()}

    def _stages(self, ops: int, jvm_sc) -> dict[str, float]:
        """Job, stage and task metrics of the traced operations' jobs,
        read from the JVM status store."""
        store = jvm_sc.statusStore()
        jobs = store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or group.get() not in self._groups:
                continue
            n_jobs += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(j) for j in range(ids.size()))
        gw = self.spark.sparkContext._gateway
        quantiles = gw.new_array(gw.jvm.double, 0)
        stages = store.stageList(None, False, False, quantiles, None)
        agg = defaultdict(float)
        n_stages = 0
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() not in stage_ids:
                continue
            n_stages += 1
            agg["tasks"] += st.numTasks()
            agg["run_ms"] += st.executorRunTime()
            agg["cpu_ms"] += st.executorCpuTime() / 1e6
            agg["shuffle_read"] += st.shuffleReadBytes()
            agg["shuffle_write"] += st.shuffleWriteBytes()
            agg["input"] += st.inputBytes()
            agg["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return {
            "exec.jobs_per_op": n_jobs / ops,
            "exec.stages_per_op": n_stages / ops,
            "exec.tasks_per_op": agg["tasks"] / ops,
            "exec.executor_run_ms": agg["run_ms"] / ops,
            "exec.executor_cpu_ms": agg["cpu_ms"] / ops,
            "exec.shuffle_read_bytes": agg["shuffle_read"] / ops,
            "exec.shuffle_write_bytes": agg["shuffle_write"] / ops,
            "exec.input_bytes": agg["input"] / ops,
            "exec.spill_bytes": agg["spill"] / ops,
        }

    def _plan_metrics(self) -> dict[str, float]:
        """Python-worker traffic and lookup scan counts, summed over the
        executed plans of the DataFrames that ran."""
        out = defaultdict(float)
        for df, kind in self._ran.values():
            for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
                names = set(node.metrics().keySet().mkString(",").split(","))
                m = node.metrics()
                if _PY_SENT in names:
                    out["py_sent"] += m.apply(_PY_SENT).value()
                if _PY_ROWS in names:
                    out["py_rows"] += m.apply(_PY_ROWS).value()
                if kind == "lookup" and _FILES_READ in names and "Scan" in node.nodeName():
                    out["lookup_files"] += m.apply(_FILES_READ).value()
                    out["lookup_scanned"] += m.apply(_SCAN_ROWS).value()
        return out


def _mean_ms(seconds: float, n: int) -> float:
    return seconds * 1000.0 / n if n else 0.0


def _plan_nodes(plan):
    """Every physical node under ``plan``, through adaptive plans and
    query stages."""
    todo = [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        yield node
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
