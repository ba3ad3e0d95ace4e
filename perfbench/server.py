"""The engine under test as a server process.

Starts a SparkSession and a ``CrateSession`` over the generated tables,
serves HTTP ``/_sql`` and the PostgreSQL wire protocol on ephemeral
ports of 127.0.0.1, and then obeys one JSON command per stdin line.
Replies are stdout lines that start with ``PB:``; anything else the
process prints is not part of the protocol.

    python3 perfbench/server.py --root . --data DIR --storage DIR

Commands: ``control`` (host control timings), ``trace_start``,
``trace_stop`` (with ``ops`` and ``spans_path``: per-layer metrics),
``quit``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def emit(obj: dict) -> None:
    sys.stdout.write("PB:" + json.dumps(obj) + "\n")
    sys.stdout.flush()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="checkout holding crate_spark/")
    ap.add_argument("--data", required=True)
    ap.add_argument("--storage", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.root))

    from crate_spark import http_sql, pg_wire
    from crate_spark.engine import CrateSession
    from crate_spark.session import get_spark

    from perfbench.host import python_control_ms, spark_control_ms
    from perfbench.tracer import Tracer

    spark = get_spark("perfbench-server")
    spark.sparkContext.setLogLevel("ERROR")
    session = CrateSession(spark, data_dir=args.data, storage_dir=args.storage)
    http = http_sql.serve(session, host="127.0.0.1", port=0)
    pg = pg_wire.serve(session, host="127.0.0.1", port=0)
    emit({"event": "ready", "http_port": http.server_address[1],
          "pg_port": pg.server_address[1]})
    tracer = None
    try:
        for line in sys.stdin:
            cmd = json.loads(line)
            name = cmd["cmd"]
            if name == "control":
                emit({"py_ms": python_control_ms(), "spark_ms": spark_control_ms(spark)})
            elif name == "trace_start":
                tracer = Tracer(spark)
                tracer.start()
                emit({"ok": True})
            elif name == "trace_stop":
                emit({"layers": tracer.stop(int(cmd["ops"]), cmd["spans_path"])})
                tracer = None
            elif name == "quit":
                break
            else:
                emit({"error": f"unknown command {name!r}"})
    finally:
        http.shutdown()
        pg.shutdown()
        spark.stop()
    emit({"event": "stopped"})
    return 0


if __name__ == "__main__":
    sys.exit(main())
