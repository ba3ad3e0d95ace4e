"""Driver-checkable DML/DDL lifecycle queries.

The CrateTable/CrateSession mutation surface (INSERT, ON CONFLICT
upsert, UPDATE, DELETE, ALTER) is deterministic, so a full lifecycle
over literal rows has a statically-known final state — the DuckDB
oracle is that state as a VALUES relation. A hash match is an
end-to-end check of the whole write path (staging + atomic swap,
generated columns, constraint evaluation, read-merge-write).

Each run uses a fresh temp directory, so the queries stay
side-effect-free and idempotent from the driver's perspective.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import functions as F

from crate_spark.queries import query
from crate_spark.session import local_frame


@query(
    "dml_lifecycle",
    oracle="""
    SELECT * FROM (VALUES
        (1, 'a',  15, '2024-01-01'),
        (2, 'b',  20, '2024-01-02'),
        (4, 'd',  4,  '2024-01-04')
    ) AS t(id, val, cnt, day)
    """,
)
def dml_lifecycle(spark, sf_dir):
    """INSERT -> ON CONFLICT DO UPDATE -> UPDATE -> DELETE against a
    Parquet-backed CrateTable with a generated column; the oracle is
    the statically-known final state (reference write-path semantics:
    ``planner/operators/Insert.java:51``, ``UpdateProjection.java``,
    ``insert.rst`` ON CONFLICT)."""
    from crate_spark.dml import CrateTable

    path = os.path.join(tempfile.gettempdir(), f"crate_dmlq_{uuid.uuid4().hex}")
    t = CrateTable.create(
        spark,
        path,
        "id int, val string, cnt int, ts timestamp_ntz, day string",
        primary_key=["id"],
        generated={"day": "date_format(ts, 'yyyy-MM-dd')"},
        checks=["cnt >= 0"],
    )

    def rows(data):
        return local_frame(
            spark, data, "id int, val string, cnt int, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    t.insert(rows([(1, "a", 10, "2024-01-01 08:00:00"),
                   (2, "b", 20, "2024-01-02 08:00:00"),
                   (3, "c", 30, "2024-01-03 08:00:00")]))
    # upsert: id=1 accumulates cnt (target+excluded) — columns NOT in
    # SET keep the existing row's values (insert.rst ON CONFLICT, so
    # val stays 'a'); id=4 inserts fresh
    t.upsert(
        rows([(1, "a2", 5, "2024-01-01 09:00:00"),
              (4, "d", 4, "2024-01-04 08:00:00")]),
        set_exprs={"cnt": "target.cnt + excluded.cnt",
                   "ts": "target.ts", "day": "target.day"},
    )
    t.update({"cnt": "cnt * 1"}, where="id = 2")  # no-op rewrite path
    t.delete("id = 3")
    return t.read().select("id", "val", "cnt", "day").orderBy("id")


@query(
    "ddl_sql_lifecycle",
    oracle="""
    SELECT * FROM (VALUES
        (10, 'X', 100),
        (20, 'Y', 200)
    ) AS t(k, tag, amount)
    """,
)
def ddl_sql_lifecycle(spark, sf_dir):
    """The same lifecycle through the SQL front door: CREATE TABLE,
    INSERT VALUES, INSERT..SELECT, ALTER TABLE ADD/RENAME COLUMN,
    UPDATE, DELETE — dispatched by CrateSession.execute exactly as the
    reference planner dispatches statements (``Planner.java:273-500``)."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark)
    s.execute("CREATE TABLE lc (k int PRIMARY KEY, tag text)")
    s.execute("INSERT INTO lc (k, tag) VALUES (10, 'x'), (20, 'y'), (30, 'z')")
    s.execute("ALTER TABLE lc ADD COLUMN amt int")
    s.execute("UPDATE lc SET amt = k * 10, tag = upper(tag)")
    s.execute("DELETE FROM lc WHERE k = 30")
    s.execute("ALTER TABLE lc RENAME COLUMN amt TO amount")
    return s.execute("SELECT k, tag, amount FROM lc ORDER BY k")


@query(
    "dml_copy_roundtrip",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           COUNT(DISTINCT o_custkey) AS n_custs
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def dml_copy_roundtrip(spark, sf_dir):
    """sf-scaled COPY TO -> COPY FROM roundtrip (VERDICT r7 #7: the
    write path's throughput benchmark): bulk INSERT the orders table
    into a CrateTable, COPY TO parquet with a WHERE (filtered parallel
    export, ``CopyToPlan.java``), COPY FROM into a fresh table
    (``CopyFromPlan.java``), and aggregate the reloaded rows. The
    oracle is the same aggregate over the source table, so a hash
    match proves the roundtrip byte-preserved every surviving row.
    Decimal sum keeps the total order-independent."""
    from crate_spark.dml import CrateTable

    src = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
    )
    base = os.path.join(tempfile.gettempdir(), f"crate_copyrt_{uuid.uuid4().hex}")
    t1 = CrateTable.create(spark, os.path.join(base, "t1"), ddl)
    t1.insert(src)
    export = os.path.join(base, "export")
    t1.copy_to(export, format="parquet", where="o_orderstatus = 'O'")
    t2 = CrateTable.create(spark, os.path.join(base, "t2"), ddl)
    t2.copy_from(export, format="parquet")
    return t2.read().agg(
        F.count("*").alias("n_rows"),
        # decimal accumulation (order-independent), double at the
        # boundary (registry outputs are decimal-free; the exact
        # decimal->double cast is identical in both engines)
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )
