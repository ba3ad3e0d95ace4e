"""Statements the SQL workloads send, generated from the workload seed.

Each OLAP statement carries its CrateDB-dialect text and the DuckDB
SQL that computes its expected answer over the same Parquet files.
Catalog reads carry a check instead, because DuckDB has no twin of
the engine's system catalog.
"""

from __future__ import annotations

import dataclasses
import random

from perfbench import datagen


@dataclasses.dataclass(frozen=True)
class Stmt:
    kind: str
    sql: str
    #: DuckDB query giving the expected rows, in the statement's order
    duck: str | None = None
    #: catalog reads: (check name, argument) interpreted by expected.check_catalog
    check: tuple | None = None
    #: top-k by a float score: ``duck`` returns more than k rows, and
    #: rows whose scores tie within float noise may swap (expected.topk_match)
    topk: int | None = None


def _q1(rng: random.Random) -> Stmt:
    year = rng.randint(1996, 2000)
    month = rng.randint(1, 12)
    cut = f"{year}-{month:02d}-01 00:00:00"
    aggs = (
        "sum(l_quantity) AS sum_qty, sum(l_extendedprice) AS sum_base_price, "
        "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
        "avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, count(*) AS count_order"
    )
    tail = "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    return Stmt(
        "q1_pricing",
        f"SELECT l_returnflag, l_linestatus, {aggs} FROM lineitem "
        f"WHERE l_shipdate <= '{cut}'::timestamp {tail}",
        f"SELECT l_returnflag, l_linestatus, {aggs} FROM lineitem "
        f"WHERE l_shipdate <= TIMESTAMP '{cut}' {tail}",
    )


def _q5(rng: random.Random) -> Stmt:
    region = rng.choice(datagen.REGIONS)
    year = rng.randint(1995, 2000)
    body = (
        "SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
        "FROM customer, orders, lineitem, supplier, nation, region "
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
        "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
        f"AND r_name = '{region}' "
        "AND o_orderdate >= {lo} AND o_orderdate < {hi} "
        "GROUP BY n_name ORDER BY revenue DESC, n_name"
    )
    lo, hi = f"{year}-01-01 00:00:00", f"{year + 1}-01-01 00:00:00"
    return Stmt(
        "q5_region_join",
        body.format(lo=f"'{lo}'::timestamp", hi=f"'{hi}'::timestamp"),
        body.format(lo=f"TIMESTAMP '{lo}'", hi=f"TIMESTAMP '{hi}'"),
    )


def _having(rng: random.Random) -> Stmt:
    prio = rng.choice(datagen.PRIORITIES)
    k = rng.randint(3, 5)
    sql = (
        "SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS total FROM orders "
        f"WHERE o_orderpriority = '{prio}' GROUP BY o_custkey "
        f"HAVING count(*) >= {k} ORDER BY total DESC, o_custkey LIMIT 20"
    )
    return Stmt("group_having", sql, sql)


def _topk(rng: random.Random) -> Stmt:
    status = rng.choice("FOP")
    k = rng.randint(2, 4)
    lo = rng.randrange(0, datagen.N_CUSTOMER - 100)
    sql = (
        "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER ("
        "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        f"FROM orders WHERE o_orderstatus = '{status}') t "
        f"WHERE rn <= {k} AND o_custkey >= {lo} AND o_custkey < {lo + 100} "
        "ORDER BY o_custkey, rn"
    )
    return Stmt("window_topk", sql, sql)


def _date_bin(rng: random.Random) -> Stmt:
    minutes = rng.choice([15, 30, 60, 120])
    etype = rng.choice(datagen.EVENT_TYPES)
    origin = "2024-01-01 00:00:00"
    tail = f"FROM events WHERE event_type = '{etype}' GROUP BY 1 ORDER BY 1"
    return Stmt(
        "date_bin_events",
        f"SELECT date_bin('{minutes} minutes'::interval, ts, '{origin}'::timestamp) AS bucket, "
        f"count(*) AS n, sum(value) AS total {tail}",
        f"SELECT epoch_ms(time_bucket(INTERVAL '{minutes} minutes', ts, TIMESTAMP '{origin}')) "
        f"AS bucket, count(*) AS n, sum(value) AS total {tail}",
    )


def _match(rng: random.Random) -> Stmt:
    words = rng.sample([w for w in datagen.VOCAB if len(w) > 1], 3)
    in_list = ", ".join(f"'{w}'" for w in words)
    duck = f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(trim(regexp_replace(lower(text),
             '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
      FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
           WHERE tok IN ({in_list}) GROUP BY doc_id, tok),
    dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id,
             SUM(LN(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5)) *
                 (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             ) AS s
      FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id)
    SELECT doc_id, ROUND(s, 6) AS score FROM scored ORDER BY s DESC, doc_id LIMIT 20
    """
    return Stmt(
        "match_topk",
        "SELECT doc_id, round(_score, 6) AS score FROM documents "
        f"WHERE MATCH(text, '{' '.join(words)}') ORDER BY _score DESC, doc_id LIMIT 10",
        duck,
        topk=10,
    )


def _knn(rng: random.Random) -> Stmt:
    vec = [rng.gauss(0.0, 0.125) for _ in range(datagen.DIM)]
    lit = ", ".join(f"{x:.6f}" for x in vec)
    d2 = (
        "list_sum(list_transform(list_zip(embedding, "
        f"[{lit}]::DOUBLE[]), x -> (CAST(x[1] AS DOUBLE) - x[2])^2))"
    )
    return Stmt(
        "knn_topk",
        f"SELECT vec_id, round(_score, 6) AS score FROM embeddings "
        f"WHERE knn_match(embedding, [{lit}], 10) ORDER BY _score DESC, vec_id",
        f"SELECT vec_id, round(1.0 / (1.0 + {d2}), 6) AS score FROM embeddings "
        "ORDER BY score DESC, vec_id LIMIT 20",
        topk=10,
    )


#: tables whose columns a catalog read lists (events gains a derived column)
_CATALOG_TABLES = ("customer", "lineitem", "orders", "part", "supplier", "documents")


def catalog_session(seed: int, i: int) -> list[Stmt]:
    """Session ``i`` of the pg-wire catalog client: one of the catalog
    reads a PG driver or BI tool sends on connect (they rotate by
    session), then one small SELECT on the table it looked at."""
    rng = random.Random(f"catalog/{seed}/{i}")
    table = rng.choice(_CATALOG_TABLES)
    read = (
        Stmt("catalog_types", "SELECT oid, typname FROM pg_catalog.pg_type ORDER BY oid",
             check=("types", None)),
        Stmt("catalog_tables",
             "SELECT table_name FROM information_schema.tables "
             "WHERE table_schema = 'doc' ORDER BY table_name",
             check=("tables", None)),
        Stmt("catalog_columns",
             "SELECT column_name, data_type FROM information_schema.columns "
             f"WHERE table_schema = 'doc' AND table_name = '{table}' "
             "ORDER BY ordinal_position",
             check=("columns", table)),
    )[i % 3]
    count = f"SELECT count(*) FROM {table}"
    return [read, Stmt("catalog_select", count, count)]


_OLAP = (_q1, _q5, _having, _topk, _date_bin, _match, _knn)


def olap_rotation(seed: int, i: int) -> list[Stmt]:
    """Rotation ``i`` of the HTTP client: the seven OLAP statements in
    a fixed order, parameters from (seed, i)."""
    rng = random.Random(f"olap/{seed}/{i}")
    return [make(rng) for make in _OLAP]


# -- ingest over pg-wire ---------------------------------------------------------
INGEST_ROWS = 50
TAGS = ("alpha", "beta", "gamma", "delta", "epsilon")


def ingest_table(conn: int) -> str:
    return f"ingest_c{conn}"


def ingest_create(conn: int) -> str:
    return (
        f"CREATE TABLE {ingest_table(conn)} (id BIGINT PRIMARY KEY, "
        "ts TIMESTAMP WITHOUT TIME ZONE, v DOUBLE PRECISION, tag TEXT)"
    )


class IngestGen:
    """Seeded rows for one connection; keys never repeat."""

    def __init__(self, seed: int, conn: int):
        self.rng = random.Random(f"ingest/{seed}/{conn}")
        self.conn = conn
        self.used: set[int] = set()

    def batch(self) -> list[tuple[int, str, float, str]]:
        rows = []
        while len(rows) < INGEST_ROWS:
            key = self.rng.randrange(1, 2**40)
            if key in self.used:
                continue
            self.used.add(key)
            sec = self.rng.randrange(0, 30 * 86400)
            ts = f"2024-01-{1 + sec // 86400:02d}T{sec % 86400 // 3600:02d}:" \
                 f"{sec % 3600 // 60:02d}:{sec % 60:02d}"
            rows.append((key, ts, round(self.rng.uniform(0, 1000), 2), self.rng.choice(TAGS)))
        return rows


def ingest_insert(conn: int, rows: list[tuple]) -> str:
    values = ", ".join(f"({k}, '{ts}', {v!r}, '{tag}')" for k, ts, v, tag in rows)
    return f"INSERT INTO {ingest_table(conn)} (id, ts, v, tag) VALUES {values}"


def ingest_lookup(conn: int) -> str:
    return f"SELECT id, v, tag FROM {ingest_table(conn)} WHERE id = $1"


def ingest_totals(conn: int) -> str:
    return f"SELECT count(*), sum(v) FROM {ingest_table(conn)}"
