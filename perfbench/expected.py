"""Expected answers, computed before the timed phase, and the checks
that compare the engine's answers with them.

- OLAP statements: DuckDB over the same Parquet files.
- Catalog reads: the generated tables' own schemas and the PG type
  OIDs every driver relies on.
- Operator calls: the registry's DuckDB oracle where it has one, else
  a canonical-hash digest pinned in ``DIGESTS`` (computed at two
  parallelism settings that agreed; see ``pin_digests.py``).
- Ingest: the client's running totals (in ``workloads.py``).
"""

from __future__ import annotations

import hashlib
import math
import os

import pyarrow.parquet as pq

from perfbench import datagen

#: crate_spark.session.TABLES, repeated so the client needs no engine import
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: rows and sha256 of the canonical form of each rows-only operator's
#: output over the generated tables (datagen.DATA_VERSION "v1")
DIGESTS: dict[str, tuple[int, str]] = {
    "pipeline_pack_sequences": (500, "48497d17939b12c86b7daae9ceea9cd118f76379eddc11702f40ff814cb82137"),
    "ts_lttb_downsample": (7498, "2df12dc4b661bcbdfdd96e805f0650fa04a77d1d7b017d43a14457013ef9e487"),
}

#: PG type OIDs a driver resolves on connect (pg_type.h)
PG_TYPES = {16: "bool", 20: "int8", 23: "int4", 25: "text", 701: "float8"}

_FLOAT_ABS = 2e-6
_FLOAT_REL = 1e-9


def duck_connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def values_match(got, want) -> bool:
    """One value of a result against the expected one: numbers within
    a tolerance, everything else exactly."""
    if isinstance(want, bool) or isinstance(got, bool):
        return got == want
    if isinstance(want, (int, float)) and isinstance(got, (int, float)):
        if isinstance(want, int) and isinstance(got, int):
            return got == want
        return math.isclose(float(got), float(want), rel_tol=_FLOAT_REL, abs_tol=_FLOAT_ABS)
    return got == want


def rows_match(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    return all(
        len(g) == len(w) and all(values_match(a, b) for a, b in zip(g, w))
        for g, w in zip(got, want)
    )


def topk_match(got: list, want: list, k: int) -> bool:
    """Top-``k`` rows of (id, score) ordered by score, then id, against
    a longer expected list. Scores that are equal in exact arithmetic
    (duplicate documents) can differ in their last bits between two
    engines, which may swap tied rows or pick another tied row at the
    k-th place; both are accepted. Every row must carry its expected
    score, and every row that scores clearly above the k-th must be
    there, and none that scores clearly below it."""
    if len(got) != min(k, len(want)):
        return False
    score = dict((i, s) for i, s in want)
    if any(i not in score or not values_match(s, score[i]) for i, s in got):
        return False
    kth = want[len(got) - 1][1]
    if any(s < kth - _FLOAT_ABS for _i, s in got):
        return False
    above = {i for i, s in want if s > kth + _FLOAT_ABS}
    return above <= {i for i, _s in got}


def table_columns(data_dir: str, table: str) -> list[str]:
    return pq.read_schema(os.path.join(data_dir, f"{table}.parquet")).names


def check_catalog(check: tuple, rows: list) -> bool:
    """A catalog read's rows against what the generated tables imply."""
    what, arg = check
    if what == "columns":
        return [r[0] for r in rows] == list(arg)
    if what == "tables":  # arg: the SQL-created tables beside the generated ones
        return [r[0] for r in rows] == sorted([*TABLES, *arg])
    if what == "types":
        have = {int(r[0]): r[1] for r in rows}
        return all(have.get(oid) == name for oid, name in PG_TYPES.items())
    raise ValueError(f"unknown catalog check {what!r}")


def _canon(v) -> str:
    """One value in the canonical form (12 significant digits on floats)."""
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0" if v == 0 else f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical_rows(columns: list[str], rows: list) -> list[tuple]:
    """Sorted rows of canonical strings, columns ordered by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(tuple(_canon(row[i]) for i in order) for row in rows)


def digest(columns: list[str], rows: list) -> tuple[int, str]:
    cols = sorted(c.lower() for c in columns)
    body = repr((cols, canonical_rows(columns, rows))).encode()
    return len(rows), hashlib.sha256(body).hexdigest()


def operator_expectation(name: str, oracle: str | None, con) -> tuple:
    """What an operator call must return: ("digest", rows, sha) or
    ("rows", canonical rows) from its DuckDB oracle."""
    if oracle is not None:
        res = con.execute(oracle)
        cols = [d[0] for d in res.description]
        return ("rows", canonical_rows(cols, res.fetchall()))
    if name not in DIGESTS:
        raise KeyError(f"no pinned digest for {name} at data {datagen.DATA_VERSION}")
    return ("digest", *DIGESTS[name])


def operator_matches(expect: tuple, columns: list[str], rows: list) -> bool:
    if expect[0] == "rows":
        return canonical_rows(columns, rows) == expect[1]
    return digest(columns, rows) == (expect[1], expect[2])
