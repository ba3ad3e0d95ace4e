"""The engine's one type table, mirroring the reference's registry
(``types/DataTypes.java``; PG side ``protocols/postgres/types/PGTypes.java``).

Each row is one engine type: its CrateDB name (what information_schema,
pg_typeof, SHOW CREATE TABLE and the parquet fallback report), the
spellings DDL, ``::``/CAST and typed literals accept (PG aliases such as
int4, float8, bytea and timestamptz included), its Spark storage type,
its PG typname (an OID through ``PG_TYPES``) and its HTTP type id.

Several rows share one Spark type (ip, json, uuid, geo_shape and object
all store as string). The first row in table order is that Spark type's
canonical row: result columns, which carry only a Spark type, take name,
OID and HTTP id from it. Arrays have no canonical row; they report
``<element>_array``, the element's PG array type and ``[100, <id>]``.
"""

from __future__ import annotations

import re
from typing import NamedTuple


class DataType(NamedTuple):
    name: str
    spellings: tuple[str, ...]
    spark: str
    #: pg_type typname; None: no PG counterpart, the wire sends text (25)
    pg: str | None
    #: HTTP type id (interfaces/http.rst); None where the reference has none
    http: int | None
    #: CAST target where it differs from the column's Spark type
    cast: str | None = None


_INTERVAL = "struct<months:bigint,days:int,micros:bigint>"

TYPES = (
    DataType("undefined", (), "void", None, 0),
    DataType("boolean", ("boolean",), "boolean", "bool", 3),
    DataType("byte", ("byte", "tinyint"), "tinyint", "char", 2),
    DataType("smallint", ("smallint", "short", "int2"), "smallint", "int2", 8),
    DataType("integer", ("integer", "int", "int4"), "int", "int4", 9),
    DataType("bigint", ("bigint", "long", "int8"), "bigint", "int8", 10),
    DataType("real", ("real", "float", "float4"), "float", "float4", 7),
    DataType("double precision", ("double precision", "double", "float8"), "double", "float8", 6),
    # a bare numeric column keeps full precision; a bare numeric cast
    # keeps display scale with headroom for sum/avg over bigint-range
    # values (12.12::numeric * 10.14::numeric = 122.8968)
    DataType("numeric", ("numeric",), "decimal(38,18)", "numeric", 22, "DECIMAL(38,6)"),
    DataType("text", ("text", "string", "varchar", "character varying"), "string", "text", 4),
    DataType("character", ("character", "char"), "string", "bpchar", 27),
    DataType("ip", ("ip",), "string", None, 5),
    DataType("json", ("json",), "string", "json", 26),
    DataType("uuid", ("uuid",), "string", "uuid", None),
    # objects store as JSON strings (SURVEY.md §7 hard part (a))
    DataType("object", ("object",), "string", None, 12),
    # shapes store as WKT text; the geo scalars parse WKT
    DataType("geo_shape", ("geo_shape",), "string", None, 14),
    # bit strings store as '0101...' text
    DataType("bit", ("bit",), "string", "bit", 25),
    DataType("time with time zone", ("time with time zone", "timetz"), "string", "timetz", 20),
    DataType("time without time zone", ("time without time zone",), "string", None, None),
    DataType("regproc", ("regproc",), "string", "regproc", 19),
    DataType("regclass", ("regclass",), "string", "regclass", 23),
    DataType("regtype", ("regtype",), "string", "regtype", None),
    DataType("bytea", ("bytea",), "binary", None, 4),
    DataType("date", ("date",), "date", "date", 24),
    # both timestamps wire as 1114: values render without an offset,
    # so a client could not read them as timestamptz
    DataType(
        "timestamp with time zone", ("timestamp with time zone", "timestamptz", "timestamp"),
        "timestamp", "timestamp", 11,
    ),
    DataType(
        "timestamp without time zone", ("timestamp without time zone", "timestamp_ntz"),
        "timestamp_ntz", "timestamp", 15,
    ),
    # a months/days/micros struct as a column; a cast stays Spark's
    # interval, which the dialect's interval passes resolve
    DataType("interval", ("interval",), _INTERVAL, None, 17, "INTERVAL"),
    DataType("geo_point", ("geo_point",), "array<double>", "point", 13),
    DataType("float_vector", ("float_vector",), "array<float>", None, 28),
    DataType("oidvector", ("oidvector",), "array<int>", "oidvector", 21),
)

BY_NAME = {t.name: t for t in TYPES}
BY_SPELLING = {s: t for t in TYPES for s in t.spellings}
#: Spark type -> its canonical row (first in table order: the reversed
#: comprehension lets earlier rows win; arrays have none)
BY_SPARK = {t.spark: t for t in reversed(TYPES) if not t.spark.startswith("array<")}

#: spellings Spark's own parser reads as the same type: casts keep them
#: verbatim
_SPARK_NATIVE = frozenset({
    "boolean", "byte", "tinyint", "short", "smallint", "int", "integer",
    "long", "bigint", "float", "double", "string", "date", "timestamp",
    "timestamp_ntz",
})
#: parameterised spellings: head -> (row, Spark reads ``head(n[,m])``
#: as the same type). Lengths are advisory on a string store; numeric
#: keeps precision and scale.
_PARAMETERISED = {
    "numeric": ("numeric", True), "decimal": ("numeric", True),
    "varchar": ("text", True), "character varying": ("text", False),
    "char": ("character", True), "character": ("character", True),
    "bit": ("bit", False), "float_vector": ("float_vector", False),
}
#: words a type spelling can start with (tells ``name type`` from a
#: bare ``type`` in function signatures)
TYPE_HEADS = frozenset(
    s.split()[0] for s in (*BY_SPELLING, *_PARAMETERISED, "array")
)

#: Spark numeric types, narrowest first: the order overload return
#: types and dynamically added columns widen along
INTEGRAL = ("tinyint", "smallint", "int", "bigint")
FRACTIONAL = ("float", "double")

#: OBJECT[(strict|dynamic|ignored)] [AS (<subcolumns>)]
OBJECT_RE = re.compile(
    r"object(?:\s*\(\s*(strict|dynamic|ignored)\s*\))?(?:\s+as\s*\((.*)\))?",
    re.DOTALL,
)
_ARRAY_RE = re.compile(r"array\s*\(\s*(.+?)\s*\)|(.+?)\s*\[\s*\]", re.DOTALL)
_PARAM_RE = re.compile(r"([a-z_ ]+?)\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)")
_SPARK_ARRAY_RE = re.compile(r"array<(.+)>")


class Spelling(NamedTuple):
    """A parsed spelling: its row (None for an array, and for spellings
    the table does not know, such as ``decimal(10,2)`` or ``map<...>``),
    the (n) or (p, s) of a parameterised spelling, the element spelling
    of ``array(t)`` / ``t[]``, and whether Spark reads it the same."""

    row: DataType | None
    args: tuple[int, ...]
    element: str | None
    native: bool


def _key(spelling: str) -> str:
    # '"char"' is PG's quoted spelling of its internal char type
    return re.sub(r"\s+", " ", spelling.strip().strip('"').lower())


def parse(spelling: str) -> Spelling:
    """One type spelling (DDL, ``::`` or CAST) -> its table row."""
    key = _key(spelling)
    if key in BY_SPELLING:
        return Spelling(BY_SPELLING[key], (), None, key in _SPARK_NATIVE)
    if OBJECT_RE.fullmatch(key):
        return Spelling(BY_NAME["object"], (), None, False)
    m = _ARRAY_RE.fullmatch(key)
    if m:
        return Spelling(None, (), m.group(1) or m.group(2), False)
    m = _PARAM_RE.fullmatch(key)
    if m and m.group(1).strip() in _PARAMETERISED:
        name, native = _PARAMETERISED[m.group(1).strip()]
        args = tuple(int(g) for g in m.group(2, 3) if g)
        return Spelling(BY_NAME[name], args, None, native)
    return Spelling(None, (), None, True)


def spark_type(spelling: str) -> str:
    """DDL spelling -> Spark storage type; spellings the table does not
    know pass through for Spark's DDL parser to judge."""
    p = parse(spelling)
    if p.element is not None:
        return f"array<{spark_type(p.element)}>"
    if p.row is None:
        return spelling.strip()
    if p.row.name == "numeric" and p.args:
        return "decimal(" + ",".join(map(str, p.args)) + ")"
    return p.row.spark


def cast_type(spelling: str) -> str:
    """``::``/CAST spelling -> Spark CAST target. Spellings Spark reads
    the same come back verbatim."""
    p = parse(spelling)
    if p.element is not None:
        return f"ARRAY<{cast_type(p.element)}>"
    if p.native:
        return spelling
    return p.row.cast or p.row.spark.upper()


def _canonical(spark: str) -> DataType | None:
    if spark in BY_SPARK:
        return BY_SPARK[spark]
    if spark.startswith("decimal"):
        return BY_NAME["numeric"]
    if spark.startswith(("struct<", "map<")):
        return BY_NAME["object"]
    return None


def name_of(spark: str) -> str:
    """Spark simpleString -> CrateDB type name of its canonical row."""
    m = _SPARK_ARRAY_RE.fullmatch(spark)
    if m:
        return name_of(m.group(1)) + "_array"
    row = _canonical(spark)
    return row.name if row else spark


def pg_oid(spark: str) -> int:
    """Spark simpleString -> PG type OID. Arrays at any depth report
    their base element's array type; a type with no PG counterpart in
    ``PG_TYPES`` reports 25 (text)."""
    depth = 0
    while m := _SPARK_ARRAY_RE.fullmatch(spark):
        spark, depth = m.group(1), depth + 1
    row = _canonical(spark)
    oid = _OID_BY_TYPNAME.get(row.pg) if row else None
    if oid and depth:
        oid = _PG_BY_OID[oid][2] or None
    return oid or 25


def http_type_id(spark: str):
    """Spark simpleString -> HTTP type id; arrays nest as [100, inner]."""
    m = _SPARK_ARRAY_RE.fullmatch(spark)
    if m:
        return [100, http_type_id(m.group(1))]
    row = _canonical(spark)
    return row.http if row else 0


#: pg_type: the reference's full 54-row catalog inventory (PGTypes.java;
#: listed verbatim in interfaces/postgres.rst) — oid, typname, typarray
#: (oid of the array type), typelem (element oid for arrays), typlen
#: (-1 varlena, -2 cstring), typtype (b base/p pseudo), typcategory (N
#: numeric, S string, A array, D datetime, ...) — plus the name
#: format_type(oid) renders (FormatTypeFunction; None renders '???';
#: array rows take their element's name + '[]', below)
PG_TYPES = (
    (16, "bool", 1000, 0, 1, "b", "N", "boolean"),
    (18, "char", 1002, 0, 1, "b", "S", '"char"'),
    (19, "name", -1, 0, 64, "b", "S", "name"),
    (20, "int8", 1016, 0, 8, "b", "N", "bigint"),
    (21, "int2", 1005, 0, 2, "b", "N", "smallint"),
    (23, "int4", 1007, 0, 4, "b", "N", "integer"),
    (24, "regproc", 1008, 0, 4, "b", "N", None),
    (25, "text", 1009, 0, -1, "b", "S", "text"),
    (26, "oid", 1028, 0, 4, "b", "N", "oid"),
    (30, "oidvector", 1013, 26, -1, "b", "A", None),
    (114, "json", 199, 0, -1, "b", "U", "json"),
    (199, "_json", 0, 114, -1, "b", "A", None),
    (600, "point", 1017, 0, 16, "b", "G", "geo_point"),
    (700, "float4", 1021, 0, 4, "b", "N", "real"),
    (701, "float8", 1022, 0, 8, "b", "N", "double precision"),
    (705, "unknown", 0, 0, -2, "p", "X", None),
    (1000, "_bool", 0, 16, -1, "b", "A", None),
    (1002, "_char", 0, 18, -1, "b", "A", None),
    (1005, "_int2", 0, 21, -1, "b", "A", None),
    (1007, "_int4", 0, 23, -1, "b", "A", None),
    (1008, "_regproc", 0, 24, -1, "b", "A", None),
    (1009, "_text", 0, 25, -1, "b", "A", None),
    (1014, "_bpchar", 0, 1042, -1, "b", "A", None),
    (1015, "_varchar", 0, 1043, -1, "b", "A", None),
    (1016, "_int8", 0, 20, -1, "b", "A", None),
    (1017, "_point", 0, 600, -1, "b", "A", None),
    (1021, "_float4", 0, 700, -1, "b", "A", None),
    (1022, "_float8", 0, 701, -1, "b", "A", None),
    (1042, "bpchar", 1014, 0, -1, "b", "S", "character"),
    (1043, "varchar", 1015, 0, -1, "b", "S", "text"),
    (1082, "date", 1182, 0, 4, "b", "D", "date"),
    (1114, "timestamp", 1115, 0, 8, "b", "D", "timestamp without time zone"),
    (1115, "_timestamp", 0, 1114, -1, "b", "A", None),
    (1182, "_date", 0, 1082, -1, "b", "A", None),
    (1184, "timestamptz", 1185, 0, 8, "b", "D", "timestamp with time zone"),
    (1185, "_timestamptz", 0, 1184, -1, "b", "A", None),
    (1186, "interval", 1187, 0, 16, "b", "T", "interval"),
    (1187, "_interval", 0, 1186, -1, "b", "A", None),
    (1231, "_numeric", 0, 1700, -1, "b", "A", None),
    (1266, "timetz", 1270, 0, 12, "b", "D", None),
    (1270, "_timetz", 0, 1266, -1, "b", "A", None),
    (1560, "bit", 1561, 0, -1, "b", "V", "bit"),
    (1561, "_bit", 0, 1560, -1, "b", "A", None),
    (1700, "numeric", 1231, 0, -1, "b", "N", "numeric"),
    (2205, "regclass", 2210, 0, 4, "b", "N", None),
    (2206, "regtype", 2211, 0, 4, "b", "N", None),
    (2210, "_regclass", 0, 2205, -1, "b", "A", None),
    (2211, "_regtype", 0, 2206, -1, "b", "A", None),
    (2249, "record", 2287, 0, -1, "p", "P", None),
    (2276, "any", 0, 0, 4, "p", "P", None),
    (2277, "anyarray", 0, 2276, -1, "p", "P", None),
    (2287, "_record", 0, 2249, -1, "p", "A", None),
    (2950, "uuid", 2951, 0, 16, "b", "U", "uuid"),
    (2951, "_uuid", 0, 2950, -1, "b", "A", None),
)
_PG_BY_OID = {r[0]: r for r in PG_TYPES}
_OID_BY_TYPNAME = {r[1]: r[0] for r in PG_TYPES}
#: oid -> format_type name; an array row (its element's typarray) is
#: named after its element
FORMAT_NAMES = {r[0]: r[7] for r in PG_TYPES if r[7]}
FORMAT_NAMES.update({
    r[0]: FORMAT_NAMES[r[3]] + "[]"
    for r in PG_TYPES
    if r[3] in FORMAT_NAMES and _PG_BY_OID[r[3]][2] == r[0]
})
