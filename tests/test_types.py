"""Type-system tests — the t_types fixture (FIXTURES.md §B): one
suite per SURVEY.md §1.3 type-mapping row with CrateDB-specific
semantics (interval comparisons, nested arrays, dynamic objects,
1-based subscripts on nested data, ip validation, char padding)."""

from __future__ import annotations

import ast
import pathlib
import re
import struct

import pytest
from pyspark.sql import functions as F

from crate_spark import datatypes
from crate_spark.dml import CrateTable
from crate_spark.functions import ip_in_cidr
from crate_spark.pg_wire import _PgHandler


def one(spark, expr_sql: str):
    return spark.sql(f"SELECT {expr_sql} AS v").collect()[0]["v"]


def test_interval_arithmetic_and_comparison(spark):
    # joda-Period-style normalization: 25h stays 25h as day-time interval
    assert one(spark, "INTERVAL '25' HOUR > INTERVAL '1' DAY") is True
    assert one(spark, "INTERVAL '1' DAY + INTERVAL '12' HOUR = INTERVAL '36' HOUR") is True
    # month intervals don't compare to day intervals (separate types) —
    # Spark enforces year-month vs day-time separation at analysis time
    with pytest.raises(Exception):
        spark.sql("SELECT INTERVAL '1' MONTH > INTERVAL '30' DAY").collect()


def test_nested_arrays(spark):
    v = one(spark, "ARRAY(ARRAY(1, 2), ARRAY(3))")
    assert v == [[1, 2], [3]]
    # raw spark.sql subscripts are 0-based; the engine front door is
    # 1-based via the shim (tests/slt/arrays.test). Pin the element_at
    # (1-based) spelling the shim produces for nested access:
    assert one(spark, "element_at(element_at(ARRAY(ARRAY(1, 2), ARRAY(3)), 1), 2)") == 2


def test_object_struct_and_map(spark):
    # strict/typed object -> StructType with dotted + subscript access
    row = spark.sql(
        "SELECT named_struct('a', 1, 'nested', named_struct('b', 'x')) AS o"
    ).collect()[0]["o"]
    assert row["a"] == 1 and row["nested"]["b"] == "x"
    assert one(spark, "named_struct('a', 1)['a']") == 1
    # ignored-policy object -> JSON string with lazy typed extraction
    assert one(spark, "get_json_object('{\"k\": {\"x\": 5}}', '$.k.x')") == "5"
    assert one(spark, "CAST(get_json_object('{\"k\": 5}', '$.k') AS INT)") == 5


def test_dynamic_object_schema_merge(spark, tmp_path):
    """column_policy='dynamic': inserts may add columns; old rows read
    the new columns as NULL (DynamicIndexer semantics)."""
    t = CrateTable.create(spark, str(tmp_path / "dyn"), "id int, a string")
    t.insert(spark.createDataFrame([(1, "x")], "id int, a string"))
    t.insert_dynamic(
        spark.createDataFrame([(2, "y", 42)], "id int, a string, extra int")
    )
    got = {r["id"]: r for r in t.read().collect()}
    assert got[1]["extra"] is None  # old row: new column is NULL
    assert got[2]["extra"] == 42
    assert "extra int" in t.schema_ddl
    # reopen from disk: the widened schema persisted
    t2 = CrateTable.open(spark, str(tmp_path / "dyn"))
    assert {f.name for f in t2.read().schema.fields} == {"id", "a", "extra"}
    # declared column missing from a dynamic batch -> NULL-filled
    t2.insert_dynamic(spark.createDataFrame([(3,)], "id int"))
    got3 = {r["id"]: r for r in t2.read().collect()}[3]
    assert got3["a"] is None and got3["extra"] is None


def test_ip_type_validation(spark):
    """ip -> StringType + validation/containment (IpType.java)."""
    df = spark.createDataFrame(
        [("10.0.0.5",), ("192.168.7.9",), ("not-an-ip",)], "addr string"
    )
    valid = df.filter(
        F.col("addr").rlike(r"^(\d{1,3}\.){3}\d{1,3}$")
    )
    assert valid.count() == 2
    hits = df.filter(ip_in_cidr(F.col("addr"), "10.0.0.0/8")).collect()
    assert [r["addr"] for r in hits] == ["10.0.0.5"]


def test_char_padding_semantics(spark):
    """char(n) -> StringType + pad semantics (CharacterType.java).

    Spark's CHAR(n) cast in a SELECT does not blank-pad (read-side
    padding applies to table columns only); the engine's declared
    mapping is explicit rpad at write time."""
    assert one(spark, "rpad('ab', 5, ' ')") == "ab   "
    assert one(spark, "LENGTH(rpad('ab', 5, ' '))") == 5
    # trailing-blank-insensitive comparison, as PG char(n)
    assert one(spark, "rtrim(rpad('ab', 5, ' ')) = 'ab'") is True


def test_numeric_precision(spark):
    """numeric(p,s) -> DecimalType; exact arithmetic at p<=38."""
    v = one(spark, "CAST('123456789012345678901234567.123' AS DECIMAL(38,3)) * 2")
    assert str(v) == "246913578024691357802469134.246"


def test_binary_and_bits(spark):
    assert one(spark, "hex(CAST('AB' AS BINARY))") == "4142"
    assert one(spark, "bit_count(255)") == 8
    assert one(spark, "shiftleft(1, 8)") == 256


def test_timestamp_precision_ms(spark):
    """CrateDB stores ms epoch; values round-trip through TIMESTAMP_NTZ."""
    v = one(
        spark,
        "unix_millis(CAST(TIMESTAMP_NTZ '2024-01-01 00:00:00.123' AS TIMESTAMP))",
    )
    assert v == 1704067200123


def test_create_table_reference_type_names(spark, tmp_path):
    """Every CrateDB type spelling from data-types.rst maps to a Spark
    storage type at CREATE TABLE (geo_shape -> WKT text,
    float_vector(n) -> array<float>, numeric(p,s) -> decimal,
    varchar(n)/char(n)/bit(n) -> string)."""
    from crate_spark.engine import CrateSession

    s = CrateSession(spark, None, storage_dir=str(tmp_path))
    s.execute(
        "CREATE TABLE typed ("
        " a text, b varchar(40), c character varying(10), d char(3),"
        " e bit(8), f ip, g geo_point, h geo_shape,"
        " i float_vector(4), j numeric(10, 2), k numeric,"
        " l timestamp with time zone, m timestamp without time zone,"
        " n double precision, o real, p long, q short, r byte,"
        " s boolean, t array(text), u object, v interval)"
    )
    s.execute(
        "INSERT INTO typed (a, b, g, h, i, j, s, t) VALUES "
        "('x', 'y', [13.4, 52.5], 'POLYGON ((0 0, 1 0, 1 1, 0 0))', "
        "[1.0, 0.0, 0.0, 0.5], 12.34, true, ['p', 'q'])"
    )
    row = s.execute(
        "SELECT a, b, g, h, i, j, s, t FROM typed"
    ).collect()[0]
    assert row["a"] == "x" and row["s"] is True
    assert list(row["g"]) == [13.4, 52.5]
    assert row["h"].startswith("POLYGON")
    assert [round(x, 2) for x in row["i"]] == [1.0, 0.0, 0.0, 0.5]
    assert float(row["j"]) == 12.34
    assert list(row["t"]) == ["p", "q"]
    # the vector column feeds knn directly; geo column feeds distance
    d = s.execute(
        "SELECT round(distance(g, 'POINT (13.405 52.52)'), 0) AS m FROM typed"
    ).collect()[0]["m"]
    assert 0 <= d < 5000


# -- one type table: every surface answers the same ------------------------

_SPELLED = [t for t in datatypes.TYPES if t.spellings]


@pytest.fixture(scope="module")
def tsess(spark, tmp_path_factory):
    from crate_spark.engine import CrateSession

    return CrateSession(
        spark, None, storage_dir=str(tmp_path_factory.mktemp("type_table"))
    )


def _wire_oids(df) -> dict[str, int]:
    """Column -> type OID as the pg-wire RowDescription sends it."""
    desc = _PgHandler._row_description(df.schema.fields)
    out, off = {}, 2
    for _ in range(struct.unpack("!H", desc[:2])[0]):
        end = desc.index(b"\x00", off)
        out[desc[off:end].decode()] = struct.unpack("!IHIhih", desc[end + 1 : end + 19])[2]
        off = end + 19
    return out


def _catalog(sess, table: str) -> tuple[dict, dict]:
    """Column -> information_schema data_type, column -> atttypid."""
    names = {
        r[0]: r[1]
        for r in sess.execute(
            "SELECT column_name, data_type FROM information_schema.columns "
            f"WHERE table_name = '{table}'"
        ).collect()
    }
    oids = {
        r[0]: r[1]
        for r in sess.execute(
            "SELECT a.attname, a.atttypid FROM pg_catalog.pg_attribute a "
            "JOIN pg_catalog.pg_class c ON a.attrelid = c.oid "
            f"WHERE c.relname = '{table}'"
        ).collect()
    }
    return names, oids


def _pg_type_oids(sess) -> set[int]:
    return {r[0] for r in sess.execute("SELECT oid FROM pg_catalog.pg_type").collect()}


def _tname(prefix: str, row) -> str:
    return prefix + re.sub(r"\W", "_", row.name)


@pytest.mark.parametrize("row", _SPELLED, ids=lambda t: t.name)
def test_every_spelling_agrees_across_surfaces(tsess, row):
    """DDL accepts each spelling and stores the row's Spark type; the
    declared column keeps the row's name in information_schema; its
    pg_attribute OID equals the RowDescription OID and is a pg_type
    row; a cast to the spelling yields the row's cast type."""
    table = _tname("decl_", row)
    cols = ", ".join(f"c{i} {s}" for i, s in enumerate(row.spellings))
    tsess.execute(f"CREATE TABLE {table} ({cols})")
    df = tsess.execute(f"SELECT * FROM {table}")
    stored = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert stored == {f"c{i}": row.spark for i in range(len(row.spellings))}
    names, oids = _catalog(tsess, table)
    assert set(names.values()) == {row.name}, names
    wire = _wire_oids(df)
    assert oids == wire, (oids, wire)
    assert set(wire.values()) <= _pg_type_oids(tsess)
    # a non-canonical row (ip, json, geo_point, ...) reports its Spark
    # type's OID: the same as the canonical row for that Spark type
    assert set(wire.values()) == {datatypes.pg_oid(row.spark)}
    cast_to = (row.cast or row.spark).lower()
    for s in row.spellings:
        got = tsess.execute(f"SELECT CAST(NULL AS {s}) AS v").schema[0].dataType
        assert got.simpleString() == cast_to, s


_CANONICAL = [t for t in _SPELLED if datatypes.BY_SPARK.get(t.spark) is t]


@pytest.mark.parametrize("row", _CANONICAL, ids=lambda t: t.name)
def test_canonical_row_names_parquet_and_pg_typeof_alike(tsess, spark, tmp_path, row):
    """A parquet column of the row's Spark type gets the same
    information_schema name as a declared column; pg_typeof and SHOW
    CREATE TABLE agree, and HTTP col_types reports the row's id."""
    from crate_spark.http_sql import execute_request

    path = str(tmp_path / "p.parquet")
    spark.sql(f"SELECT CAST(NULL AS {row.spark}) AS x").write.parquet(path)
    table = _tname("pq_", row)
    tsess.register(table, spark.read.parquet(path))
    names, oids = _catalog(tsess, table)
    assert names == {"x": row.name}
    got = tsess.execute(f"SELECT pg_typeof(x) AS t FROM {table}").collect()[0]["t"]
    assert got == row.name
    assert oids == _wire_oids(tsess.execute(f"SELECT x FROM {table}"))
    ddl = tsess.execute(f"SHOW CREATE TABLE {table}").collect()[0][0]
    assert f'"x" {row.name.upper()}' in ddl
    resp = execute_request(tsess, {"stmt": f"SELECT x FROM {table}"}, types=True)
    assert resp["col_types"] == [row.http]


def test_result_types_wire_and_catalog_oids(tsess, spark, tmp_path):
    """Arrays report their element's typarray; both Spark timestamps
    keep 1114; types with no PG counterpart report 25 (text) — the
    same on the wire and in pg_attribute."""
    want = {
        "a_int": ("array<int>", 1007), "a_text": ("array<string>", 1009),
        "a_dbl": ("array<double>", 1022), "a_big": ("array<bigint>", 1016),
        "ts": ("timestamp", 1114), "ts_ntz": ("timestamp_ntz", 1114),
        "b": ("tinyint", 18), "m": ("map<string,string>", 25),
        "st": ("struct<a:int>", 25), "bin": ("binary", 25),
        "iv": (datatypes.BY_NAME["interval"].spark, 25),
    }
    path = str(tmp_path / "r.parquet")
    spark.sql(
        "SELECT " + ", ".join(f"CAST(NULL AS {t}) AS {c}" for c, (t, _) in want.items())
    ).write.parquet(path)
    tsess.register("result_types", spark.read.parquet(path))
    _, oids = _catalog(tsess, "result_types")
    wire = _wire_oids(tsess.execute("SELECT * FROM result_types"))
    assert wire == oids == {c: oid for c, (_, oid) in want.items()}


def test_byte_column_has_one_name(tsess, spark, tmp_path):
    """pg_typeof, a declared tinyint and a parquet tinyint column all
    say byte (they said "char", tinyint and byte)."""
    tsess.execute("CREATE TABLE bytes_decl (b tinyint, c byte)")
    path = str(tmp_path / "b.parquet")
    spark.sql("SELECT CAST(1 AS TINYINT) AS b").write.parquet(path)
    tsess.register("bytes_pq", spark.read.parquet(path))
    names = {
        (r[0], r[1]): r[2]
        for r in tsess.execute(
            "SELECT table_name, column_name, data_type FROM "
            "information_schema.columns WHERE table_name LIKE 'bytes_%'"
        ).collect()
    }
    assert set(names.values()) == {"byte"}, names
    typeof = tsess.execute("SELECT pg_typeof(b) AS t FROM bytes_pq").collect()[0]["t"]
    assert typeof == "byte"


def test_pg_aliases_in_ddl(tsess):
    """int2/int4/int8/float4/float8/bytea declare columns, as they
    already cast (they failed with UNSUPPORTED_DATATYPE)."""
    tsess.execute(
        "CREATE TABLE pg_aliases (a int2, b int4, c int8, d float4, "
        "e float8, f bytea, g timestamptz)"
    )
    got = {
        f.name: f.dataType.simpleString()
        for f in tsess.execute("SELECT * FROM pg_aliases").schema.fields
    }
    assert got == {
        "a": "smallint", "b": "int", "c": "bigint", "d": "float",
        "e": "double", "f": "binary", "g": "timestamp",
    }


# -- guard: no second type map ----------------------------------------------

_PKG = pathlib.Path(__file__).resolve().parent.parent / "crate_spark"


def _type_map_literals(root: pathlib.Path) -> list[str]:
    """Dict and set literals outside datatypes.py that hold 3 or more
    of the type table's spellings or of its pg_type OIDs."""
    spellings = set(datatypes.BY_SPELLING)
    oids = {r[0] for r in datatypes.PG_TYPES}
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "datatypes.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Dict):
                elts = [*node.keys, *node.values]
            elif isinstance(node, ast.Set):
                elts = node.elts
            else:
                continue
            consts = [e.value for e in elts if isinstance(e, ast.Constant)]
            n_spell = len({c for c in consts if isinstance(c, str) and c in spellings})
            n_oid = len({c for c in consts if type(c) is int and c in oids})
            if n_spell >= 3 or n_oid >= 3:
                hits.append(f"{path.relative_to(root.parent)}:{node.lineno}")
    return hits


def test_no_type_map_outside_the_type_table():
    assert _type_map_literals(_PKG) == []
