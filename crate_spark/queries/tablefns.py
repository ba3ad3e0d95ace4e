"""Table functions (UDTF-shaped relations): unnest, generate_series,
generate_subscripts, regexp_matches, VALUES, SRF-in-SELECT.

Reference parity (SURVEY.md §2.9, registry
``expression/tablefunctions/TableFunctions.java:36``):
- unnest: ``UnnestFunction.java:51`` (multi-arg zip, nested flatten)
- generate_series: ``GenerateSeries.java:62`` (numeric + timestamp)
- generate_subscripts: ``GenerateSubscripts.java``
- regexp_matches: ``MatchesFunction.java``
- VALUES: ``ValuesFunction.java``
- SRF in SELECT list: ``planner/operators/ProjectSet.java:46``
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crate_spark.queries import query
from crate_spark.session import load_tables, local_frame


@query(
    "tf_unnest",
    oracle="""
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
    FROM documents WHERE doc_id < 50
    """,
)
def tf_unnest(spark, sf_dir):
    """unnest(array) -> rows (UnnestFunction.java:51) == explode."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("doc_id") < 50)
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))


@query(
    "tf_unnest_multi",
    oracle="""
    WITH src AS (
      SELECT doc_id,
             string_split(text, ' ')[1:5] AS w,
             [1, 2, 3] AS nums
      FROM documents WHERE doc_id < 20
    )
    SELECT doc_id,
           u.w AS word,
           u.n AS num
    FROM src,
         LATERAL (SELECT UNNEST(list_zip(w, nums), recursive := true)) AS u(w, n)
    """,
)
def tf_unnest_multi(spark, sf_dir):
    """Multi-argument unnest zips arrays of different length, padding
    with NULL (UnnestFunction multi-arg) == arrays_zip + explode."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("doc_id") < 20)
    w = F.slice(F.split("text", " "), 1, 5)
    nums = F.array(F.lit(1), F.lit(2), F.lit(3))
    z = F.arrays_zip(w.alias("w"), nums.alias("nums"))
    return d.select(
        "doc_id", F.explode(z).alias("u")
    ).select("doc_id", F.col("u.w").alias("word"), F.col("u.nums").alias("num"))


@query(
    "tf_generate_series",
    oracle="""
    SELECT UNNEST(generate_series(1, 50, 3)) AS n
    """,
)
def tf_generate_series(spark, sf_dir):
    """generate_series(start, stop, step) — numeric
    (GenerateSeries.java:62). Inclusive stop in both engines."""
    return spark.range(1).select(
        F.explode(F.sequence(F.lit(1), F.lit(50), F.lit(3))).alias("n")
    )


@query(
    "tf_generate_series_ts",
    oracle="""
    SELECT UNNEST(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                  TIMESTAMP '2024-01-02 00:00:00',
                                  INTERVAL 90 MINUTE)) AS ts
    """,
)
def tf_generate_series_ts(spark, sf_dir):
    """generate_series over timestamps with interval step
    (GenerateSeries.java:154-170)."""
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
                F.lit("2024-01-02 00:00:00").cast("timestamp_ntz"),
                F.expr("INTERVAL 90 MINUTE"),
            )
        ).alias("ts")
    )


@query(
    "tf_generate_subscripts",
    oracle="""
    SELECT doc_id, UNNEST(generate_series(1, len(string_split(text, ' ')))) AS idx
    FROM documents WHERE doc_id < 20
    """,
)
def tf_generate_subscripts(spark, sf_dir):
    """generate_subscripts(arr, 1) -> 1-based index series
    (GenerateSubscripts.java) == posexplode + 1."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("doc_id") < 20)
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "_w")
    ).select("doc_id", (F.col("pos") + 1).alias("idx"))


@query(
    "tf_regexp_matches",
    oracle="""
    SELECT doc_id, UNNEST(regexp_extract_all(text, '[a-z]*ar[a-z]*')) AS m
    FROM documents WHERE doc_id < 100
    """,
)
def tf_regexp_matches(spark, sf_dir):
    """regexp_matches(text, pattern) -> one row per match
    (MatchesFunction.java) == regexp_extract_all + explode."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.col("text"), F.lit("[a-z]*ar[a-z]*"), 0)).alias("m"),
    )


#: pg_get_keywords() keyword list lives in the dialect (shared with
#: the SQL front door's FROM-position rewrite)
from crate_spark.dialect import PG_KEYWORDS


@query(
    "tf_pg_expandarray",
    oracle="""
    SELECT doc_id,
           UNNEST(string_split(text, ' ')[1:6]) AS x,
           UNNEST(generate_series(1, len(string_split(text, ' ')[1:6]))) AS n
    FROM documents WHERE doc_id < 30
    """,
)
def tf_pg_expandarray(spark, sf_dir):
    """``information_schema._pg_expandarray(arr)`` -> (x, n) rows with
    the 1-based index (pg-compat table function) == posexplode + 1."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("doc_id") < 30)
    return d.select(
        "doc_id", F.posexplode(F.slice(F.split("text", " "), 1, 6)).alias("pos", "x")
    ).select("doc_id", "x", (F.col("pos") + 1).alias("n"))


def _pg_keywords_oracle() -> str:
    vals = ", ".join(f"('{w}', '{c}')" for w, c in PG_KEYWORDS)
    return f"SELECT word, catcode FROM (VALUES {vals}) AS t(word, catcode)"


@query("tf_pg_get_keywords", oracle=_pg_keywords_oracle())
def tf_pg_get_keywords(spark, sf_dir):
    """``pg_get_keywords()`` (pg-compat; reference
    ``PgGetKeywordsFunction``) — the documented reserved-word subset as
    a relation."""
    return local_frame(spark, PG_KEYWORDS, "word string, catcode string")


@query("tf_empty_row", oracle="SELECT 42 AS answer")
def tf_empty_row(spark, sf_dir):
    """``empty_row()`` — a single zero-column row usable as a FROM
    anchor (pg-compat; ``TableFunctions.java`` _empty_row): SELECT over
    it yields exactly one row of the projected expressions."""
    empty_row = spark.range(1).drop("id")
    return empty_row.select(F.lit(42).alias("answer"))


@query(
    "tf_values_relation",
    oracle="""
    SELECT * FROM (VALUES (1, 'one'), (2, 'two'), (3, 'three')) AS t(n, name)
    """,
)
def tf_values_relation(spark, sf_dir):
    """VALUES (...) as a relation (ValuesFunction.java)."""
    return spark.sql("SELECT * FROM VALUES (1, 'one'), (2, 'two'), (3, 'three') AS t(n, name)")


@query(
    "tf_srf_in_select",
    oracle="""
    SELECT n_name, UNNEST(string_split(n_name, '')) AS ch
    FROM nation WHERE n_nationkey < 5
    """,
)
def tf_srf_in_select(spark, sf_dir):
    """Set-returning function in the SELECT list alongside scalars
    (ProjectSet.java:46) — lateral-view semantics."""
    t = load_tables(spark, sf_dir)
    n = t["nation"].filter(F.col("n_nationkey") < 5)
    return n.select("n_name", F.explode(F.split("n_name", "")).alias("ch"))
