"""Scalar function library exercised over the driver tables.

Reference parity (SURVEY.md §2.8): the documented scalar surface from
``docs/general/builtins/scalar-functions.rst`` — string, regexp,
date/time, math, array, object/JSON, conditional, bitwise, hash and
cast functions. ~80% are Spark same-name built-ins; gaps are filled in
``crate_spark/functions`` (date_bin, array_* variants, parse_uri, ...).

All expressions stay JVM-side (no Python UDFs in any of these paths);
transcendental outputs are rounded in BOTH engines for exact hashes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crate_spark.functions import array_sum, date_bin
from crate_spark.queries import query
from crate_spark.session import load_tables, local_frame


@query(
    "scalar_string_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand) AS up,
           LOWER(p_type) AS lo,
           LENGTH(p_name) AS len,
           SUBSTR(p_name, 1, 8) AS sub,
           LEFT(p_type, 5) AS l5,
           RIGHT(p_type, 5) AS r5,
           REVERSE(p_brand) AS rev,
           REPLACE(p_brand, 'Brand#', 'B-') AS repl,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS padded,
           TRIM('  ' || p_brand || ' ') AS trimmed,
           CONCAT(p_brand, ':', p_type) AS joined,
           SPLIT_PART(p_name, ' ', 2) AS word2,
           STRPOS(p_name, 'a') AS pos_a,
           REPEAT('-', 3) AS dashes,
           ASCII(p_brand) AS first_code,
           CHR(65 + p_size % 26) AS size_chr,
           p_name LIKE '%gold%' AS has_gold,
           p_brand LIKE 'Brand#1%' AS is_b1
    FROM part WHERE p_partkey <= 500
    """,
)
def scalar_string_funcs(spark, sf_dir):
    """String function surface (concat/substr/trim/pad/split_part/...)."""
    t = load_tables(spark, sf_dir)
    p = t["part"].filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("up"),
        F.lower("p_type").alias("lo"),
        F.length("p_name").alias("len"),
        F.substring("p_name", 1, 8).alias("sub"),
        F.expr("left(p_type, 5)").alias("l5"),
        F.expr("right(p_type, 5)").alias("r5"),
        F.reverse("p_brand").alias("rev"),
        F.replace(F.col("p_brand"), F.lit("Brand#"), F.lit("B-")).alias("repl"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit(" "))).alias("trimmed"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("joined"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("word2"),
        F.instr(F.col("p_name"), "a").alias("pos_a"),
        F.repeat(F.lit("-"), 3).alias("dashes"),
        F.ascii("p_brand").alias("first_code"),
        F.chr(F.lit(65) + F.col("p_size") % 26).alias("size_chr"),
        F.col("p_name").like("%gold%").alias("has_gold"),
        F.col("p_brand").like("Brand#1%").alias("is_b1"),
    )


@query(
    "scalar_string_funcs2",
    oracle="""
    SELECT p_partkey,
           array_to_string(list_transform(string_split(lower(p_name), ' '),
               w -> upper(w[1]) || w[2:]), ' ') AS name_initcap,
           translate(p_brand, '#B', '-b') AS brand_tr,
           hex(p_type) AS type_hex,
           base64(encode(p_type)) AS type_b64,
           starts_with(p_type, 'PROMO') AS is_promo,
           printf('%s/%d', p_brand, p_size) AS label,
           CASE WHEN regexp_matches(p_name, '^[a-z_][a-z0-9_]*$')
                THEN p_name
                ELSE '"' || replace(p_name, '"', '""') || '"' END AS name_quoted
    FROM part WHERE p_partkey <= 400
    """,
)
def scalar_string_funcs2(spark, sf_dir):
    """String long tail: initcap (InitCapFunction), translate
    (TranslateFunction), encode hex/base64 (EncodeDecodeFunction),
    starts_with (StartsWithFunction), format printf-style
    (FormatFunction), quote_ident (QuoteIdentFunction — emulated with
    the same needs-quoting rule in both engines)."""
    from crate_spark.functions.scalar import quote_ident

    t = load_tables(spark, sf_dir)
    p = t["part"].filter(F.col("p_partkey") <= 400)
    return p.select(
        "p_partkey",
        F.initcap("p_name").alias("name_initcap"),
        F.translate(F.col("p_brand"), "#B", "-b").alias("brand_tr"),
        F.hex(F.col("p_type").cast("binary")).alias("type_hex"),
        F.base64(F.col("p_type").cast("binary")).alias("type_b64"),
        F.startswith(F.col("p_type"), F.lit("PROMO")).alias("is_promo"),
        F.format_string("%s/%d", F.col("p_brand"), F.col("p_size")).alias("label"),
        quote_ident(F.col("p_name")).alias("name_quoted"),
    )


@query(
    "scalar_array_funcs2",
    oracle="""
    WITH src AS (
      SELECT doc_id, string_split(text, ' ')[1:4] AS arr
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           array_to_string(list_append(arr, 'zz'), ',') AS appended,
           array_to_string(list_prepend('aa', arr), ',') AS prepended,
           array_to_string(arr || ['x', 'y'], ',') AS catted,
           array_to_string(arr[1:1] || ['SET'] || arr[3:], ',') AS set_2,
           len(arr) AS upper_1,
           CASE WHEN len(arr) > 0 THEN 1 END AS lower_1,
           (arr IS NULL OR len(arr) = 0) AS is_null_or_empty,
           array_to_string(list_sort(list_distinct(arr || arr)), ',') AS uniq
    FROM src
    """,
)
def scalar_array_funcs2(spark, sf_dir):
    """Array long tail: array_append/prepend (ArrayAppend/
    ArrayPrependFunction), array_cat (ArrayCatFunction), array_set
    (ArraySetFunction — slice splice), array_upper/array_lower
    (ArrayUpper/LowerFunction; 1-based), null_or_empty
    (NullOrEmptyFunction), array_unique (ArrayUniqueFunction). Array
    outputs stringified for the driver canonicalizer."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("doc_id") < 100)
    arr = F.slice(F.split("text", " "), 1, 4)
    set_2 = F.concat(
        F.slice(arr, 1, 1), F.array(F.lit("SET")), F.slice(arr, 3, F.greatest(F.size(arr) - 2, F.lit(0)))
    )
    return d.select(
        "doc_id",
        F.array_join(F.concat(arr, F.array(F.lit("zz"))), ",").alias("appended"),
        F.array_join(F.concat(F.array(F.lit("aa")), arr), ",").alias("prepended"),
        F.array_join(F.concat(arr, F.array(F.lit("x"), F.lit("y"))), ",").alias("catted"),
        F.array_join(set_2, ",").alias("set_2"),
        F.size(arr).alias("upper_1"),
        F.when(F.size(arr) > 0, F.lit(1)).alias("lower_1"),
        (arr.isNull() | (F.size(arr) == 0)).alias("is_null_or_empty"),
        F.array_join(F.sort_array(F.array_distinct(F.concat(arr, arr))), ",").alias("uniq"),
    )


@query(
    "scalar_regexp_funcs",
    oracle="""
    SELECT doc_id,
           REGEXP_REPLACE(source, '[0-9]+', '#', 'g') AS src_norm,
           REGEXP_EXTRACT(text, '([a-z]+)', 1) AS first_word,
           LEN(REGEXP_EXTRACT_ALL(text, 'table')) AS n_table,
           REGEXP_MATCHES(text, 'vector|spark') AS mentions_tech
    FROM documents WHERE doc_id < 200
    """,
)
def scalar_regexp_funcs(spark, sf_dir):
    """Regexp surface: replace (global), extract, count, match
    (reference ``RegexpMatchOperator``, ``regexp_*`` scalars)."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        F.regexp_replace("source", "[0-9]+", "#").alias("src_norm"),
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.regexp_count(F.col("text"), F.lit("table")).alias("n_table"),
        F.col("text").rlike("vector|spark").alias("mentions_tech"),
    )


@query(
    "scalar_datetime_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(DATE_TRUNC('quarter', o_orderdate) AS TIMESTAMP) AS q_start,
           EXTRACT(year FROM o_orderdate) AS yr,
           EXTRACT(month FROM o_orderdate) AS mon,
           EXTRACT(day FROM o_orderdate) AS dom,
           EXTRACT(quarter FROM o_orderdate) AS qtr,
           EXTRACT(doy FROM o_orderdate) AS doy,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS fmt,
           o_orderdate + INTERVAL 30 DAY AS due,
           o_orderdate - INTERVAL 1 MONTH AS prev_month
    FROM orders WHERE o_orderkey <= 400
    """,
)
def scalar_datetime_funcs(spark, sf_dir):
    """date_trunc/extract/date_format/interval arithmetic
    (reference ``scalar/DateTruncFunction``, ``ExtractFunctions``,
    ``arithmetic/IntervalArithmeticFunctions.java``)."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderkey") <= 400)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", d).cast("timestamp_ntz").alias("month_start"),
        F.date_trunc("quarter", d).cast("timestamp_ntz").alias("q_start"),
        F.year(d).cast("bigint").alias("yr"),
        F.month(d).cast("bigint").alias("mon"),
        F.dayofmonth(d).cast("bigint").alias("dom"),
        F.quarter(d).cast("bigint").alias("qtr"),
        F.dayofyear(d).cast("bigint").alias("doy"),
        F.date_format(d, "yyyy-MM-dd").alias("fmt"),
        (d + F.expr("INTERVAL 30 DAY")).cast("timestamp_ntz").alias("due"),
        (d - F.expr("INTERVAL 1 MONTH")).cast("timestamp_ntz").alias("prev_month"),
    )


@query(
    "scalar_datetime_funcs2",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS my_fmt,
           strftime(ts, '%d/%m/%y') || ' ' || strftime(ts, '%p') AS my_fmt2,
           ROUND(epoch(ts), 6) AS epoch_s,
           EXTRACT(week FROM ts) AS iso_week,
           EXTRACT(isoyear FROM ts) AS iso_year,
           EXTRACT(dow FROM ts) AS dow_pg,
           EXTRACT(isodow FROM ts) AS isodow,
           EXTRACT(hour FROM ts) AS hr,
           EXTRACT(minute FROM ts) AS mi,
           EXTRACT(second FROM ts) AS sec
    FROM events WHERE event_id < 400
    """,
)
def scalar_datetime_funcs2(spark, sf_dir):
    """Datetime long tail: MySQL-style date_format
    (``DateFormatFunction.java`` / ``TimestampFormatter.java``), epoch
    extraction, ISO week/year, PG dow (Sunday=0) and isodow (Monday=1).
    """
    from crate_spark.functions.scalar import date_format_mysql

    t = load_tables(spark, sf_dir)
    e = t["events"].filter(F.col("event_id") < 400)
    ts = F.col("ts")
    return e.select(
        "event_id",
        date_format_mysql(ts, "%Y-%m-%d %H:%i:%S").alias("my_fmt"),
        F.concat(
            date_format_mysql(ts, "%d/%m/%y"), F.lit(" "), date_format_mysql(ts, "%p")
        ).alias("my_fmt2"),
        F.round(F.unix_micros(ts.cast("timestamp")) / 1_000_000.0, 6).alias("epoch_s"),
        F.weekofyear(ts).cast("bigint").alias("iso_week"),
        F.expr("extract(yearofweek FROM ts)").cast("bigint").alias("iso_year"),
        (F.dayofweek(ts) - 1).cast("bigint").alias("dow_pg"),
        F.expr("extract(dayofweek_iso FROM ts)").cast("bigint").alias("isodow"),
        F.hour(ts).cast("bigint").alias("hr"),
        F.minute(ts).cast("bigint").alias("mi"),
        F.second(ts).cast("bigint").alias("sec"),
    )


@query(
    "scalar_date_bin",
    oracle="""
    SELECT TIME_BUCKET(INTERVAL '15 minutes', ts, TIMESTAMP '2024-01-01 00:00:00') AS bucket,
           COUNT(*) AS n,
           ROUND(AVG(value), 6) AS avg_value
    FROM events
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def scalar_date_bin(spark, sf_dir):
    """date_bin (reference ``scalar/DateBinFunction.java:41``) — floor
    timestamps to an arbitrary stride anchored at an origin; THE
    time-series rollup primitive. Pure epoch arithmetic, codegen-side."""
    t = load_tables(spark, sf_dir)
    bucket = date_bin(
        "15 minutes", F.col("ts"), F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    return (
        t["events"]
        .groupBy(bucket.cast("timestamp_ntz").alias("bucket"))
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy("bucket")
    )


@query(
    "scalar_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(-l_quantity) AS a,
           CEIL(l_discount * 100) AS c,
           FLOOR(l_tax * 100) AS f,
           ROUND(l_extendedprice / 1000, 2) AS r,
           TRUNC(l_extendedprice / 1000) AS tr,
           ROUND(SQRT(l_quantity), 6) AS sq,
           ROUND(POWER(l_quantity, 2), 6) AS p2,
           ROUND(EXP(l_discount), 6) AS e,
           ROUND(LN(l_quantity + 1), 6) AS lg,
           ROUND(LOG(10, l_quantity + 1), 6) AS l10,
           MOD(CAST(l_quantity AS BIGINT), 7) AS m7,
           CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS sg,
           ROUND(SIN(l_quantity), 6) AS sn,
           ROUND(COS(l_quantity), 6) AS cs,
           ROUND(ATAN2(l_quantity, 10.0), 6) AS at2,
           ROUND(DEGREES(l_discount), 6) AS dg,
           ROUND(RADIANS(l_quantity), 6) AS rd,
           ROUND(PI(), 6) AS pi_
    FROM lineitem WHERE l_orderkey <= 200
    """,
)
def scalar_math_funcs(spark, sf_dir):
    """Math surface (abs..trig; reference ``scalar/MathFunctions`` et al.).

    Transcendentals round to 6 decimals in BOTH engines — JVM ``Math.*``
    and DuckDB's libm differ by ULPs that surface at the 9th decimal on
    some inputs (registry determinism rule, queries/__init__.py)."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_orderkey") <= 200)
    q, dsc, tax, px = (F.col(c) for c in ("l_quantity", "l_discount", "l_tax", "l_extendedprice"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(-q).alias("a"),
        # Spark ceil/floor -> BIGINT but DuckDB CEIL/FLOOR over DOUBLE
        # -> DOUBLE; the driver hash stringifies ("2" vs "2.0"), so both
        # engines must land in the float family (VERDICT r6 #1).
        F.ceil(dsc * 100).cast("double").alias("c"),
        F.floor(tax * 100).cast("double").alias("f"),
        F.round(px / 1000, 2).alias("r"),
        # numeric trunc(x) = cast-to-bigint (truncates toward zero, as PG)
        (px / 1000).cast("bigint").cast("double").alias("tr"),
        F.round(F.sqrt(q), 6).alias("sq"),
        F.round(F.pow(q, 2), 6).alias("p2"),
        F.round(F.exp(dsc), 6).alias("e"),
        F.round(F.ln(q + 1), 6).alias("lg"),
        F.round(F.log(10.0, q + 1), 6).alias("l10"),
        (q.cast("bigint") % 7).alias("m7"),
        F.signum(dsc - 0.05).alias("sg"),
        F.round(F.sin(q), 6).alias("sn"),
        F.round(F.cos(q), 6).alias("cs"),
        F.round(F.atan2(q, F.lit(10.0)), 6).alias("at2"),
        F.round(F.degrees(dsc), 6).alias("dg"),
        F.round(F.radians(q), 6).alias("rd"),
        F.round(F.lit(3.141592653589793), 6).alias("pi_"),
    )


@query(
    "scalar_misc_funcs",
    oracle="""
    SELECT p_partkey,
           ROUND(ASIN((p_size % 100) / 100.0), 6) AS r_asin,
           ROUND(ACOS((p_size % 100) / 100.0), 6) AS r_acos,
           ROUND(TAN((p_size % 100) / 100.0), 6) AS r_tan,
           ROUND(ATAN(p_retailprice), 6) AS r_atan,
           ROUND(COT(p_size + 1.5), 6) AS r_cot,
           BIT_LENGTH(p_brand) AS bits,
           OCTET_LENGTH(ENCODE(p_type)) AS octets,
           LENGTH(p_type) AS chars,
           LTRIM(p_type, 'PROM') AS lt,
           RTRIM(p_type, 'DEZINOA') AS rt,
           TRIM(p_type, 'PROMDEZINA ') AS bt,
           STRPOS(p_name, REGEXP_EXTRACT(p_name, '[aeiou]+', 0)) AS re_pos
    FROM part WHERE p_partkey <= 400
    """,
)
def scalar_misc_funcs(spark, sf_dir):
    """Scalar stragglers: inverse/extra trig (asin/acos/tan/atan/cot —
    ``arithmetic/TrigonometricFunctions.java``), bit_length/
    octet_length/char_length (``string/LengthFunction.java``),
    character-set ltrim/rtrim/btrim (``string/TrimFunctions.java``),
    regexp_instr (``regex/``; the oracle recomputes the match position
    via strpos of the first match, identical for leftmost-match
    semantics)."""
    t = load_tables(spark, sf_dir)
    p = t["part"].filter(F.col("p_partkey") <= 400)
    frac = (F.col("p_size") % 100) / 100.0
    pt = F.col("p_type")
    return p.select(
        "p_partkey",
        F.round(F.asin(frac), 6).alias("r_asin"),
        F.round(F.acos(frac), 6).alias("r_acos"),
        F.round(F.tan(frac), 6).alias("r_tan"),
        F.round(F.atan(F.col("p_retailprice")), 6).alias("r_atan"),
        F.round(F.cot(F.col("p_size") + 1.5), 6).alias("r_cot"),
        F.bit_length("p_brand").alias("bits"),
        F.octet_length(pt).alias("octets"),
        F.char_length(pt).alias("chars"),
        F.ltrim(pt, F.lit("PROM")).alias("lt"),
        F.rtrim(pt, F.lit("DEZINOA")).alias("rt"),
        F.btrim(pt, F.lit("PROMDEZINA ")).alias("bt"),
        F.regexp_instr(F.col("p_name"), F.lit("[aeiou]+")).alias("re_pos"),
    )


@query(
    "scalar_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS size_class,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_alias,
           GREATEST(o_totalprice, 150000.0) AS floor_price,
           LEAST(o_totalprice, 150000.0) AS cap_price,
           IF(o_orderpriority = '1-URGENT', 1, 0) AS urgent_flag
    FROM orders WHERE o_orderkey <= 1000
    """,
)
def scalar_conditional(spark, sf_dir):
    """CASE/WHEN, coalesce, nullif, greatest, least, if
    (reference ``scalar/conditional/``)."""
    t = load_tables(spark, sf_dir)
    o = t["orders"].filter(F.col("o_orderkey") <= 1000)
    tp = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(tp > 300000, "big").when(tp > 100000, "mid").otherwise("small").alias("size_class"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias("status_alias"),
        F.greatest(tp, F.lit(150000.0)).alias("floor_price"),
        F.least(tp, F.lit(150000.0)).alias("cap_price"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("urgent_flag"),
    )


@query(
    "scalar_casts",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS INTEGER) AS q_int,
           CAST(l_quantity AS VARCHAR) AS q_str,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS px_dec,
           TRY_CAST(l_returnflag AS INTEGER) AS flag_int,
           TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS q_roundtrip,
           CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_day
    FROM lineitem WHERE l_orderkey <= 300
    """,
)
def scalar_casts(spark, sf_dir):
    """cast / try_cast / :: surface (reference
    ``scalar/cast/ExplicitCastFunction.java:40``, ``TryCastFunction``).
    try_cast of a non-numeric string yields NULL, not an error."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_orderkey") <= 300)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("int").alias("q_int"),
        F.col("l_quantity").cast("string").alias("q_str"),
        # decimal cast emitted as string: a raw DECIMAL cell arrives as
        # a python Decimal object in pandas and compares EXACTLY against
        # the other engine's float repr — the string form hashes stably
        F.col("l_extendedprice").cast("decimal(18,2)").cast("string").alias("px_dec"),
        F.try_to_number(F.col("l_returnflag"), F.lit("999")).cast("int").alias("flag_int"),
        F.col("l_quantity").cast("string").cast("double").alias("q_roundtrip"),
        # date cells arrive as python date objects vs DatetimeArray in
        # pandas -> stringified for a stable cross-engine hash
        F.col("l_shipdate").cast("date").cast("string").alias("ship_day"),
    )


@query(
    "scalar_array_funcs",
    oracle="""
    SELECT doc_id,
           words[1] AS first_word,
           ARRAY_TO_STRING(words[3:4], '|') AS slice_2,
           LEN(words) AS n_words,
           LEN(LIST_DISTINCT(words)) AS n_unique,
           LIST_SORT(LIST_DISTINCT(words))[1] AS min_word,
           LIST_CONTAINS(words, 'spark') AS has_spark,
           LIST_POSITION(words, 'table') AS table_pos,
           ARRAY_TO_STRING(words[1:3], '|') AS head3
    FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS words
          FROM documents WHERE doc_id < 100)
    """,
)
def scalar_array_funcs(spark, sf_dir):
    """Array surface with CrateDB's 1-based subscripts
    (``scalar/SubscriptFunction``, ``ArraySliceFunction``,
    ``array_*`` family). Spark element_at/slice are 1-based too."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].filter(F.col("doc_id") < 100)
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.element_at(words, 1).alias("first_word"),
        F.array_join(F.slice(words, 3, 2), "|").alias("slice_2"),
        F.size(words).alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_unique"),
        F.element_at(F.sort_array(F.array_distinct(words)), 1).alias("min_word"),
        F.array_contains(words, "spark").alias("has_spark"),
        F.array_position(words, "table").alias("table_pos"),
        F.array_join(F.slice(words, 1, 3), "|").alias("head3"),
    )


@query(
    "scalar_array_numeric",
    oracle="""
    SELECT vec_id,
           ROUND(LIST_SUM(embedding), 5) AS vec_sum,
           ROUND(LIST_AVG(embedding), 6) AS vec_avg,
           ROUND(CAST(LIST_MIN(embedding) AS DOUBLE), 6) AS vec_min,
           ROUND(CAST(LIST_MAX(embedding) AS DOUBLE), 6) AS vec_max,
           LEN(embedding) AS dim
    FROM embeddings WHERE vec_id < 100
    """,
)
def scalar_array_numeric(spark, sf_dir):
    """array_sum/avg/min/max (reference ``ArraySummationFunction`` etc.)
    over float_vector columns, via JVM aggregate HOFs.

    Float32 sums: both engines accumulate in double over the same
    64-element order -> exact match; rounded anyway for safety."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].filter(F.col("vec_id") < 100)
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.round(array_sum(emb), 5).alias("vec_sum"),
        F.round(array_sum(emb) / F.size(emb), 6).alias("vec_avg"),
        F.round(F.array_min(emb).cast("double"), 6).alias("vec_min"),
        F.round(F.array_max(emb).cast("double"), 6).alias("vec_max"),
        F.size(emb).alias("dim"),
    )


@query(
    "scalar_json_funcs",
    oracle="""
    SELECT event_id,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k_val,
           JSON_EXTRACT_STRING(props, '$.missing') AS missing_val,
           props LIKE '%"k"%' AS has_k
    FROM events WHERE event_id < 500
    """,
)
def scalar_json_funcs(spark, sf_dir):
    """Dynamic object access: CrateDB ``props['k']`` subscripting on an
    object(ignored) column == JSON path extraction here (SURVEY.md §7
    hard part (a): ignored-policy objects -> JSON string + lazy cast)."""
    t = load_tables(spark, sf_dir)
    e = t["events"].filter(F.col("event_id") < 500)
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        F.get_json_object("props", "$.missing").alias("missing_val"),
        F.col("props").like('%"k"%').alias("has_k"),
    )


@query(
    "scalar_bitwise_hash",
    oracle="""
    SELECT n_nationkey,
           n_nationkey & 3 AS b_and,
           n_nationkey | 8 AS b_or,
           XOR(n_nationkey, 5) AS b_xor,
           n_nationkey << 2 AS b_shl,
           n_nationkey >> 1 AS b_shr,
           MD5(n_name) AS name_md5,
           SHA256(n_name) AS name_sha256
    FROM nation
    """,
)
def scalar_bitwise_hash(spark, sf_dir):
    """Bitwise ops (reference ``scalar/bitwise/BitwiseFunctions.java``)
    + md5/sha digests (reference has md5/sha1/blake3; blake3 has no JVM
    builtin — documented gap, md5/sha2 provided)."""
    t = load_tables(spark, sf_dir)
    k = F.col("n_nationkey")
    return t["nation"].select(
        "n_nationkey",
        k.bitwiseAND(F.lit(3)).alias("b_and"),
        k.bitwiseOR(F.lit(8)).alias("b_or"),
        k.bitwiseXOR(F.lit(5)).alias("b_xor"),
        F.shiftleft(k, 2).alias("b_shl"),
        F.shiftright(k, 1).alias("b_shr"),
        F.md5(F.col("n_name").cast("binary")).alias("name_md5"),
        F.sha2(F.col("n_name").cast("binary"), 256).alias("name_sha256"),
    )


@query(
    "scalar_object_funcs",
    oracle="""
    SELECT event_id,
           array_to_string(list_sort(CAST(json_keys(json_merge_patch(props,
               json_object('extra', event_id))) AS VARCHAR[])), ',') AS merged_keys,
           CAST(json_extract_string(json_merge_patch(props,
               json_object('extra', event_id)), '$.extra') AS BIGINT) AS extra_val,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_subscript
    FROM events WHERE event_id < 300
    """,
)
def scalar_object_funcs(spark, sf_dir):
    """object_keys / object merge (concat) / subscript — the OBJECT
    surface (ObjectKeys, ConcatObject scalars; subscript
    SubscriptObjectFunction) over dynamic JSON-typed props, via
    from_json -> map ops, all JVM-side."""
    t = load_tables(spark, sf_dir)
    obj = F.from_json(F.col("props"), "map<string,bigint>")
    merged = F.map_concat(obj, F.create_map(F.lit("extra"), F.col("event_id")))
    return (
        t["events"]
        .filter(F.col("event_id") < 300)
        .select(
            "event_id",
            F.array_join(F.array_sort(F.map_keys(merged)), ",").alias("merged_keys"),
            F.element_at(merged, "extra").alias("extra_val"),
            F.element_at(obj, "k").alias("k_subscript"),
        )
    )


@query(
    "interval_column_ops",
    oracle="""
    WITH iv AS (
      SELECT event_id, event_type,
             CAST(event_id % 5 AS INTEGER) AS m,
             CAST(user_id % 20 AS INTEGER) AS d,
             CAST(FLOOR(value) AS BIGINT) * 1000000 AS us
      FROM events WHERE event_id < 2000
    )
    SELECT event_type,
           CAST(SUM(m) AS INTEGER) AS sum_months,
           CAST(SUM(d) AS INTEGER) AS sum_days,
           CAST(SUM(us) AS BIGINT) AS sum_micros,
           CAST(COUNT(*) FILTER (WHERE m * 2592000000000 + d * 86400000000 + us
                                  > 45 * 86400000000) AS BIGINT) AS n_longer_45d,
           CAST(MAX(m * 2592000000000 + d * 86400000000 + us) AS BIGINT) AS max_norm_us
    FROM iv GROUP BY event_type
    """,
)
def interval_column_ops(spark, sf_dir):
    """Interval COLUMN semantics end-to-end
    (``types/IntervalType.java:38``, ``io/crate/interval/``,
    ``impl/IntervalSumAggregation.java``): intervals are
    struct<months,days,micros>; comparison normalizes months->30d,
    days->24h (PG justification, IntervalType.compareTo); SUM is
    field-wise. The oracle reproduces the identical arithmetic on the
    struct fields — DuckDB's native INTERVAL would normalize
    differently, so the fields are compared raw."""
    from crate_spark.functions.scalar import (
        interval_make,
        interval_sum,
        interval_total_micros,
    )

    t = load_tables(spark, sf_dir)
    ev = t["events"].filter(F.col("event_id") < 2000)
    # floor, not cast: double->bigint CAST truncates in Spark but
    # rounds in DuckDB — floor pins identical semantics in both
    iv = interval_make(
        F.col("event_id") % 5,
        F.col("user_id") % 20,
        F.floor(F.col("value")) * 1_000_000,
    )
    base = ev.select("event_type", iv.alias("iv"))
    summed = interval_sum(F.col("iv"))
    norm = interval_total_micros(F.col("iv"))
    threshold = interval_total_micros(interval_make(0, 45, 0))
    return (
        base.groupBy("event_type")
        .agg(
            summed["months"].alias("sum_months"),
            summed["days"].alias("sum_days"),
            summed["micros"].alias("sum_micros"),
            F.count_if(norm > threshold).alias("n_longer_45d"),
            F.max(norm).alias("max_norm_us"),
        )
    )


@query(
    "scalar_to_char",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS iso_fmt,
           strftime(ts, '%d/%m/%Y') AS euro_date,
           strftime(ts, '%b') AS mon_abbrev,
           strftime(ts, '%H') || 'h' AS hour_label
    FROM events WHERE event_id < 400
    """,
)
def scalar_to_char(spark, sf_dir):
    """to_char(timestamp, template) — PG format templates translated at
    plan time to date_format patterns (ToCharFunction.java subset)."""
    from crate_spark.functions.scalar import to_char

    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .filter(F.col("event_id") < 400)
        .select(
            "event_id",
            to_char("ts", "YYYY-MM-DD HH24:MI:SS").alias("iso_fmt"),
            to_char("ts", "DD/MM/YYYY").alias("euro_date"),
            to_char("ts", "Mon").alias("mon_abbrev"),
            F.concat(to_char("ts", "HH24"), F.lit("h")).alias("hour_label"),
        )
    )


@query(
    "scalar_blake3",
    oracle="""
    SELECT v,
           CASE v
             WHEN '' THEN
               'af1349b9f5f9a1a6a0404dea36dcc9499bcb25c9adc112b7cc9a93cae41f3262'
             WHEN 'crate' THEN
               '012efcab3db1a63a5d50510e48f1fbf3ac26dbd28a3cec099457eff5fefa96aa'
             WHEN '©rate' THEN
               '7e60e9aec3049dd63fc695ea89fc20ae8abe5ea32388a5a60cf08d97b9e25ff4'
             WHEN 'foo' THEN
               '04e0bb39f30b1a3feb89f536c93be15055482df748674b00d26e5a75777702e9'
           END AS h
    FROM (VALUES (''), ('crate'), ('©rate'), ('foo')) t(v)
    """,
)
def scalar_blake3(spark, sf_dir):
    """blake3(text) hex digest (HashFunctions.java:43,61). The oracle
    digests are externally sourced — the reference's own test vectors
    (HashFunctionsTest.java:42-44) and docs example
    (scalar-functions.rst:401) — so the check is independent of this
    repo's implementation; multi-block/multi-chunk inputs are
    cross-validated against the JVM commons-codec Blake3 in
    tests/test_functions.py."""
    from crate_spark.functions.scalar import blake3

    df = local_frame(
        spark, [("",), ("crate",), ("©rate",), ("foo",)], "v string"
    )
    return df.select("v", blake3("v").alias("h"))
