"""Tier H — scalar function families (SURVEY.md §2 tier H).

One projection query per family; everything is a built-in Column
expression, so the whole tier runs inside whole-stage codegen with zero
Python on the executor path — these are the functions every real query
touches, and they must be JVM-side at 100 TB.

Cross-engine pins (SURVEY §5.4 R4):
- Spark ``dayofweek`` is 1=Sunday; DuckDB's is 0=Sunday → oracle adds 1.
- Spark ``regexp_replace`` replaces ALL matches; DuckDB needs the 'g' flag.
- Spark ``floor``/``ceil`` on double return BIGINT; DuckDB returns double
  → both cast to BIGINT.
- DuckDB has no ``pmod`` → oracle spells ``((x % n) + n) % n``.
- Derived DATE values are projected as strings in both engines (pandas
  date-vs-datetime dtype ambiguity in the driver's canonicalizer).
- No raw ArrayType/MapType output, ever — arrays are joined to strings,
  maps are projected as extracted scalars (round-1 rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sqlengine_spark.functions import dround
from sqlengine_spark.registry import query
from sqlengine_spark.session import load_tables, table


@query(
    "h_str_basic",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                       AS up,
           lower(p_brand)                      AS lo,
           trim(concat('  ', p_name, ' '))    AS trimmed,
           substring(p_name, 1, 4)             AS sub4,
           concat(p_brand, ':', p_name)        AS cat,
           concat_ws('-', p_brand, p_type)     AS catws,
           length(p_name)                      AS len,
           lpad(p_brand, 12, '*')              AS lp,
           rpad(p_brand, 12, '*')              AS rp,
           reverse(p_name)                     AS rev,
           left(p_name, 3)                     AS l3,
           right(p_name, 3)                    AS r3
    FROM part
    """,
)
def h_str_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.substring("p_name", 1, 4).alias("sub4"),
        F.concat("p_brand", F.lit(":"), "p_name").alias("cat"),
        F.concat_ws("-", "p_brand", "p_type").alias("catws"),
        F.length("p_name").alias("len"),
        F.lpad("p_brand", 12, "*").alias("lp"),
        F.rpad("p_brand", 12, "*").alias("rp"),
        F.reverse("p_name").alias("rev"),
        F.left("p_name", F.lit(3)).alias("l3"),
        F.right("p_name", F.lit(3)).alias("r3"),
    )


@query(
    "h_str_regex",
    oracle="""
    SELECT p_partkey,
           CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS INT) AS brand_no,
           regexp_replace(p_name, ' ', '_', 'g')              AS snake,
           string_split(p_name, ' ')[1]                       AS first_tok,
           strpos(p_name, 'e')                                AS pos_e,
           starts_with(p_name, 'red')                         AS is_red,
           ends_with(p_name, 'bolt')                          AS is_bolt
    FROM part
    """,
)
def h_str_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"#(\d+)", 1).cast("int").alias("brand_no"),
        F.regexp_replace("p_name", " ", "_").alias("snake"),
        F.element_at(F.split("p_name", " "), 1).alias("first_tok"),
        F.instr("p_name", "e").alias("pos_e"),
        F.col("p_name").startswith("red").alias("is_red"),
        F.col("p_name").endswith("bolt").alias("is_bolt"),
    )


@query(
    "h_date_parts",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                           AS y,
           month(o_orderdate)                          AS m,
           day(o_orderdate)                            AS d,
           dayofweek(o_orderdate) + 1                  AS dow,
           quarter(o_orderdate)                        AS q,
           CAST(date_trunc('month', o_orderdate) AS VARCHAR) AS mon_start,
           CAST(last_day(o_orderdate::DATE) AS VARCHAR) AS mon_end,
           CAST(epoch(o_orderdate) AS BIGINT)          AS epoch_s
    FROM orders
    """,
)
def h_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction. Pin: Spark dayofweek is 1=Sunday, DuckDB's
    is 0=Sunday (oracle adds 1). last_day yields a DATE → stringified
    both sides."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.quarter("o_orderdate").alias("q"),
        # DuckDB's date_trunc('month') yields DATE, Spark's a TIMESTAMP —
        # stringify via DATE on both sides (derived-date rule)
        F.date_trunc("month", "o_orderdate").cast("date").cast("string").alias(
            "mon_start"
        ),
        F.last_day("o_orderdate").cast("string").alias("mon_end"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@query(
    "h_date_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate::DATE + 30 AS VARCHAR)                    AS plus30,
           date_diff('day', o_orderdate, TIMESTAMP '1995-06-01')      AS to_mid95,
           CAST((o_orderdate::DATE + INTERVAL 2 MONTH)::DATE AS VARCHAR) AS plus2mo,
           (1995 - year(o_orderdate)) * 12 + (6 - month(o_orderdate)) AS mo_diff,
           o_orderdate - INTERVAL 1 DAY                               AS minus1d
    FROM orders
    """,
)
def h_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic. months_between has engine-specific fractional
    semantics, so the month difference is pinned to explicit
    year*12+month arithmetic in both engines."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_add(F.col("o_orderdate").cast("date"), 30)
        .cast("string")
        .alias("plus30"),
        F.datediff(F.lit("1995-06-01").cast("timestamp"), "o_orderdate").alias(
            "to_mid95"
        ),
        F.add_months(F.col("o_orderdate").cast("date"), 2)
        .cast("string")
        .alias("plus2mo"),
        (
            (F.lit(1995) - F.year("o_orderdate")) * 12
            + (F.lit(6) - F.month("o_orderdate"))
        ).alias("mo_diff"),
        (F.col("o_orderdate") - F.expr("INTERVAL 1 DAY")).alias("minus1d"),
    )


@query(
    "h_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_quantity - 25)                              AS a,
           ROUND(l_extendedprice * 10, 0) / 10               AS r1,
           CAST(floor(l_extendedprice) AS BIGINT)            AS fl,
           CAST(ceil(l_extendedprice) AS BIGINT)             AS ce,
           pow(l_quantity, 2)                                AS p2,
           ROUND(sqrt(l_extendedprice) * 1e6, 0) / 1e6       AS sq,
           ROUND(ln(l_extendedprice) * 1e6, 0) / 1e6         AS lnp,
           ROUND(log10(l_extendedprice) * 1e6, 0) / 1e6      AS lg,
           ROUND(exp(l_discount) * 1e6, 0) / 1e6             AS ex,
           CAST(sign(l_quantity - 25) AS INT)                AS sg,
           ((CAST(l_partkey - 1000 AS BIGINT) % 7) + 7) % 7  AS pm,
           greatest(l_quantity, l_extendedprice / 1000)      AS gr,
           least(l_quantity, l_extendedprice / 1000)         AS le
    FROM lineitem
    """,
)
def h_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family. Pins: floor/ceil cast to BIGINT (Spark returns long,
    DuckDB double); sign cast to INT; pmod spelled out in DuckDB; libm
    functions rounded to 6 significant decimals via the dround scheme."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("a"),
        dround(F.col("l_extendedprice"), 1).alias("r1"),
        F.floor("l_extendedprice").alias("fl"),
        F.ceil("l_extendedprice").alias("ce"),
        F.pow("l_quantity", F.lit(2)).alias("p2"),
        dround(F.sqrt("l_extendedprice"), 6).alias("sq"),
        dround(F.log("l_extendedprice"), 6).alias("lnp"),
        dround(F.log10("l_extendedprice"), 6).alias("lg"),
        dround(F.exp("l_discount"), 6).alias("ex"),
        F.signum(F.col("l_quantity") - 25).cast("int").alias("sg"),
        F.pmod(F.col("l_partkey").cast("long") - 1000, F.lit(7)).alias("pm"),
        F.greatest("l_quantity", F.col("l_extendedprice") / 1000).alias("gr"),
        F.least("l_quantity", F.col("l_extendedprice") / 1000).alias("le"),
    )


@query(
    "h_cond_case",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'big'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'small' END                              AS bucket,
           CASE o_orderstatus WHEN 'F' THEN 'final'
                              WHEN 'O' THEN 'open'
                              ELSE 'other' END                AS status_word,
           coalesce(nullif(o_orderpriority, '5-LOW'), 'LOWEST') AS prio,
           ifnull(nullif(o_orderstatus, 'P'), 'was_P')          AS not_p
    FROM orders
    """,
)
def h_cond_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "big")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("small")
        .alias("bucket"),
        F.when(F.col("o_orderstatus") == "F", "final")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("other")
        .alias("status_word"),
        F.coalesce(F.nullif("o_orderpriority", F.lit("5-LOW")), F.lit("LOWEST")).alias(
            "prio"
        ),
        F.ifnull(F.nullif("o_orderstatus", F.lit("P")), F.lit("was_P")).alias("not_p"),
    )


@query(
    "h_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS dec2,
           CAST(trunc(o_totalprice) AS INT)            AS as_int,
           CAST(o_orderkey AS DOUBLE)                  AS as_dbl,
           CAST(o_orderkey AS VARCHAR)                 AS as_str,
           CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS roundtrip,
           CAST(o_orderdate::DATE AS VARCHAR)          AS as_date_str,
           CAST(o_totalprice AS VARCHAR)               AS price_str
    FROM orders
    """,
)
def h_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast matrix. Pins (both measured): Spark's double→INT truncates
    toward zero while DuckDB's rounds → oracle wraps in trunc(); DECIMAL
    survives the cast but is projected as VARCHAR because pandas-side
    canonicalizers widen DECIMAL back to float."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(12,2)").cast("string").alias("dec2"),
        F.col("o_totalprice").cast("int").alias("as_int"),
        F.col("o_orderkey").cast("double").alias("as_dbl"),
        F.col("o_orderkey").cast("string").alias("as_str"),
        F.col("o_orderkey").cast("string").cast("bigint").alias("roundtrip"),
        F.col("o_orderdate").cast("date").cast("string").alias("as_date_str"),
        F.col("o_totalprice").cast("string").alias("price_str"),
    )


@query(
    "h_array_funcs",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                          AS n_tok,
           list_contains(string_split(text, ' '), 'data')        AS has_data,
           string_split(text, ' ')[3]                            AS tok3,
           array_to_string(
               list_slice(list_sort(list_distinct(string_split(text, ' '))), 1, 5),
               ',')                                              AS first5
    FROM documents
    """,
)
def h_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family over tokenized text. Arrays never reach the output —
    they are reduced to scalars or joined to strings (round-1 rule)."""
    d = table(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(arr).alias("n_tok"),
        F.array_contains(arr, "data").alias("has_data"),
        F.element_at(arr, 3).alias("tok3"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(arr)), 1, 5), ",").alias(
            "first5"
        ),
    )


@query(
    "h_explode",
    oracle="""
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def h_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral view: explode tokens then count per token. explode is a
    generator inside the scan stage — no shuffle until the groupBy, and
    the partial agg collapses each partition to |vocab| rows first."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "h_map_funcs",
    oracle="""
    SELECT event_id, event_type AS mtype, CAST(user_id AS VARCHAR) AS muid
    FROM events
    """,
)
def h_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a map and read scalars back out. Only the extracted scalars
    are projected (SURVEY §2 tier-H pin: Spark MapType and DuckDB MAP
    hash differently); the oracle states the expected values directly."""
    ev = table(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
    )
    return ev.select(
        "event_id",
        F.element_at(m, "type").alias("mtype"),
        F.element_at(m, "uid").alias("muid"),
    )


@query(
    "h_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           json_extract_string(props, '$.missing')        AS missing
    FROM events
    """,
)
def h_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string extraction: present key as INT, absent key as
    NULL."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.get_json_object("props", "$.missing").alias("missing"),
    )


@query(
    "h_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_partkey & 255   AS b_and,
           l_partkey | 7     AS b_or,
           xor(l_partkey, 9) AS b_xor,
           l_partkey << 2    AS b_shl,
           l_partkey >> 3    AS b_shr,
           ~l_partkey        AS b_not
    FROM lineitem
    """,
)
def h_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family — the fast path for flag columns and hash
    bucketing (SimHash banding uses exactly these)."""
    li = table(spark, sf_dir, "lineitem")
    pk = F.col("l_partkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        pk.bitwiseAND(F.lit(255)).alias("b_and"),
        pk.bitwiseOR(F.lit(7)).alias("b_or"),
        pk.bitwiseXOR(F.lit(9)).alias("b_xor"),
        F.shiftleft(pk, 2).alias("b_shl"),
        F.shiftright(pk, 3).alias("b_shr"),
        F.bitwise_not(pk).alias("b_not"),
    )


@query(
    "h_hash_funcs",
    oracle="""
    SELECT doc_id,
           md5(text)          AS h_md5,
           sha256(text)       AS h_sha,
           length(md5(text))  AS md5_len
    FROM documents
    """,
)
def h_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("h_md5"),
        F.sha2("text", 256).alias("h_sha"),
        F.length(F.md5("text")).alias("md5_len"),
    )


@query(
    "h_struct_funcs",
    oracle="""
    SELECT o_orderkey,
           struct_pack(status := o_orderstatus,
                       price := o_totalprice).status AS s_status,
           struct_pack(status := o_orderstatus,
                       price := o_totalprice).price AS s_price,
           CASE WHEN struct_pack(k := o_custkey) = struct_pack(k := o_custkey)
                THEN 1 ELSE 0 END AS eq_self
    FROM orders
    WHERE o_orderkey < 1000
    ORDER BY o_orderkey
    """,
)
def h_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct construction, field access, and struct equality — the
    nested-type surface (projection rule: only SCALAR fields reach the
    output, never the raw struct, per the array/map serialization pin).

    Scale: pure codegen expressions; structs are columnar in Tungsten
    (no boxing), so pack/extract is free at any volume.
    """
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    st = F.struct(
        F.col("o_orderstatus").alias("status"), F.col("o_totalprice").alias("price")
    )
    kst = F.struct(F.col("o_custkey").alias("k"))
    return o.select(
        "o_orderkey",
        st.getField("status").alias("s_status"),
        st.getField("price").alias("s_price"),
        F.when(kst == kst, 1).otherwise(0).alias("eq_self"),
    ).orderBy("o_orderkey")


@query(
    "h_str_fuzzy",
    oracle="""
    SELECT c_custkey,
           levenshtein(c_mktsegment, 'MACHINERY')          AS lev_seg,
           translate(c_name, '0123456789', 'ABCDEFGHIJ')   AS tr_name,
           repeat(substring(c_name, 1, 2), 3)              AS rep2x3,
           ascii(substring(c_mktsegment, 1, 1))            AS seg_ascii,
           split_part(c_name, '#', 2)                      AS name_no
    FROM customer
    """,
)
def h_str_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy/edit-distance string family: levenshtein (the building
    block of fuzzy matching — used at scale by l_dedup_fuzzy's blocked
    join), translate, repeat, ascii, and delimiter-part extraction
    (Spark ``substring_index(s, d, -1)`` ≡ DuckDB ``split_part(s, d, 2)``
    for a single-delimiter string — probed equal on the fixture).

    Scale: pure codegen expressions, zero marginal cost. Levenshtein is
    O(len²) per row — at 100 TB it belongs behind a blocking key
    (see l_dedup_fuzzy), never in an unblocked join predicate."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.levenshtein("c_mktsegment", F.lit("MACHINERY")).alias("lev_seg"),
        F.translate("c_name", "0123456789", "ABCDEFGHIJ").alias("tr_name"),
        F.repeat(F.substring("c_name", 1, 2), 3).alias("rep2x3"),
        F.ascii(F.substring("c_mktsegment", 1, 1)).alias("seg_ascii"),
        F.substring_index("c_name", "#", -1).alias("name_no"),
    )


@query(
    "h_date_format",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y%m%d') AS ymd,
           strftime(o_orderdate, '%Y/%m')  AS ym,
           strftime(o_orderdate, '%j')     AS doy,
           'Q' || CAST(quarter(o_orderdate) AS VARCHAR) AS qtr
    FROM orders
    """,
)
def h_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime-to-string formatting (Spark SimpleDateFormat-style
    patterns ↔ DuckDB strftime): compact date, year/month, zero-padded
    day-of-year, and a quarter label. Locale-dependent patterns (month
    and weekday NAMES) are deliberately excluded — the grading driver's
    JVM locale is unknown, and 'MMM' would silently diverge on a non-en
    host; everything here is numeric and locale-free.

    Scale: codegen expressions in the scan projection."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyyMMdd").alias("ymd"),
        F.date_format("o_orderdate", "yyyy/MM").alias("ym"),
        F.date_format("o_orderdate", "DDD").alias("doy"),
        F.concat(F.lit("Q"), F.quarter("o_orderdate").cast("string")).alias("qtr"),
    )


@query(
    "h_higher_order",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split(lower(text), ' '),
                           t -> length(t) > 5))                    AS n_long,
           CAST(list_aggregate(list_transform(string_split(lower(text), ' '),
                                              t -> length(t)), 'sum')
                AS BIGINT)                                         AS total_len,
           list_contains(string_split(lower(text), ' '), 'data')   AS has_data,
           COALESCE(array_to_string(list_slice(list_sort(list_distinct(
               list_filter(string_split(lower(text), ' '),
                           t -> length(t) > 5))), 1, 3), ','), '') AS top3_long
    FROM documents
    """,
)
def h_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — lambda filter / transform / fold
    (Spark ``filter``/``transform``/``aggregate`` ≡ DuckDB
    ``list_filter``/``list_transform``/``list_aggregate``): count of
    long tokens, folded total token length, membership test, and the
    first 3 distinct long tokens (serialized per the array rule).

    Scale: higher-order expressions run INSIDE codegen over the array
    value in place — no explode, no shuffle, no UDF; this is the
    zero-cost way to do per-row collection work at 100 TB (the explode
    alternative multiplies the row count by ~tokens-per-doc)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    long_toks = F.filter(toks, lambda t: F.length(t) > 5)
    return d.select(
        "doc_id",
        F.size(long_toks).alias("n_long"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, b: a + b
        )
        .cast("bigint")
        .alias("total_len"),
        F.array_contains(toks, "data").alias("has_data"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(long_toks)), 1, 3), ",")
        .alias("top3_long"),
    )


@query(
    "h_try_funcs",
    oracle="""
    SELECT p_partkey,
           TRY_CAST(CASE WHEN p_size % 3 = 0 THEN CAST(p_size AS VARCHAR)
                         ELSE p_name END AS INT)              AS maybe_int,
           ROUND(p_retailprice / (p_size - 25) * 100, 0) / 100 + 0
                                                              AS safe_ratio,
           string_split(p_name, ' ')[5]                       AS token5
    FROM part
    """,
)
def h_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression family — the ANSI-mode escape hatches:
    ``try_cast`` on a column that mixes parseable and unparseable
    strings, ``try_divide`` with a denominator that hits zero (p_size =
    25 rows), and ``try_element_at`` past the end of a token array.
    Spark 4 runs ANSI mode by default, where the plain operators THROW
    on these inputs — a 100 TB job that dies 6 hours in on one bad row
    is the failure mode this family exists to prevent. DuckDB pins:
    ``TRY_CAST`` is 1:1; double division by zero yields NULL (measured:
    ``1.0/0.0 -> NULL``), matching try_divide; list indexing past the
    end yields NULL, matching try_element_at.

    Scale: pure codegen expressions in the scan projection — no
    shuffle, no UDF, and (the point) no task retry storms from ANSI
    exceptions on dirty data."""
    p = table(spark, sf_dir, "part")
    mixed = F.when(
        F.col("p_size") % 3 == 0, F.col("p_size").cast("string")
    ).otherwise(F.col("p_name"))
    return p.select(
        "p_partkey",
        F.expr(
            "try_cast(CASE WHEN p_size % 3 = 0 THEN CAST(p_size AS STRING) "
            "ELSE p_name END AS INT)"
        ).alias("maybe_int"),
        dround(F.try_divide(F.col("p_retailprice"), F.col("p_size") - 25), 2)
        .alias("safe_ratio"),
        F.try_element_at(F.split("p_name", " "), F.lit(5)).alias("token5"),
    )


@query(
    "h_url_funcs",
    oracle="""
    WITH u AS (
        SELECT n_nationkey,
               'https://' || regexp_replace(lower(n_name), '[^a-z]', '', 'g')
                   || '.example.com/nation/' || CAST(n_nationkey AS VARCHAR)
                   || '?region=' || CAST(n_regionkey AS VARCHAR) || '&lang=en'
               AS url
        FROM nation
    )
    SELECT n_nationkey,
           regexp_extract(url, 'https?://([^/]+)', 1)       AS host,
           regexp_extract(url, '://[^/]+(/[^?#]*)', 1)      AS path,
           regexp_extract(url, '\\?(.*)$', 1)               AS query,
           regexp_extract(url, '[?&]region=([^&#]*)', 1)    AS region_param
    FROM u
    """,
)
def h_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing (``parse_url`` HOST / PATH / QUERY / keyed QUERY
    param) over synthesized-but-deterministic URLs — the provenance
    column every web-crawl corpus carries; host extraction is the key
    of per-domain dedup and domain-mix curation. The oracle states the
    same ground truth via anchored regexp_extract (DuckDB has no URL
    parser); hostnames are sanitized to [a-z] so Java's URI parser and
    the regex agree on every row.

    Scale: codegen string expressions in the projection — no shuffle;
    at 100 TB this runs inside the scan exactly like any other scalar."""
    n = table(spark, sf_dir, "nation")
    url = F.concat(
        F.lit("https://"),
        F.regexp_replace(F.lower("n_name"), "[^a-z]", ""),
        F.lit(".example.com/nation/"),
        F.col("n_nationkey").cast("string"),
        F.lit("?region="),
        F.col("n_regionkey").cast("string"),
        F.lit("&lang=en"),
    )
    u = n.select("n_nationkey", url.alias("url"))
    return u.select(
        "n_nationkey",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("region")).alias("region_param"),
    )


@query(
    "h_sql_params",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 400000.0 AND o_orderstatus = 'F'
    """,
)
def h_sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAMETERIZED SQL (named-parameter binding, ``spark.sql(query,
    args=...)``): values travel to the engine as TYPED literals, never
    as interpolated text — the injection-safe client API, and the fix
    class for a real cross-engine bug this repo hit: a float threshold
    serialized as SQL text (``0.09999999999999999``) parses to a
    DIFFERENT double in an engine that types bare decimal literals as
    DECIMAL (DuckDB) than in one that parses to double (Spark/Python),
    silently flipping boundary comparisons (round-3 property-test
    finding; tests/test_property.py fuzzes the class). Binding the
    value as a parameter sidesteps text parsing entirely. The oracle
    writes the same constants as literals — safe HERE because 400000.0
    is exactly representable; the operator exists so callers never
    have to reason about which literals are.

    Scale: parameter binding is plan-side metadata (Catalyst folds the
    literal); identical plan to the hand-written filter, pushdown
    included."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        """,
        args={"min_price": 400000.0, "status": "F"},
    )


@query(
    "h_xml_funcs",
    oracle="""
    SELECT r_regionkey,
           r_name AS x_name,
           CAST(r_regionkey * 10 AS BIGINT) AS x_score,
           CAST(len(string_split(r_name, '_')) AS INT) AS n_parts
    FROM region
    """,
)
def h_xml_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML extraction (``xpath_string`` / ``xpath_long`` / ``xpath``) —
    the scalar family for XML-bearing columns (feeds, SOAP payloads,
    config blobs), exercised the only honest way available without an
    XML fixture column: each row CONSTRUCTS a document from its own
    values, the xpath functions extract them back, and the oracle
    states the expected values from the source columns directly — so
    the check verifies real build→parse→extract round-trips, not
    pre-agreed constants. ``xpath`` (node-set) returns an array,
    projected as its size (rule 2: never raw arrays).

    Scale: per-row codegen string build + an XML parse per row — the
    parse is the cost, same class as from_json (h_json_extract); at
    100 TB you parse once and materialize the extracted columns, never
    re-parse per query."""
    r = table(spark, sf_dir, "region")
    xml = F.concat(
        F.lit("<region><name>"),
        F.col("r_name"),
        F.lit("</name><score>"),
        (F.col("r_regionkey") * 10).cast("string"),
        F.lit("</score><parts>"),
        F.concat_ws(
            "", F.transform(
                F.split("r_name", "_"),
                lambda p: F.concat(F.lit("<p>"), p, F.lit("</p>")),
            )
        ),
        F.lit("</parts></region>"),
    )
    return r.select(
        "r_regionkey",
        F.xpath_string(xml, F.lit("/region/name")).alias("x_name"),
        F.xpath_long(xml, F.lit("/region/score")).alias("x_score"),
        F.size(F.xpath(xml, F.lit("/region/parts/p/text()"))).alias("n_parts"),
    )


@query(
    "h_variant_funcs",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')::INT AS k,
           CAST(NULL AS VARCHAR) AS miss,
           (json_extract_string(props, '$.k')::INT >= 50) AS k_high,
           'BIGINT' AS k_type
    FROM events
    """,
)
def h_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT — the open-lakehouse semi-structured type
    (binary-encoded, schema-on-read, ~8× faster to path-extract than
    re-parsing JSON strings): ``parse_json`` ingests the props column
    ONCE into a variant, then ``variant_get`` extracts typed paths,
    ``try_variant_get`` returns NULL on missing paths instead of
    failing, and ``schema_of_variant`` reports the value's runtime
    type. The oracle states the same typed extractions with DuckDB's
    JSON functions — VARIANT must agree with the JSON-text semantics
    it replaces (h_json_extract is the string-path sibling).

    Scale: the parse happens once per row (and in a real table the
    column is STORED as variant, so queries skip parsing entirely —
    shredded sub-columns even restore columnar pruning); path
    extraction is codegen over the binary encoding. This is how
    events-with-evolving-payloads avoid both schema migration and
    per-query JSON re-parsing at 100 TB."""
    ev = table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k"),
        F.try_variant_get(v, "$.missing", "string").alias("miss"),
        (F.variant_get(v, "$.k", "int") >= 50).alias("k_high"),
        F.schema_of_variant(F.variant_get(v, "$.k", "variant")).alias("k_type"),
    )


@query(
    "h_sql_pipe",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(o_totalprice) * 100, 0) / 100 AS revenue,
           COUNT(*) AS n
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def h_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE syntax (``|>`` — SQL has pipes now, the
    GoogleSQL/ZetaSQL linear composition surface adopted in Spark
    4.0): the query reads top-to-bottom as a dataflow — FROM, then
    ``|> WHERE``, then ``|> AGGREGATE ... GROUP BY``, then
    ``|> ORDER BY`` — instead of the inside-out nesting of classic
    SELECT. Each pipe stage is sugar for the same logical operator, so
    Catalyst plans it IDENTICALLY to the classic form the oracle
    states: filter pushed to the scan, partial+final hash aggregate,
    bounded sort on the 5 priority groups. Zero marginal runtime cost;
    pure surface parity with engines adopting the pipe dialect."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE ROUND(SUM(o_totalprice) * 100) / 100 AS revenue,
                     COUNT(*) AS n
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, revenue, n
        |> ORDER BY o_orderpriority
        """
    )


@query(
    "h_collation",
    oracle="""
    WITH mangled AS (
        SELECT CASE WHEN n_nationkey % 2 = 0 THEN lower(n_name)
                    ELSE upper(n_name) END AS name,
               n_regionkey
        FROM nation
    )
    SELECT lower(name) AS k, COUNT(*) AS n,
           CAST(SUM(CASE WHEN lower(name) = lower('NATION_1')
                         THEN 1 ELSE 0 END) AS BIGINT) AS ci_hits
    FROM mangled GROUP BY lower(name)
    """,
)
def h_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string COLLATION: comparisons, equality and GROUP BY
    under ``COLLATE UNICODE_CI`` are case-insensitive WITHOUT rewriting
    every expression through lower() — the engine owns the comparison
    semantics (and at 100 TB, collation-aware grouping hashes the
    collation key directly instead of materializing a lowered copy of
    the column). The fixture case-mangles nation names (even keys
    lowered, odd upper), groups by the collated value, and counts
    case-insensitive equality hits against a differently-cased literal.

    Cross-engine determinism: a UNICODE_CI group keeps an ARBITRARY
    representative's casing, so the output key is canonicalized with
    lower() on BOTH engines; the oracle states the same semantics via
    DuckDB lower() (equivalent for this ASCII fixture — the operator
    exists because lower() is NOT equivalent in general: UNICODE_CI
    handles full case folding the lower() rewrite misses)."""
    n = table(spark, sf_dir, "nation")
    mangled = n.select(
        F.when(F.col("n_nationkey") % 2 == 0, F.lower("n_name"))
        .otherwise(F.upper("n_name"))
        .alias("name"),
        "n_regionkey",
    )
    ci = F.collate("name", "UNICODE_CI")
    return (
        mangled.groupBy(ci.alias("grp"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(ci == F.lit("NATION_1"), 1).otherwise(0)
            ).alias("ci_hits"),
        )
        .select(F.lower(F.col("grp")).alias("k"), "n", "ci_hits")
    )


@query(
    "h_interval_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS VARCHAR) AS d,
           CAST(o_orderdate + INTERVAL 1 MONTH + INTERVAL 14 DAY
                AS VARCHAR) AS due,
           CAST(o_orderdate + INTERVAL 18 MONTH AS VARCHAR) AS review,
           CAST(last_day(o_orderdate) AS VARCHAR) AS month_end,
           datediff('day', DATE '1995-01-01', o_orderdate) AS age_days,
           (o_orderdate + INTERVAL 1 MONTH
              = last_day(o_orderdate + INTERVAL 1 MONTH)) AS clamped
    FROM orders
    WHERE o_orderkey % 97 = 0
    """,
)
def h_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI INTERVAL arithmetic (year-month and day-time intervals,
    their composition with dates, end-of-month clamping): due dates,
    review horizons, month-end alignment — the calendar algebra every
    billing/SLA query needs. Both engines clamp month addition at
    month end (Jan 31 + 1 month = Feb 28/29) — the ``clamped`` flag
    exposes exactly those rows so the semantics are pinned, not
    assumed. Derived dates project as strings (CLAUDE.md rule 3);
    datediff day counts are exact integers.

    Scale: pure codegen date arithmetic in the scan projection; the
    modulus predicate is pushed down. Zero shuffles."""
    o = table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        F.col("o_orderdate").cast("string").alias("d"),
        F.expr("o_orderdate + INTERVAL 1 MONTH + INTERVAL 14 DAY")
        .cast("string")
        .alias("due"),
        F.expr("o_orderdate + INTERVAL '1-6' YEAR TO MONTH")
        .cast("string")
        .alias("review"),
        F.last_day("o_orderdate").cast("string").alias("month_end"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .alias("age_days"),
        F.expr(
            "o_orderdate + INTERVAL 1 MONTH"
            " = last_day(o_orderdate + INTERVAL 1 MONTH)"
        ).alias("clamped"),
    )


@query(
    "h_sql_identifier",
    oracle="""
    SELECT o_orderpriority AS k, COUNT(*) AS n,
           ROUND(SUM(o_totalprice) * 100, 0) / 100 AS total
    FROM orders GROUP BY o_orderpriority
    """,
)
def h_sql_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IDENTIFIER(:param)`` — parameterized TABLE AND COLUMN names
    (Spark 3.5+/4): the safe way to template "same rollup, different
    table/column" jobs. String-interpolated identifiers are the #1 SQL
    injection vector in generated pipelines; IDENTIFIER binds through
    the parameter channel and the analyzer enforces that the value is
    a lone identifier, not an expression. Pairs with h_sql_params
    (value parameters) to make generated SQL fully injection-free.

    Scale: resolved at analysis time — the plan is byte-identical to
    the hand-written query (partial+final agg here); zero runtime
    cost."""
    load_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT IDENTIFIER(:key_col) AS k, COUNT(*) AS n,
               ROUND(SUM(IDENTIFIER(:val_col)) * 100) / 100 AS total
        FROM IDENTIFIER(:tbl) GROUP BY IDENTIFIER(:key_col)
        """,
        args={
            "key_col": "o_orderpriority",
            "val_col": "o_totalprice",
            "tbl": "orders",
        },
    )


@query(
    "h_mask",
    oracle="""
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(c_name,
               '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
               AS masked_default,
           regexp_replace(c_name, '[0-9]', '*', 'g') AS masked_digits,
           concat(substring(c_name, 1, 9),
                  regexp_replace(substring(c_name, 10),
                                 '[0-9]', 'n', 'g')) AS masked_tail
    FROM customer
    """,
)
def h_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data masking (``mask()``, Spark 3.4+) — the column-level PII
    redaction governance layers apply at query time: default masking
    (upper→X, lower→x, digit→n), digit-only masking with a custom
    replacement char, and partial masking that preserves a prefix
    (format-preserving redaction: analysts keep the 'Customer#' shape
    and lose the identifier). The oracle states the same
    transformations as regexp chains — mask() is the single-pass,
    codegen-friendly spelling (one scan of the string vs one regex
    pass per character class, and no regex-metacharacter injection
    risk from the replacement chars).

    Scale: map-only scan projection; masking composes with column
    pruning so unmasked originals never leave the scan."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.mask("c_name").alias("masked_default"),
        F.mask(
            "c_name",
            upperChar=F.lit(None),
            lowerChar=F.lit(None),
            digitChar=F.lit("*"),
        ).alias("masked_digits"),
        F.concat(
            F.substring("c_name", 1, 9),
            F.mask(
                F.substring("c_name", 10, 2147483647),
                upperChar=F.lit(None),
                lowerChar=F.lit(None),
                digitChar=F.lit("n"),
            ),
        ).alias("masked_tail"),
    )


@query(
    "h_crypto",
    oracle="""
    SELECT doc_id,
           sha256(text) AS digest,
           md5(text) AS fingerprint,
           TRUE AS aes_roundtrip_ok,
           CAST(n_chars + 28 AS BIGINT) AS ct_len
    FROM documents
    """,
)
def h_crypto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic functions — content DIGESTS (sha2-256 for
    integrity manifests, md5 as the dedup fingerprint this repo's
    l_dedup_* tier keys on) and COLUMN-LEVEL ENCRYPTION
    (aes_encrypt/aes_decrypt, default AES-GCM): the at-rest protection
    layer for PII columns that must survive in the lake but stay
    unreadable without the key (h_mask is the redaction sibling —
    masking destroys, encryption preserves under key).

    GCM ciphertexts embed a random 96-bit IV, so the ciphertext is
    deliberately NON-deterministic (semantic security); what IS
    deterministic — and what the oracle checks — is the round-trip
    (decrypt∘encrypt ≡ identity, projected as a boolean computed from
    the REAL cipher output) and the ciphertext length (12-byte IV +
    16-byte tag + |plaintext|). Digests are bit-exact cross-engine.

    Scale: all codegen scan projections, map-only; digest-based
    manifests are how 100 TB integrity checks avoid re-reading
    content (compare 32-byte digests, not bytes)."""
    d = table(spark, sf_dir, "documents")
    ct = F.expr(
        "aes_encrypt(text, '0123456789abcdef')"
    )
    rt = F.expr(
        "cast(aes_decrypt(aes_encrypt(text, '0123456789abcdef'),"
        " '0123456789abcdef') as string)"
    )
    return d.select(
        "doc_id",
        F.sha2("text", 256).alias("digest"),
        F.md5("text").alias("fingerprint"),
        (rt == F.col("text")).alias("aes_roundtrip_ok"),
        F.length(ct).cast("bigint").alias("ct_len"),
    )


@query(
    "h_sql_variables",
    oracle="""
    WITH cut AS (
        SELECT MAX(o_orderdate) - INTERVAL 90 DAY AS cutoff FROM orders
    )
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_urgent
    FROM orders, cut
    WHERE o_orderdate > cutoff
    GROUP BY o_orderstatus
    """,
)
def h_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SESSION VARIABLES (Spark 4: ``DECLARE VARIABLE`` / ``SET
    VAR``) — the multi-statement scripting surface: a variable is
    declared, assigned from a scalar query, then referenced by a later
    statement, exactly how parameterized report scripts and procedural
    jobs thread values between statements without driver round-trips
    through Python. ``DECLARE OR REPLACE`` keeps the operator
    idempotent under repeat invocation (the variable is session-scoped
    state). The cutoff is a DATE-ARITHMETIC value (max order date − 90
    days) — pure integer-day arithmetic, so the variable's value is
    bit-identical in both engines (no float-sum threshold, CLAUDE.md
    rule 9 class); the oracle inlines the same scalar via a CTE.

    Scale: ``SET VAR`` runs the scalar subquery as its own bounded job
    and stores ONE value in the session — the later statement sees a
    literal, so the filter pushes down to the scan exactly as if
    hand-inlined (no re-evaluation, no join against the scalar)."""
    load_tables(spark, sf_dir, ("orders",))
    spark.sql("DECLARE OR REPLACE VARIABLE recent_cutoff TIMESTAMP")
    spark.sql(
        "SET VAR recent_cutoff ="
        " (SELECT MAX(o_orderdate) - INTERVAL 90 DAYS FROM orders)"
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CASE WHEN o_orderpriority LIKE '1-%' THEN 1
                             ELSE 0 END) AS BIGINT) AS n_urgent
        FROM orders
        WHERE o_orderdate > recent_cutoff
        GROUP BY o_orderstatus
        """
    )


@query(
    "h_date_names",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%b') AS mn,
           strftime(o_orderdate, '%a') AS dn,
           CASE WHEN (o_orderkey % 35) + 1
                     <= EXTRACT(day FROM last_day(o_orderdate))
                THEN make_timestamp(EXTRACT(year FROM o_orderdate)::BIGINT,
                                    EXTRACT(month FROM o_orderdate)::BIGINT,
                                    (o_orderkey % 35) + 1,
                                    12, 0, 0.0)
           END AS snapped
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def h_date_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 date-name + error-safe timestamp-construction surfaces:
    ``monthname``/``dayname`` (locale-stable 3-letter names — report
    labels without a format-string round trip) and
    ``try_make_timestamp`` (component-wise construction that yields
    NULL instead of raising on impossible dates — here day-of-month
    (orderkey % 35) + 1 deliberately overruns short months, the
    calendar edge every scheduling pipeline hits). The oracle states
    the same semantics via strftime('%b'/'%a') and a last_day() guard
    around DuckDB's raising make_timestamp.

    Scale: pure codegen scan projections — no shuffle, no UDF; the
    orderkey filter pushes to the parquet scan."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    day = (F.col("o_orderkey") % 35 + 1).cast("int")
    return o.select(
        "o_orderkey",
        F.monthname("o_orderdate").alias("mn"),
        F.dayname("o_orderdate").alias("dn"),
        F.try_make_timestamp(
            F.year("o_orderdate"),
            F.month("o_orderdate"),
            day,
            F.lit(12),
            F.lit(0),
            F.lit(0.0),
        ).alias("snapped"),
    )


@query(
    "h_sql_scripting",
    oracle="""
    WITH RECURSIVE seed AS (
        SELECT CAST(SUM(CAST(trunc(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS base
        FROM orders WHERE o_orderstatus = 'F'
    ), grow AS (
        SELECT base AS bal, 0 AS p FROM seed
        UNION ALL
        SELECT bal + bal // 20, p + 1
        FROM grow, seed WHERE bal < 2 * seed.base
    )
    SELECT seed.base AS base_cents,
           CAST(MAX(bal) AS BIGINT) AS final_cents,
           CAST(MAX(p) AS INT) AS n_periods
    FROM grow, seed GROUP BY seed.base
    """,
)
def h_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4 compound statements: ``BEGIN … END`` with
    ``DECLARE`` locals and a ``WHILE`` loop) — the procedural surface
    that lets a report express iterate-until-a-data-derived-condition
    logic entirely inside the SQL engine, no Python driver loop: seed a
    balance from an aggregate over ``orders``, compound it 5% per period
    (integer ``DIV 20`` so every step is exact BIGINT arithmetic —
    rule-9/11e float-free by construction), and count the periods until
    it doubles. The DuckDB oracle states the same fixpoint as a
    RECURSIVE CTE, so the imperative loop is hash-verified against a
    declarative formulation. The totalprice seed quantizes per-row to
    integer cents before summing (sum-order-immune in both engines).

    ``spark.sql.scripting.enabled`` is a runtime conf set INSIDE the
    operator — the grading driver's plain session defaults it off
    (CLAUDE.md rule 1 / round-5 pin 10 class).

    Scale: the aggregate SET VAR runs one bounded job over the table
    (filter + partial/final sum — the scan parallelizes normally); the
    loop itself is driver-side arithmetic on TWO scalars, zero data
    motion — exactly what scripting is for: threading scalar state
    between set-based statements without shipping a dataset anywhere.
    Iteration count is log(2)/log(1.05) ~ 15 regardless of data size.
    """
    load_tables(spark, sf_dir, ("orders",))
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql(
        """
        BEGIN
          DECLARE base BIGINT DEFAULT 0;
          DECLARE bal BIGINT DEFAULT 0;
          DECLARE p INT DEFAULT 0;
          SET base = (SELECT SUM(CAST(o_totalprice * 100 AS BIGINT))
                      FROM orders WHERE o_orderstatus = 'F');
          SET bal = base;
          WHILE bal < 2 * base DO
            SET bal = bal + bal DIV 20;
            SET p = p + 1;
          END WHILE;
          SELECT base AS base_cents, bal AS final_cents, p AS n_periods;
        END
        """
    )


@query(
    "h_sql_exec_immediate",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_big
    FROM orders GROUP BY o_orderstatus
    """,
)
def h_sql_exec_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4 dynamic SQL): the statement text
    lives in a session variable and executes with a ``USING``
    placeholder — how metadata-driven report runners and migration
    tools run SQL assembled at runtime WITHOUT string-concatenating
    values into the query (the parameter binds as a typed literal, the
    injection-safe channel h_sql_params pins for static statements).
    The oracle states the same aggregation with the parameter inlined,
    so both the dynamic dispatch AND the binding are hash-checked.

    Scale: dynamic dispatch is pure driver-side analysis — the planned
    query is byte-identical to its static spelling (same pushdown, same
    partial/final agg), zero execution-time overhead."""
    load_tables(spark, sf_dir, ("orders",))
    spark.sql("DECLARE OR REPLACE VARIABLE dyn_sql STRING")
    spark.sql(
        """SET VAR dyn_sql =
        'SELECT o_orderstatus, COUNT(*) AS n,
                CAST(SUM(CASE WHEN o_totalprice > ? THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_big
         FROM orders GROUP BY o_orderstatus'"""
    )
    return spark.sql("EXECUTE IMMEDIATE dyn_sql USING 150000")


@query(
    "h_csv_funcs",
    oracle="""
    SELECT o_orderkey,
           o_orderkey || ',' || o_orderstatus AS csv_line,
           o_orderstatus AS status_rt,
           ROUND(o_totalprice * 100, 0) / 100 AS price_rt,
           'STRUCT<_c0: INT, _c1: STRING, _c2: DOUBLE>' AS inferred
    FROM orders WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey
    """,
)
def h_csv_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV SCALAR functions (to_csv / from_csv / schema_of_csv) — the
    embedded-CSV column family: serialize a struct to a CSV line, parse
    a CSV line back into typed fields, and infer a schema from a sample
    line at plan time. This is how pipelines handle CSV-in-a-column
    feeds (message queues, log envelopes) without a file source. The
    round trip is pinned by parsing the line to_csv just built and
    hash-checking the recovered TYPED fields against the table values
    (the double rides the round trip as a parsed DOUBLE, never as its
    string rendering — Java 17's Double.toString is not guaranteed
    shortest-form, so a string-compare would be engine-trash; the
    integer/string fields ARE compared as CSV text).

    Scale: all three are codegen scalar expressions in the scan
    projection — zero shuffle, zero Python; schema_of_csv folds to a
    CONSTANT at plan time (one sample parse on the driver)."""
    o = (
        table(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") % 97) == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    line = F.to_csv(
        F.struct("o_orderkey", "o_orderstatus", "o_totalprice")
    ).alias("full_line")
    parsed = F.from_csv(
        line, F.lit("k BIGINT, s STRING, p DOUBLE")
    ).alias("p")
    return (
        o.select("o_orderkey", line, parsed)
        .select(
            "o_orderkey",
            F.concat(
                F.col("p.k").cast("string"), F.lit(","), F.col("p.s")
            ).alias("csv_line"),
            F.col("p.s").alias("status_rt"),
            dround(F.col("p.p"), 2).alias("price_rt"),
            F.schema_of_csv(F.lit("1,abc,2.5")).alias("inferred"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "h_xml_scalar",
    oracle="""
    SELECT o_orderkey,
           o_orderkey AS k_rt,
           o_orderstatus AS s_rt,
           o_orderkey AS q_rt,
           'STRUCT<k: BIGINT>' AS inferred
    FROM orders WHERE o_orderkey % 89 = 0 ORDER BY o_orderkey
    """,
)
def h_xml_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML SCALAR functions (from_xml / to_xml / schema_of_xml, Spark
    4) — the embedded-XML column family, completing the scalar
    parse/serialize trio beside h_json_extract and h_csv_funcs (the
    xpath family in h_xml_funcs extracts point values; from_xml parses
    the WHOLE envelope into a typed struct once). Two pins: an XML
    envelope built by string concat parses back to the original typed
    fields, and a to_xml→from_xml round trip recovers the value
    without ever comparing Spark's XML RENDERING as a string (element
    layout/indentation is engine-private, the same reason h_csv_funcs
    never string-compares doubles). schema_of_xml folds to a plan-time
    constant.

    Scale: codegen scalar expressions in the scan projection — no
    shuffle, no Python."""
    o = (
        table(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") % 89) == 0)
        .select("o_orderkey", "o_orderstatus")
    )
    envelope = F.concat(
        F.lit("<r><k>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</k><s>"),
        F.col("o_orderstatus"),
        F.lit("</s></r>"),
    )
    parsed = F.from_xml(envelope, F.lit("k BIGINT, s STRING"))
    rt = F.from_xml(
        F.to_xml(F.struct(F.col("o_orderkey").alias("q"))),
        F.lit("q BIGINT"),
    )
    return (
        o.select(
            "o_orderkey",
            parsed.getField("k").alias("k_rt"),
            parsed.getField("s").alias("s_rt"),
            rt.getField("q").alias("q_rt"),
            F.schema_of_xml(F.lit("<r><k>1</k></r>")).alias("inferred"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "h_sql_udf",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount))
                 * 100) / 100 + 0.0 AS revenue,
           CAST(SUM(CASE WHEN l_extendedprice * (CAST(1 AS DOUBLE)
                                                 - l_discount) > 50000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def h_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCALAR UDFs (Spark 4: ``CREATE OR REPLACE TEMPORARY FUNCTION
    ... RETURNS ... RETURN <expr>``) — reusable business logic declared
    IN SQL, not Python: a ``disc_price`` function and a ``is_high``
    predicate function (one calling the other) are defined once and
    referenced from an aggregation query, the way a metrics layer
    centralizes revenue definitions.

    The surface point: SQL UDFs are inlined into the plan by Catalyst
    (no serialization boundary, full codegen, filters still push) —
    unlike a Python UDF, ``disc_price`` costs NOTHING at any scale; the
    oracle states the hand-inlined equivalent. ``CAST(1 AS DOUBLE)``
    avoids the SQL-literal DECIMAL trap (rule 12d) in both engines.
    Revenue is 2-dp money: ROUND the SUM, then compare (rule 9).

    Scale: identical plan to the hand-written aggregation — one
    partial+final agg over the pruned scan; the function layer is
    purely a naming abstraction.
    """
    load_tables(spark, sf_dir, ("lineitem",))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE)"
        " RETURNS DOUBLE RETURN p * (CAST(1 AS DOUBLE) - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION is_high(p DOUBLE, d DOUBLE)"
        " RETURNS BOOLEAN RETURN disc_price(p, d) > 50000"
    )
    raw = spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(disc_price(l_extendedprice, l_discount)) AS revenue_raw,
               CAST(SUM(CASE WHEN is_high(l_extendedprice, l_discount)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        FROM lineitem
        GROUP BY l_returnflag
        """
    )
    return raw.select(
        "l_returnflag",
        "n",
        dround(F.col("revenue_raw"), 2).alias("revenue"),
        "n_high",
    )
