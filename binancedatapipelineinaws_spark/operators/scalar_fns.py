"""Scalar function surface (SURVEY.md §2.7) — one query per family,
each exercising several functions with stable aliases.

The reference's own scalar usage is string assembly + rounding + epoch
math (main.py:56-66, lambda_function.py:13-48); the rest of each family
is the delegated MySQL surface, all Spark built-ins (JVM-side,
whole-stage codegen — no Python UDFs).

Transcendentals (exp/log/pow) are rounded to 6 dp in both engines: Java
and libm are not guaranteed last-ulp-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.tables import load_table


@register(
    "q_fn_string",
    oracle="""
SELECT c_custkey,
       upper(c_name) AS name_upper,
       lower(c_mktsegment) AS seg_lower,
       length(c_name) AS name_len,
       substr(c_name, 1, 8) AS name_prefix,
       concat(c_mktsegment, '#', CAST(c_custkey AS VARCHAR)) AS seg_key,
       concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation,
       replace(c_name, 'Customer', 'Cust') AS name_short,
       trim(concat(' ', c_name, ' ')) AS name_trimmed,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded,
       split_part(c_name, '#', 2) AS name_num,
       CASE WHEN c_name LIKE 'Customer%' THEN 1 ELSE 0 END AS is_cust,
       CASE WHEN starts_with(c_mktsegment, 'BU') THEN 1 ELSE 0 END AS seg_bu,
       CASE WHEN ends_with(c_mktsegment, 'ING') THEN 1 ELSE 0 END AS seg_ing,
       regexp_extract(c_name, '([0-9]+)', 1) AS digits,
       reverse(c_mktsegment) AS seg_rev
FROM customer
""",
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat(
            F.col("c_mktsegment"), F.lit("#"), F.col("c_custkey").cast("string")
        ).alias("seg_key"),
        F.concat_ws(
            "-", F.col("c_mktsegment"), F.col("c_nationkey").cast("string")
        ).alias("seg_nation"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias(
            "name_short"
        ),
        F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" "))).alias(
            "name_trimmed"
        ),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
        F.element_at(F.split("c_name", "#"), 2).alias("name_num"),
        F.when(F.col("c_name").like("Customer%"), 1).otherwise(0).alias("is_cust"),
        F.when(F.col("c_mktsegment").startswith("BU"), 1).otherwise(0).alias(
            "seg_bu"
        ),
        F.when(F.col("c_mktsegment").endswith("ING"), 1).otherwise(0).alias(
            "seg_ing"
        ),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("digits"),
        F.reverse(F.col("c_mktsegment")).alias("seg_rev"),
    )


@register(
    "q_fn_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice, 1) AS price_r1,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       abs(l_discount - 0.05) AS disc_dev,
       CAST(l_quantity AS BIGINT) % 7 AS qty_mod7,
       CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
       greatest(l_quantity, 25.0) AS qty_hi,
       least(l_quantity, 25.0) AS qty_lo,
       round(sqrt(l_extendedprice), 6) AS price_sqrt,
       round(ln(l_extendedprice), 6) AS price_ln,
       round(log10(l_extendedprice), 6) AS price_log10,
       round(pow(l_quantity, 2), 6) AS qty_sq,
       round(exp(l_discount), 6) AS disc_exp
FROM lineitem
WHERE l_orderkey % 100 = 0
""",
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        (F.col("l_quantity").cast("long") % 7).alias("qty_mod7"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_hi"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_lo"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
    )


@register(
    "q_fn_datetime",
    oracle="""
SELECT event_id,
       year(ts) AS y, month(ts) AS mo, day(ts) AS d,
       hour(ts) AS h, minute(ts) AS mi, second(ts) AS s,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
       date_trunc('hour', ts) AS hour_start,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s,
       epoch_ms(date_trunc('millisecond', ts)) AS epoch_millis,
       dayofweek(ts) AS dow,
       dayofyear(ts) AS doy,
       ts + INTERVAL 3 DAY AS ts_plus3d,
       date_diff('day', TIMESTAMP '2024-01-01', ts) AS days_since_ny,
       last_day(CAST(ts AS DATE)) AS month_end
FROM events WHERE event_id % 10 = 0
""",
)
def q_fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 0)
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.second("ts").alias("s"),
        F.date_trunc("day", "ts").alias("day_start"),
        F.date_trunc("hour", "ts").alias("hour_start"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.unix_timestamp("ts").alias("epoch_s"),
        F.unix_millis(F.date_trunc("millisecond", "ts")).alias("epoch_millis"),
        # Spark dayofweek: 1=Sunday — matches DuckDB dayofweek()+1
        (F.dayofweek("ts") - 1).alias("dow"),
        F.dayofyear("ts").alias("doy"),
        (F.col("ts") + F.expr("INTERVAL 3 DAYS")).alias("ts_plus3d"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("days_since_ny"),
        F.last_day(F.col("ts").cast("date")).alias("month_end"),
    )


@register(
    "q_fn_conditional",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000 THEN 'big'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'small' END AS size_class,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
       CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS price_if_f,
       ifnull(CASE WHEN o_totalprice > 400000 THEN o_totalprice END, 0.0)
         AS big_price_or_zero,
       CASE WHEN nullif(o_orderpriority, o_orderpriority) IS NULL
            THEN 1 ELSE 0 END AS always_one
FROM orders WHERE o_orderkey % 7 = 0
""",
)
def q_fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN"))
        .alias("status_or_open"),
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).alias(
            "price_if_f"
        ),
        F.nvl(
            F.when(F.col("o_totalprice") > 400000, F.col("o_totalprice")),
            F.lit(0.0),
        ).alias("big_price_or_zero"),
        F.when(
            F.isnull(F.nullif(F.col("o_orderpriority"), F.col("o_orderpriority"))),
            1,
        )
        .otherwise(0)
        .alias("always_one"),
    )


@register(
    "q_fn_cast",
    oracle="""
SELECT l_orderkey,
       CAST(l_quantity AS BIGINT) AS qty_long,
       CAST(l_quantity AS INTEGER) AS qty_int,
       CAST(l_orderkey AS DOUBLE) AS key_double,
       CAST(l_orderkey AS VARCHAR) AS key_str,
       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) AS price_decstr,
       CAST(concat(CAST(l_orderkey AS VARCHAR), '.5') AS DOUBLE) AS parsed_double,
       CAST('2024-03-15 12:30:45' AS TIMESTAMP) AS parsed_ts,
       CAST(l_shipdate AS DATE) AS ship_date,
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_date_str,
       CAST(l_quantity > 25 AS INTEGER) AS qty_gt25
FROM lineitem WHERE l_orderkey % 200 = 0
""",
)
def q_fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 200 == 0
    )
    return li.select(
        "l_orderkey",
        F.col("l_quantity").cast("long").alias("qty_long"),
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.col("l_orderkey").cast("double").alias("key_double"),
        F.col("l_orderkey").cast("string").alias("key_str"),
        F.col("l_extendedprice")
        .cast("decimal(18,2)")
        .cast("string")
        .alias("price_decstr"),
        F.concat(F.col("l_orderkey").cast("string"), F.lit(".5"))
        .cast("double")
        .alias("parsed_double"),
        F.lit("2024-03-15 12:30:45").cast("timestamp").alias("parsed_ts"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.col("l_shipdate").cast("date").cast("string").alias("ship_date_str"),
        (F.col("l_quantity") > 25).cast("int").alias("qty_gt25"),
    )


@register(
    "q_fn_json",
    oracle="""
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
       CAST(json_extract_string(props, '$.missing') AS VARCHAR) AS missing_key,
       CASE WHEN json_valid(props) THEN 1 ELSE 0 END AS is_valid
FROM events WHERE event_id % 5 = 0
""",
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over events.props (the Binance wire format is
    JSON too, main.py:35)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("long").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("missing_key"),
        F.when(
            F.from_json("props", "k INT").isNotNull(), 1
        ).otherwise(0).alias("is_valid"),
    )


@register(
    "q_fn_json_struct",
    oracle="""
SELECT event_id,
       CASE WHEN json_valid(props)
            THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
       END AS k,
       TRUE AS roundtrip_ok,
       TRUE AS schema_has_k
FROM events
""",
)
def q_fn_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json -> typed struct -> to_json round trip + schema_of_json.
    The JSON TEXT to_json emits is engine-specific formatting, so the
    hash-verified output is the typed field value plus TRUE round-trip
    invariants: re-parsing to_json's output must reproduce the struct
    field (null-safe, so malformed input rows — where both sides are
    NULL — also pin TRUE), and schema_of_json must infer a schema
    containing field k.  (Converted from rows-only per VERDICT r7
    item 2.)"""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select("event_id", F.from_json("props", "k INT").alias("p"))
    reparsed = F.from_json(F.to_json("p"), "k INT")
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        reparsed["k"].eqNullSafe(F.col("p.k")).alias("roundtrip_ok"),
        F.schema_of_json(F.lit('{"k": 1}')).contains("k").alias(
            "schema_has_k"
        ),
    )


def _arr_str(col):
    """Render an array column as a comma-joined string so the driver's
    pandas canonicalizer (which cannot hash list cells) sees scalars."""
    return F.array_join(col.cast("array<string>"), ",")


@register(
    "q_fn_array_map",
    oracle="""
SELECT l_orderkey, l_linenumber,
       array_to_string([l_orderkey, l_partkey, l_suppkey], ',') AS key_arr,
       len([l_orderkey, l_partkey, l_suppkey]) AS arr_len,
       list_contains([l_orderkey, l_partkey, l_suppkey], 1) AS has_one,
       [l_partkey, l_suppkey][1] AS first_elem,
       array_to_string(
           list_transform([l_quantity, l_quantity + 1], x -> x * 2), ',') AS doubled,
       array_to_string(
           list_filter([l_orderkey % 2, l_partkey % 2, l_suppkey % 2],
                       x -> x = 0), ',') AS evens,
       array_to_string(
           list_sort([l_suppkey % 10, l_partkey % 10, l_orderkey % 10]),
           ',') AS sorted_mods,
       list_reduce([l_orderkey % 100, l_partkey % 100, l_suppkey % 100],
                   (a, b) -> a + b) AS mod_sum
FROM lineitem WHERE l_orderkey % 500 = 0
""",
)
def q_fn_array_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array ops on integer payloads (exact in both engines); the
    float-array path is exercised by the similarity queries.  Array
    outputs are serialized to comma-joined strings in BOTH engines so
    every checked output column is scalar (the driver's compare sorts
    rows with pandas, which cannot hash list cells)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 500 == 0
    )
    keys = F.array("l_orderkey", "l_partkey", "l_suppkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _arr_str(keys).alias("key_arr"),
        F.size(keys).alias("arr_len"),
        F.array_contains(keys, 1).alias("has_one"),
        F.element_at(F.array("l_partkey", "l_suppkey"), 1).alias("first_elem"),
        _arr_str(
            F.transform(
                F.array(F.col("l_quantity"), F.col("l_quantity") + 1),
                lambda x: x * 2,
            )
        ).alias("doubled"),
        _arr_str(
            F.filter(
                F.array(
                    F.col("l_orderkey") % 2,
                    F.col("l_partkey") % 2,
                    F.col("l_suppkey") % 2,
                ),
                lambda x: x == 0,
            )
        ).alias("evens"),
        _arr_str(
            F.sort_array(
                F.array(
                    F.col("l_suppkey") % 10,
                    F.col("l_partkey") % 10,
                    F.col("l_orderkey") % 10,
                )
            )
        ).alias("sorted_mods"),
        F.aggregate(
            F.array(
                F.col("l_orderkey") % 100,
                F.col("l_partkey") % 100,
                F.col("l_suppkey") % 100,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("mod_sum"),
    )


@register(
    "q_fn_map",
    oracle="""
SELECT c_custkey,
       'segment,name' AS keys,
       c_mktsegment || ',' || c_name AS vals,
       2 AS n_entries,
       c_mktsegment AS segment
FROM customer
""",
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: create_map / map_keys / map_values / size /
    element_at.  Keys/values are rendered as comma-joined strings so the
    checked output is all-scalar (oracle constructs the same strings
    directly — DuckDB has no Spark-equivalent map literal)."""
    c = load_table(spark, sf_dir, "customer")
    m = F.create_map(
        F.lit("segment"), F.col("c_mktsegment"),
        F.lit("name"), F.col("c_name"),
    )
    return c.select(
        "c_custkey",
        F.array_join(F.map_keys(m), ",").alias("keys"),
        F.array_join(F.map_values(m), ",").alias("vals"),
        F.size(m).alias("n_entries"),
        F.element_at(m, "segment").alias("segment"),
    )


@register(
    "q_fn_hash",
    oracle="""
SELECT c_custkey,
       md5(c_name) AS name_md5,
       sha256(c_mktsegment) AS seg_sha256,
       md5(concat(CAST(c_custkey AS VARCHAR), '|', c_name)) AS row_md5
FROM customer WHERE c_custkey % 10 = 0
""",
)
def q_fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2("c_mktsegment", 256).alias("seg_sha256"),
        F.md5(
            F.concat(F.col("c_custkey").cast("string"), F.lit("|"), F.col("c_name"))
        ).alias("row_md5"),
    )


# Envelope gate for the native hash family (VERDICT r7 item 2): DuckDB
# has no xxhash64/murmur3/crc32, so the hash VALUES can never be
# oracle-checked — but their structural invariants can be pinned TRUE:
# injectivity of the 64-bit hash at this cardinality (collision
# probability ~n^2/2^65, < 1e-9 even at sf1's 150k names), a 99.9%
# distinctness floor for 32-bit murmur3 (expected birthday collisions
# at 150k names ~2.6, far under the 150-collision allowance), and
# crc32's [0, 2^32) range.  Distinct-hash-count <= distinct-name-count
# holds by function-ness, so the >= floors are the informative side.
MURMUR3_DISTINCT_FLOOR = 0.999


@register(
    "q_fn_hash_native",
    oracle="""
SELECT count(*) AS n_rows,
       count(DISTINCT c_name) AS n_names,
       TRUE AS xx64_injective,
       TRUE AS murmur3_nearly_injective,
       TRUE AS crc32_in_range
FROM customer
""",
)
def q_fn_hash_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native hash family (xxhash64 / murmur3 / crc32) — the fast
    path for dedup keys and salting at 100 TB.  Hash values are
    engine-native, so the hash-verified output is the exact name
    cardinality plus TRUE structural invariants (injectivity /
    near-injectivity / value range); a misbehaving hash kernel breaks
    the gate hash.  (Converted from rows-only per VERDICT r7 item 2.)"""
    c = load_table(spark, sf_dir, "customer")
    hashed = c.select(
        "c_name",
        F.xxhash64("c_name").alias("xx64"),
        F.hash("c_name").alias("mm3"),
        F.crc32(F.col("c_name").cast("binary")).alias("crc"),
    )
    agg = hashed.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("c_name").alias("n_names"),
        F.count_distinct("xx64").alias("n_xx64"),
        F.count_distinct("mm3").alias("n_mm3"),
        F.min("crc").alias("crc_min"),
        F.max("crc").alias("crc_max"),
    )
    return agg.select(
        "n_rows",
        "n_names",
        (F.col("n_xx64") == F.col("n_names")).alias("xx64_injective"),
        (
            F.col("n_mm3")
            >= F.ceil(MURMUR3_DISTINCT_FLOOR * F.col("n_names"))
        ).alias("murmur3_nearly_injective"),
        (
            (F.col("crc_min") >= 0) & (F.col("crc_max") < F.lit(2**32))
        ).alias("crc32_in_range"),
    )


@register(
    "q_fn_bitwise",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_orderkey & l_partkey AS k_and,
       l_orderkey | l_partkey AS k_or,
       xor(l_orderkey, l_partkey) AS k_xor,
       ~l_orderkey AS k_not,
       l_linenumber << 3 AS ln_shl,
       l_orderkey >> 2 AS k_shr,
       bit_count(l_orderkey) AS k_bits
FROM lineitem
WHERE l_orderkey % 100 = 0
""",
)
def q_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family (MySQL 5.7 surface: & | ^ ~ << >> BIT_COUNT) —
    used internally by the SimHash/LSH dedup tier."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_orderkey").bitwiseAND(F.col("l_partkey")).alias("k_and"),
        F.col("l_orderkey").bitwiseOR(F.col("l_partkey")).alias("k_or"),
        F.col("l_orderkey").bitwiseXOR(F.col("l_partkey")).alias("k_xor"),
        F.bitwise_not(F.col("l_orderkey")).alias("k_not"),
        F.shiftleft(F.col("l_linenumber"), 3).alias("ln_shl"),
        F.shiftright(F.col("l_orderkey"), 2).alias("k_shr"),
        F.bit_count(F.col("l_orderkey")).alias("k_bits"),
    )


@register(
    "q_fn_regex",
    oracle=r"""
SELECT event_id, props,
       CASE WHEN regexp_matches(props, '^\{"k": [0-9]+\}$')
            THEN 1 ELSE 0 END AS is_simple_obj,
       regexp_extract(props, '[0-9]+', 0) AS first_num,
       regexp_replace(props, '[0-9]', '#', 'g') AS masked,
       CASE WHEN regexp_matches(props, '"k": *([0-9]{2})[^0-9]')
            THEN 1 ELSE 0 END AS k_two_digits
FROM events WHERE event_id % 7 = 0
""",
)
def q_fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar family (MySQL 5.7 REGEXP surface -> Spark
    rlike / regexp_extract / regexp_replace).  Patterns stay inside
    the portable subset (character classes, anchors, quantifiers — no
    lookaround, no backrefs) so Java regex and DuckDB's RE2 agree;
    the oracle mirrors each call (regexp_replace needs the 'g' flag —
    DuckDB replaces first-only by default where Spark replaces all)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 7 == 0
    )
    return ev.select(
        "event_id",
        "props",
        F.col("props")
        .rlike(r'^\{"k": [0-9]+\}$')
        .cast("int")
        .alias("is_simple_obj"),
        F.regexp_extract("props", "[0-9]+", 0).alias("first_num"),
        F.regexp_replace("props", "[0-9]", "#").alias("masked"),
        F.col("props")
        .rlike(r'"k": *([0-9]{2})[^0-9]')
        .cast("int")
        .alias("k_two_digits"),
    )
