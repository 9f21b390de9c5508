"""Scalar/aggregate function-library inventory (SURVEY §2.8, §2.5 breadth).

Reference surface: DataFusion 54 defaults registered wholesale in
ballista/core/src/registry.rs:20-73 (string, regex, math, date/time,
conditional, array, lambda, map, struct, hash, encoding) plus the aggregate
breadth exercised by the h2o groupby suite
(benchmarks/queries/h2o/groupby.sql:1-19 — SUM/AVG/MEDIAN/STDDEV/CORR) and
registry.rs:57-61 (approx_*, array_agg, string_agg, bit_*/bool_*, regr_*).

One query per category; every output column is aliased identically on both
engines, and genuine-double outputs are rounded on both sides.

Scale: everything here is a built-in expression inside whole-stage codegen —
no Python in the data path. The small input subsets (doc_id/user_id filters)
exist to keep oracle outputs reviewable, not because the expressions care.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_ballista_spark.functions import date_bin, gcd, lcm, try_cast
from datafusion_ballista_spark.inventory import QuerySpec
from datafusion_ballista_spark.inventory.util import tables


def _docs(spark: SparkSession, sf: str, n: int = 50) -> DataFrame:
    return tables(spark, sf, "documents").documents.where(F.col("doc_id") < n)


def fn_string(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        F.upper(F.col("lang")).alias("lang_up"),
        F.lower(F.col("source")).alias("src_lo"),
        F.substring("text", 1, 12).alias("prefix"),
        F.length("text").alias("len"),
        F.concat_ws("|", "lang", "source").alias("tag"),
        F.replace(F.col("lang"), F.lit("e"), F.lit("E")).alias("replaced"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(2)).alias("second_word"),
        F.instr(F.col("text"), "data").alias("data_pos"),
        F.reverse(F.col("lang")).alias("lang_rev"),
        F.repeat(F.col("lang"), 2).alias("lang2"),
        F.lpad(F.col("lang"), 5, ".").alias("lang_pad"),
        F.trim(F.concat(F.lit("  "), F.col("lang"), F.lit("  "))).alias("trimmed"),
        F.levenshtein(F.col("lang"), F.lit("en")).alias("lev"),
        F.translate(F.col("lang"), "en", "EN").alias("xlate"),
        F.startswith(F.col("text"), F.lit("key")).alias("starts_key"),
        F.left(F.col("text"), F.lit(4)).alias("l4"),
        F.right(F.col("source"), F.lit(2)).alias("r2"),
        F.ascii(F.col("lang")).alias("first_cp"),
    ).orderBy("doc_id")


FN_STRING_SQL = """
SELECT doc_id,
  upper(lang) AS lang_up, lower(source) AS src_lo,
  substring(text, 1, 12) AS prefix, length(text) AS len,
  concat_ws('|', lang, source) AS tag,
  replace(lang, 'e', 'E') AS replaced,
  split_part(text, ' ', 2) AS second_word,
  strpos(text, 'data') AS data_pos,
  reverse(lang) AS lang_rev, repeat(lang, 2) AS lang2,
  lpad(lang, 5, '.') AS lang_pad,
  trim('  ' || lang || '  ') AS trimmed,
  levenshtein(lang, 'en') AS lev,
  translate(lang, 'en', 'EN') AS xlate,
  starts_with(text, 'key') AS starts_key,
  left(text, 4) AS l4, right(source, 2) AS r2,
  ascii(lang) AS first_cp
FROM documents WHERE doc_id < 50
ORDER BY doc_id
"""


def fn_regex(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        F.regexp_extract(F.col("text"), r"(\w+) (\w+)", 2).alias("w2"),
        F.regexp_replace(F.col("text"), r"\bdata\b", "DATA").substr(1, 30).alias("repl30"),
        F.col("text").rlike(r"join .* merge").alias("has_seq"),
        F.regexp_count(F.col("text"), F.lit(r"\bscan\b")).cast("bigint").alias("n_scan"),
    ).orderBy("doc_id")


FN_REGEX_SQL = r"""
SELECT doc_id,
  regexp_extract(text, '(\w+) (\w+)', 2) AS w2,
  substring(regexp_replace(text, '\bdata\b', 'DATA', 'g'), 1, 30) AS repl30,
  regexp_matches(text, 'join .* merge') AS has_seq,
  CAST(len(regexp_extract_all(text, '\bscan\b')) AS BIGINT) AS n_scan
FROM documents WHERE doc_id < 50
ORDER BY doc_id
"""


def fn_math(spark: SparkSession, sf: str) -> DataFrame:
    base = spark.range(1, 21).select(F.col("id").cast("int").alias("i"))
    x = F.col("i").cast("double")
    return base.select(
        "i",
        F.abs(-x).alias("abs_x"),
        F.ceil(x / 3).cast("bigint").alias("ceil_3"),
        F.floor(x / 3).cast("bigint").alias("floor_3"),
        F.round(F.sqrt(x), 9).alias("sqrt_x"),
        F.round(F.cbrt(x), 9).alias("cbrt_x"),
        F.round(F.pow(x, 2.5), 6).alias("pow_25"),
        F.round(F.exp(x / 10), 9).alias("exp_x"),
        F.round(F.log(x), 9).alias("ln_x"),
        F.round(F.log10(x), 9).alias("log10_x"),
        F.round(F.log2(x), 9).alias("log2_x"),
        F.round(F.sin(x), 9).alias("sin_x"),
        F.round(F.cos(x), 9).alias("cos_x"),
        F.round(F.atan2(x, F.lit(2.0)), 9).alias("atan2_x"),
        F.round(F.degrees(x), 6).alias("deg_x"),
        F.round(F.radians(x), 9).alias("rad_x"),
        F.signum(x - 10).cast("int").alias("sign_x"),
        gcd(F.col("i").cast("bigint"), F.lit(12).cast("bigint")).alias("gcd_12"),
        lcm(F.col("i").cast("bigint"), F.lit(4).cast("bigint")).alias("lcm_4"),
        F.factorial(F.least(F.col("i"), F.lit(10))).alias("fact"),
        F.round(F.lit(3.14159265), 2).alias("pi_2"),
    ).orderBy("i")


FN_MATH_SQL = """
SELECT i,
  abs(-x) AS abs_x,
  CAST(ceil(x/3) AS BIGINT) AS ceil_3, CAST(floor(x/3) AS BIGINT) AS floor_3,
  round(sqrt(x), 9) AS sqrt_x, round(cbrt(x), 9) AS cbrt_x,
  round(pow(x, 2.5), 6) AS pow_25,
  round(exp(x/10), 9) AS exp_x, round(ln(x), 9) AS ln_x,
  round(log10(x), 9) AS log10_x, round(log2(x), 9) AS log2_x,
  round(sin(x), 9) AS sin_x, round(cos(x), 9) AS cos_x,
  round(atan2(x, 2.0), 9) AS atan2_x,
  round(degrees(x), 6) AS deg_x, round(radians(x), 9) AS rad_x,
  CAST(sign(x - 10) AS INTEGER) AS sign_x,
  gcd(i, 12) AS gcd_12, lcm(i, 4) AS lcm_4,
  CAST(factorial(CAST(least(i, 10) AS INTEGER)) AS BIGINT) AS fact,
  round(CAST(3.14159265 AS DOUBLE), 2) AS pi_2
FROM (SELECT CAST(i AS INTEGER) AS i, CAST(i AS DOUBLE) AS x
      FROM generate_series(1, 20) t(i))
ORDER BY i
"""


def fn_datetime(spark: SparkSession, sf: str) -> DataFrame:
    e = tables(spark, sf, "events").events.where(F.col("event_id") < 200)
    return e.select(
        "event_id",
        F.date_trunc("day", F.col("ts")).alias("day_ts"),
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.second("ts").alias("s"),
        date_bin(900, F.col("ts")).alias("bin15m"),
        F.date_format("ts", "yyyy-MM-dd HH:mm").alias("fmt"),
        F.date_add(F.col("ts").cast("date"), 7).alias("plus7"),
        F.last_day(F.col("ts").cast("date")).alias("eom"),
        F.datediff(F.lit("2024-03-01").cast("date"), F.col("ts").cast("date")).alias(
            "days_to_mar"
        ),
        F.make_date(F.year("ts"), F.month("ts"), F.lit(1)).alias("month_start"),
        F.unix_timestamp("ts").alias("epoch_s"),
    ).orderBy("event_id")


FN_DATETIME_SQL = """
SELECT event_id,
  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
  date_trunc('hour', ts) AS hour_ts,
  CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS mo,
  CAST(day(ts) AS INTEGER) AS d, CAST(hour(ts) AS INTEGER) AS h,
  CAST(minute(ts) AS INTEGER) AS mi, CAST(second(ts) AS INTEGER) AS s,
  TIMESTAMP '1970-01-01'
    + ((floor(epoch(ts))::BIGINT // 900) * 900) * INTERVAL 1 SECOND AS bin15m,
  strftime(ts, '%Y-%m-%d %H:%M') AS fmt,
  (ts::DATE + INTERVAL 7 DAY)::DATE AS plus7,
  last_day(ts::DATE) AS eom,
  datediff('day', ts::DATE, DATE '2024-03-01') AS days_to_mar,
  make_date(year(ts), month(ts), 1) AS month_start,
  floor(epoch(ts))::BIGINT AS epoch_s
FROM events WHERE event_id < 200
ORDER BY event_id
"""


def fn_conditional(spark: SparkSession, sf: str) -> DataFrame:
    e = tables(spark, sf, "events").events.where(F.col("event_id") < 200)
    vn = F.when(F.col("event_type") != "error", F.col("value"))
    return e.select(
        "event_id",
        F.coalesce(vn, F.lit(-1.0)).alias("coal"),
        F.nullif(F.col("event_type"), F.lit("view")).alias("nif"),
        F.ifnull(vn, F.lit(0.0)).alias("ifn"),
        F.nvl2(vn, F.lit("ok"), F.lit("err")).alias("nvl2_tag"),
        F.greatest(F.col("value"), F.lit(25.0)).alias("gr"),
        F.least(F.col("value"), F.lit(25.0)).alias("le"),
        F.when(F.col("value") > 40, "high")
        .when(F.col("value") > 10, "mid")
        .otherwise("low")
        .alias("band"),
    ).orderBy("event_id")


FN_CONDITIONAL_SQL = """
SELECT event_id,
  coalesce(v_n, -1.0) AS coal,
  nullif(event_type, 'view') AS nif,
  ifnull(v_n, 0.0) AS ifn,
  CASE WHEN v_n IS NOT NULL THEN 'ok' ELSE 'err' END AS nvl2_tag,
  greatest(value, 25.0) AS gr, least(value, 25.0) AS le,
  CASE WHEN value > 40 THEN 'high' WHEN value > 10 THEN 'mid'
       ELSE 'low' END AS band
FROM (SELECT *, CASE WHEN event_type <> 'error' THEN value END AS v_n
      FROM events WHERE event_id < 200)
ORDER BY event_id
"""


def fn_array(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    arr = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(arr).alias("n_tokens"),
        F.element_at(arr, 2).alias("tok2"),
        F.array_contains(arr, "data").alias("has_data"),
        F.array_position(arr, "data").alias("data_idx"),
        F.size(F.array_distinct(arr)).alias("n_uniq"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(arr)), 1, 3), ",").alias(
            "first3_sorted"
        ),
        F.element_at(F.reverse(arr), 1).alias("last_tok"),
        F.array_join(
            F.array_sort(F.array_intersect(arr, F.array(F.lit("data"), F.lit("query")))),
            ",",
        ).alias("kw_hits"),
        F.size(F.sequence(F.lit(1), (F.col("doc_id") % 4) + 1)).alias("seq_len"),
    ).orderBy("doc_id")


FN_ARRAY_SQL = """
SELECT doc_id,
  len(arr) AS n_tokens,
  arr[2] AS tok2,
  list_contains(arr, 'data') AS has_data,
  CAST(coalesce(list_position(arr, 'data'), 0) AS BIGINT) AS data_idx,
  len(list_distinct(arr)) AS n_uniq,
  array_to_string(list_sort(list_distinct(arr))[1:3], ',') AS first3_sorted,
  list_reverse(arr)[1] AS last_tok,
  coalesce(array_to_string(list_sort(list_intersect(arr, ['data','query'])), ','), '')
    AS kw_hits,
  len(range(1, (doc_id % 4) + 2)) AS seq_len
FROM (SELECT doc_id, string_split(text, ' ') AS arr
      FROM documents WHERE doc_id < 50)
ORDER BY doc_id
"""


def fn_lambda(spark: SparkSession, sf: str) -> DataFrame:
    """Higher-order functions (registry.rs:24,68-73 HigherOrderUDF set)."""
    d = _docs(spark, sf)
    arr = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.aggregate(
            F.transform(arr, lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
        F.size(F.filter(arr, lambda x: F.length(x) > 4)).alias("n_long"),
        F.exists(arr, lambda x: x == F.lit("spark")).alias("has_spark"),
        F.forall(arr, lambda x: F.length(x) < 20).alias("all_short"),
        F.array_join(
            F.slice(F.transform(arr, lambda x: F.upper(F.substring(x, 1, 1))), 1, 5),
            "",
        ).alias("initials5"),
    ).orderBy("doc_id")


FN_LAMBDA_SQL = """
SELECT doc_id,
  CAST(list_aggregate(list_transform(arr, x -> length(x)), 'sum') AS INTEGER)
    AS total_chars,
  len(list_filter(arr, x -> length(x) > 4)) AS n_long,
  len(list_filter(arr, x -> x = 'spark')) > 0 AS has_spark,
  len(list_filter(arr, x -> length(x) >= 20)) = 0 AS all_short,
  array_to_string(list_transform(arr, x -> upper(x[1]))[1:5], '') AS initials5
FROM (SELECT doc_id, string_split(text, ' ') AS arr
      FROM documents WHERE doc_id < 50)
ORDER BY doc_id
"""


def fn_map_struct(spark: SparkSession, sf: str) -> DataFrame:
    """Map + struct construction and field access, output as flat scalars."""
    d = _docs(spark, sf)
    m = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    st = F.struct(F.col("doc_id").alias("id"), F.col("n_chars").alias("nc"))
    return d.select(
        "doc_id",
        F.element_at(m, "lang").alias("m_lang"),
        F.size(m).alias("m_size"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("m_keys"),
        st.getField("nc").alias("s_nc"),
        (st.getField("id") * 2).alias("s_id2"),
    ).orderBy("doc_id")


FN_MAP_STRUCT_SQL = """
SELECT doc_id,
  map_extract(m, 'lang')[1] AS m_lang,
  CAST(cardinality(m) AS INTEGER) AS m_size,
  array_to_string(list_sort(map_keys(m)), ',') AS m_keys,
  s.nc AS s_nc, s.id * 2 AS s_id2
FROM (SELECT doc_id,
        map(['lang','source'], [lang, source]) AS m,
        struct_pack(id := doc_id, nc := n_chars) AS s
      FROM documents WHERE doc_id < 50)
ORDER BY doc_id
"""


def fn_hash_encoding(spark: SparkSession, sf: str) -> DataFrame:
    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        F.md5(F.col("text")).alias("h_md5"),
        F.sha2(F.col("text"), 256).alias("h_sha256"),
        F.lower(F.hex(F.col("lang"))).alias("lang_hex"),
        F.base64(F.col("lang").cast("binary")).alias("lang_b64"),
        F.unbase64(F.base64(F.col("lang").cast("binary"))).cast("string").alias(
            "b64_roundtrip"
        ),
    ).orderBy("doc_id")


FN_HASH_SQL = """
SELECT doc_id,
  md5(text) AS h_md5,
  sha256(text) AS h_sha256,
  lower(hex(lang)) AS lang_hex,
  base64(lang::BLOB) AS lang_b64,
  CAST(from_base64(base64(lang::BLOB)) AS VARCHAR) AS b64_roundtrip
FROM documents WHERE doc_id < 50
ORDER BY doc_id
"""


def fn_cast_try(spark: SparkSession, sf: str) -> DataFrame:
    """CAST / TRY_CAST (datafusion.proto:588-645) incl. failure -> NULL."""
    vals = spark.createDataFrame(
        [("1", "12", "2024-01-05"), ("2", "x9", "not-a-date"),
         ("3", "-4", "1999-12-31"), ("4", "99999999999", "2024-02-29")],
        "id string, num string, dt string",
    )
    return vals.select(
        F.col("id").cast("int").alias("id"),
        try_cast("num", "int").alias("num_i"),
        try_cast("dt", "date").alias("dt_d"),
        try_cast("num", "bigint").alias("num_l"),
        F.concat(F.lit("#"), F.col("id")).alias("id_s"),
    ).orderBy("id")


FN_CAST_SQL = """
SELECT CAST(id AS INTEGER) AS id,
  TRY_CAST(num AS INTEGER) AS num_i,
  TRY_CAST(dt AS DATE) AS dt_d,
  TRY_CAST(num AS BIGINT) AS num_l,
  '#' || id AS id_s
FROM (VALUES ('1','12','2024-01-05'), ('2','x9','not-a-date'),
             ('3','-4','1999-12-31'), ('4','99999999999','2024-02-29'))
  t(id, num, dt)
ORDER BY id
"""


def fn_json(spark: SparkSession, sf: str) -> DataFrame:
    """JSON functions over the events.props payload: path extraction
    (get_json_object), typed schema parse (from_json -> struct field), and
    validity probing — all codegen'd JVM expressions, the recommended path
    for semi-structured columns at scale (never a Python json.loads)."""
    e = tables(spark, sf, "events").events.where(F.col("event_id") < 2000)
    parsed = F.from_json(F.col("props"), "k INT")
    return (
        e.select(
            "event_type",
            F.get_json_object(F.col("props"), "$.k").cast("int").alias("k_path"),
            parsed.getField("k").alias("k_typed"),
            F.col("props").cast("string").alias("raw"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k_path").alias("sum_k_path"),
            F.sum("k_typed").alias("sum_k_typed"),
            F.min("k_typed").alias("min_k"),
            F.max("k_typed").alias("max_k"),
        )
        .orderBy("event_type")
    )


FN_JSON_SQL = """
SELECT event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
    AS sum_k_path,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
    AS sum_k_typed,
  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events WHERE event_id < 2000
GROUP BY event_type
ORDER BY event_type
"""


def fn_agg_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical aggregate breadth (h2o groupby.sql: MEDIAN/STDDEV/CORR)."""
    e = tables(spark, sf, "events").events
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.stddev_samp("value"), 6).alias("sd_samp"),
            F.round(F.stddev_pop("value"), 6).alias("sd_pop"),
            F.round(F.var_samp("value"), 6).alias("v_samp"),
            F.round(F.var_pop("value"), 6).alias("v_pop"),
            F.round(F.corr("value", F.col("user_id").cast("double")), 6).alias(
                "corr_vu"
            ),
            # covar at 2dp, not 6: the parallel co-moment merge is order-
            # dependent and its absolute noise reaches ~1e-4 at sf1 row
            # counts — 6dp rounding goes red exactly when the data grows
            F.round(F.covar_samp("value", F.col("user_id").cast("double")), 2).alias(
                "covar_vu"
            ),
            F.round(F.median("value"), 6).alias("med"),
            F.round(F.percentile("value", 0.9), 6).alias("p90"),
        )
        .orderBy("event_type")
    )


FN_AGG_STATS_SQL = """
SELECT event_type,
  round(stddev_samp(value), 6) AS sd_samp,
  round(stddev_pop(value), 6) AS sd_pop,
  round(var_samp(value), 6) AS v_samp,
  round(var_pop(value), 6) AS v_pop,
  round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_vu,
  round(covar_samp(value, CAST(user_id AS DOUBLE)), 2) AS covar_vu,
  round(median(value), 6) AS med,
  round(quantile_cont(value, 0.9), 6) AS p90
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def fn_agg_collect(spark: SparkSession, sf: str) -> DataFrame:
    """Order-sensitive & collection aggregates (registry.rs:57-61):
    array_agg (sorted for determinism), string_agg, bit/bool aggs."""
    e = tables(spark, sf, "events").events.where(F.col("user_id") < 10)
    return (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.slice(F.array_sort(F.collect_list("event_type")), 1, 5), ","
            ).alias("first5_types"),
            F.size(F.collect_set("event_type")).alias("n_types"),
            F.bit_and(F.col("event_id")).alias("band"),
            F.bit_or(F.col("event_id")).alias("bor"),
            F.bit_xor(F.col("event_id")).alias("bxor"),
            F.bool_and(F.col("value") > 0).alias("all_pos"),
            F.bool_or(F.col("value") > 49).alias("any_big"),
            F.count_if(F.col("event_type") == "click").alias("n_clicks"),
        )
        .orderBy("user_id")
    )


FN_AGG_COLLECT_SQL = """
SELECT user_id,
  array_to_string(list_sort(list(event_type))[1:5], ',') AS first5_types,
  CAST(len(list_distinct(list(event_type))) AS INTEGER) AS n_types,
  bit_and(event_id) AS band, bit_or(event_id) AS bor,
  bit_xor(event_id) AS bxor,
  bool_and(value > 0) AS all_pos, bool_or(value > 49) AS any_big,
  count(*) FILTER (event_type = 'click') AS n_clicks
FROM events WHERE user_id < 10
GROUP BY user_id
ORDER BY user_id
"""


def fn_agg_minmax_by(spark: SparkSession, sf: str) -> DataFrame:
    """min_by/max_by (arg_min/arg_max) with a unique ordering key.

    The ordering key folds the unique event_id into the value so ties in
    ``value`` cannot make either engine's arg-pick nondeterministic
    (value has 2 decimals, so value*1e9 + event_id is exact in a double).
    """
    e = tables(spark, sf, "events").events
    key = F.col("value") * 1.0e9 + F.col("event_id")
    return (
        e.groupBy("event_type")
        .agg(
            F.min_by("event_id", key).alias("cheapest_event"),
            F.max_by("event_id", key).alias("priciest_event"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
        .orderBy("event_type")
    )


FN_AGG_MINMAX_BY_SQL = """
SELECT event_type,
  arg_min(event_id, value * 1000000000.0 + event_id) AS cheapest_event,
  arg_max(event_id, value * 1000000000.0 + event_id) AS priciest_event,
  min(value) AS min_v, max(value) AS max_v
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def fn_agg_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Aggregate FILTER (WHERE ...) clauses (PhysicalAggregateExprNode
    filter, datafusion.proto:960-970) via the Spark SQL string path."""
    tables(spark, sf, "events").events.createOrReplaceTempView("events_v")
    return spark.sql(
        """
        SELECT user_id % 10 AS ub,
          COUNT(*) FILTER (WHERE event_type = 'click') AS clicks,
          COUNT(*) FILTER (WHERE event_type = 'error') AS errors,
          CAST(SUM(CAST(value AS DECIMAL(18,2)))
               FILTER (WHERE value > 25) AS DOUBLE) AS big_total
        FROM events_v
        GROUP BY user_id % 10
        ORDER BY ub
        """
    )


FN_AGG_FILTER_SQL = """
SELECT user_id % 10 AS ub,
  COUNT(*) FILTER (WHERE event_type = 'click') AS clicks,
  COUNT(*) FILTER (WHERE event_type = 'error') AS errors,
  CAST(SUM(CAST(value AS DECIMAL(18,2)))
       FILTER (WHERE value > 25) AS DOUBLE) AS big_total
FROM events
GROUP BY user_id % 10
ORDER BY ub
"""


def fn_agg_regr(spark: SparkSession, sf: str) -> DataFrame:
    """Linear-regression aggregate family (regr_*, registry.rs:57-61)."""
    e = tables(spark, sf, "events").events
    x = F.col("user_id").cast("double")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.regr_slope("value", x), 6).alias("slope"),
            F.round(F.regr_intercept("value", x), 6).alias("icept"),
            F.round(F.regr_r2("value", x), 6).alias("r2"),
            F.regr_count("value", x).alias("n"),
            F.round(F.regr_avgx("value", x), 6).alias("avgx"),
            F.round(F.regr_avgy("value", x), 6).alias("avgy"),
        )
        .orderBy("event_type")
    )


FN_AGG_REGR_SQL = """
SELECT event_type,
  round(regr_slope(value, CAST(user_id AS DOUBLE)), 6) AS slope,
  round(regr_intercept(value, CAST(user_id AS DOUBLE)), 6) AS icept,
  round(regr_r2(value, CAST(user_id AS DOUBLE)), 6) AS r2,
  regr_count(value, CAST(user_id AS DOUBLE)) AS n,
  round(regr_avgx(value, CAST(user_id AS DOUBLE)), 6) AS avgx,
  round(regr_avgy(value, CAST(user_id AS DOUBLE)), 6) AS avgy
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def fn_agg_approx(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct (HLL, rsd 0.05) + percentile_approx: sketch
    outputs are engine-specific, so the deterministic contract is
    bounds-booleans — each approx value is checked against a generous
    tolerance of the exact value, entirely Spark-side; the oracle computes
    the same booleans from exact values (trivially true), so the hash gate
    matches exactly when every sketch lands in bounds. ``exact_users`` is
    also emitted and value-compared for real cross-engine signal."""
    e = tables(spark, sf, "events").events
    g = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("approx_med"),
        F.expr("percentile(value, 0.40)").alias("p40"),
        F.expr("percentile(value, 0.60)").alias("p60"),
    )
    return g.select(
        "event_type",
        "exact_users",
        (
            (F.col("approx_users") >= F.col("exact_users") * 0.8)
            & (F.col("approx_users") <= F.col("exact_users") * 1.2)
        ).alias("users_ok"),
        (
            (F.col("approx_med") >= F.col("p40"))
            & (F.col("approx_med") <= F.col("p60"))
        ).alias("med_ok"),
    ).orderBy("event_type")


FN_AGG_APPROX_SQL = """
SELECT event_type,
  COUNT(DISTINCT user_id) AS exact_users,
  COUNT(DISTINCT user_id)
    BETWEEN COUNT(DISTINCT user_id) * 0.8 AND COUNT(DISTINCT user_id) * 1.2
    AS users_ok,
  quantile_cont(value, 0.5)
    BETWEEN quantile_cont(value, 0.40) AND quantile_cont(value, 0.60)
    AS med_ok
FROM events
GROUP BY event_type
ORDER BY event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "fn_string": QuerySpec(fn_string, FN_STRING_SQL),
    "fn_regex": QuerySpec(fn_regex, FN_REGEX_SQL),
    "fn_math": QuerySpec(fn_math, FN_MATH_SQL),
    "fn_datetime": QuerySpec(fn_datetime, FN_DATETIME_SQL),
    "fn_conditional": QuerySpec(fn_conditional, FN_CONDITIONAL_SQL),
    "fn_array": QuerySpec(fn_array, FN_ARRAY_SQL),
    "fn_lambda": QuerySpec(fn_lambda, FN_LAMBDA_SQL),
    "fn_map_struct": QuerySpec(fn_map_struct, FN_MAP_STRUCT_SQL),
    "fn_hash_encoding": QuerySpec(fn_hash_encoding, FN_HASH_SQL),
    "fn_cast_try": QuerySpec(fn_cast_try, FN_CAST_SQL),
    "fn_json": QuerySpec(fn_json, FN_JSON_SQL),
    "fn_agg_stats": QuerySpec(fn_agg_stats, FN_AGG_STATS_SQL),
    "fn_agg_collect": QuerySpec(fn_agg_collect, FN_AGG_COLLECT_SQL),
    "fn_agg_minmax_by": QuerySpec(fn_agg_minmax_by, FN_AGG_MINMAX_BY_SQL),
    "fn_agg_filter": QuerySpec(fn_agg_filter, FN_AGG_FILTER_SQL),
    "fn_agg_regr": QuerySpec(fn_agg_regr, FN_AGG_REGR_SQL),
    "fn_agg_approx": QuerySpec(fn_agg_approx, FN_AGG_APPROX_SQL),
}
