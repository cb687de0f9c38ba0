"""Query catalog: every SURVEY.md §2 operator family as a (Spark builder,
DuckDB oracle SQL) pair over the driver's testdata tables.

Conventions that make the cross-engine value-hash comparison exact:

* md5 is the only hash function used (bit-identical in both engines);
* every float that is summed is first floor-quantized to integer units
  (``floor(x*scale)`` of an identically-computed double is deterministic;
  integer sums are order-independent) — the "cents idiom";
* every window/rank ordering carries a unique tie-break column;
* DuckDB ``sum(BIGINT)`` returns HUGEINT and ``floor`` returns DOUBLE, so
  oracle SQL casts both back to BIGINT;
* timestamps are output as formatted strings, never raw;
* aliases match exactly between the two sides (driver hashes by column name).

Every entry has a DuckDB oracle — including the two flagship end-to-end
extraction entries, whose oracle (plans.extract_oracle) replays the whole
candidate chain in SQL generated from the same character maps.  The pytest
parity suite additionally pins the kernels bit-exactly against the pandas
oracle on richer synthetic corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions import text as TX
from ..operators import dedup as DD
from ..operators import similarity_search as SS
from ..sources.derived import (serial_expr, corrupt_expr, SERIAL_SQL,
                               CORRUPT_SQL, docs_from_documents)

# --------------------------------------------------------------------------- #
# helpers
# --------------------------------------------------------------------------- #

def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def cents(col) -> F.Column:
    """floor(x*100) as long — the exact-sum idiom for money-like doubles."""
    return F.floor(col * 100).cast("long")


def micros(col) -> F.Column:
    return F.floor(col * 1_000_000).cast("long")


_Q: dict[str, dict] = {}


def _register(name: str, spark_fn, oracle: str | None):
    _Q[name] = {"spark": spark_fn, "oracle": oracle}


# =========================================================================== #
# 1. Relational core (TPC-H-ish)                                              #
# =========================================================================== #

# --- A-class aggregation: pricing summary (SURVEY §2.4 A1-A5 shape; TPC-H Q1)
def _q_pricing_summary(spark, sf):
    li = T(spark, sf, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(cents(F.col("l_quantity"))).alias("sum_qty_c"),
                 F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_c"),
                 F.sum(cents(F.col("l_extendedprice")
                             * (1 - F.col("l_discount")))).alias("sum_disc_c"),
                 F.count("*").alias("n_rows"))
            .orderBy("l_returnflag", "l_linestatus"))


_register("pricing_summary", _q_pricing_summary, """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(FLOOR(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
       CAST(SUM(CAST(FLOOR(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_c,
       CAST(SUM(CAST(FLOOR(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_c,
       COUNT(*) AS n_rows
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")


# --- W1/W3 arg-max per group: top customer per nation (row_number window)
def _q_top_customer_per_nation(spark, sf):
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders")
    spend = (o.groupBy("o_custkey")
             .agg(F.sum(cents(F.col("o_totalprice"))).alias("spend_c")))
    j = c.join(spend, c.c_custkey == spend.o_custkey, "inner")
    w = W.partitionBy("c_nationkey").orderBy(F.desc("spend_c"), F.asc("c_custkey"))
    return (j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("c_nationkey", "c_custkey", "c_name", "spend_c")
            .orderBy("c_nationkey"))


_register("top_customer_per_nation", _q_top_customer_per_nation, """
WITH spend AS (
  SELECT o_custkey, CAST(SUM(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS spend_c
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT c_nationkey, c_custkey, c_name, spend_c,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY spend_c DESC, c_custkey ASC) AS rn
  FROM customer JOIN spend ON c_custkey = o_custkey
)
SELECT c_nationkey, c_custkey, c_name, spend_c FROM ranked WHERE rn = 1
""")


# --- A1 shape: group-by-key score sum + arg-max member (candidate ranking)
def _q_event_score_agg(spark, sf):
    e = T(spark, sf, "events")
    w = W.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    best = (e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("event_type", F.col("event_id").alias("top_event"),
                    micros(F.col("value")).alias("top_value_q")))
    agg = (e.groupBy("event_type")
           .agg(F.sum(micros(F.col("value"))).alias("score_q"),
                F.count("*").alias("n")))
    return agg.join(best, "event_type").orderBy("event_type")


_register("event_score_agg", _q_event_score_agg, """
WITH agg AS (
  SELECT event_type, CAST(SUM(CAST(FLOOR(value*1000000) AS BIGINT)) AS BIGINT) AS score_q,
         COUNT(*) AS n
  FROM events GROUP BY event_type
), best AS (
  SELECT event_type, event_id AS top_event,
         CAST(FLOOR(value*1000000) AS BIGINT) AS top_value_q,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) AS rn
  FROM events
)
SELECT a.event_type, a.score_q, a.n, b.top_event, b.top_value_q
FROM agg a JOIN best b ON a.event_type = b.event_type AND b.rn = 1
""")


# --- A2 shape: merge-dedupe with repeat boost (max + 0.05 if seen > 1, cap 1)
def _q_merge_dedupe_boost(spark, sf):
    e = T(spark, sf, "events")
    # value scaled to [0,1] "confidence"; boost semantics of
    # ocr_adapter_improved.py:1310-1343 (single-boost variant)
    conf = F.least(F.col("value") / 100.0, F.lit(1.0))
    return (e.withColumn("conf", conf)
            .groupBy("user_id", "event_type")
            .agg(F.max("conf").alias("mx"), F.count("*").alias("n_seen"))
            .withColumn("merged_q", micros(
                F.least(F.lit(1.0),
                        F.col("mx") + F.when(F.col("n_seen") > 1, 0.05)
                        .otherwise(0.0))))
            .select("user_id", "event_type", "n_seen", "merged_q")
            .orderBy("user_id", "event_type"))


_register("merge_dedupe_boost", _q_merge_dedupe_boost, """
SELECT user_id, event_type, COUNT(*) AS n_seen,
       CAST(FLOOR(LEAST(1.0, MAX(LEAST(value/100.0, 1.0))
                        + CASE WHEN COUNT(*) > 1 THEN 0.05 ELSE 0.0 END)
                  * 1000000) AS BIGINT) AS merged_q
FROM events GROUP BY user_id, event_type
""")


# --- J1+A4: golden broadcast join + eval metrics (match-rate aggregation)
def _q_eval_metrics(spark, sf):
    o = T(spark, sf, "orders")
    c = T(spark, sf, "customer")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
    match = (F.col("c_acctbal") > 0).cast("int")
    return (j.agg(F.count("*").alias("total"),
                  F.sum(F.col("c_custkey").isNotNull().cast("int")).alias("detected"),
                  F.sum(F.coalesce(match, F.lit(0))).alias("hits"),
                  F.floor(F.sum(F.coalesce(match, F.lit(0)))
                          / F.count("*") * 10000).cast("long").alias("hit_rate_bp")))


_register("eval_metrics", _q_eval_metrics, """
SELECT COUNT(*) AS total,
       CAST(SUM(CASE WHEN c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS detected,
       CAST(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       CAST(FLOOR(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)
                  / COUNT(*) * 10000) AS BIGINT) AS hit_rate_bp
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
""")


# --- SO5/resume anti-join: customers with no orders before 1996 (the
# resume done-set shape: docs left_anti committed ids; date bound keeps the
# result non-empty at every sf)
def _q_resume_anti_join(spark, sf):
    c = T(spark, sf, "customer")
    o = (T(spark, sf, "orders")
         .filter(F.col("o_orderdate") < F.lit("1996-01-01")))
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_without_orders"))
            .orderBy("c_mktsegment"))


_register("resume_anti_join", _q_resume_anti_join, """
SELECT c_mktsegment, COUNT(*) AS n_without_orders
FROM customer WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
GROUP BY c_mktsegment
""")


# --- J3 cross join: param grid analog
def _q_param_grid_cross(spark, sf):
    r = T(spark, sf, "region")
    n = T(spark, sf, "nation")
    return (r.crossJoin(n)
            .select("r_name", "n_name",
                    (F.col("r_regionkey") * 100 + F.col("n_nationkey"))
                    .alias("cell_id"))
            .orderBy("cell_id"))


_register("param_grid_cross", _q_param_grid_cross, """
SELECT r_name, n_name, r_regionkey*100 + n_nationkey AS cell_id
FROM region CROSS JOIN nation
""")


# --- J4 prefix-membership join
def _q_prefix_join(spark, sf):
    p = T(spark, sf, "part")
    return (p.withColumn("pfx", F.substring("p_type", 1, 3))
            .filter(F.col("pfx").isin("STA", "PRO", "ECO"))
            .groupBy("pfx")
            .agg(F.count("*").alias("n_parts"),
                 F.sum(cents(F.col("p_retailprice"))).alias("sum_price_c"))
            .orderBy("pfx"))


_register("prefix_join", _q_prefix_join, """
SELECT substring(p_type, 1, 3) AS pfx, COUNT(*) AS n_parts,
       CAST(SUM(CAST(FLOOR(p_retailprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c
FROM part WHERE substring(p_type, 1, 3) IN ('STA','PRO','ECO')
GROUP BY substring(p_type, 1, 3)
""")


# --- A3 cube: db-stats one-pass grouping sets
def _q_stats_cube(spark, sf):
    o = T(spark, sf, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.sum(cents(F.col("o_totalprice"))).alias("sum_c"))
            .orderBy("o_orderstatus", "o_orderpriority"))


_register("stats_cube", _q_stats_cube, """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_c
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")


# --- W4 pagination: sort + offset/limit as a rank window.  SEMANTICS-COMPAT
# ONLY: the unpartitioned row_number window funnels the whole table through
# one task (matches the reference's offset pagination, app/routers/
# serials.py:221-230, and is fine at its scale).  The scale-safe form is
# `history_keyset` below — prefer it everywhere a cursor is available.
def _q_history_page(spark, sf):
    e = T(spark, sf, "events")
    w = W.orderBy(F.desc("ts"), F.asc("event_id"))
    return (e.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") > 10) & (F.col("rn") <= 30))
            .select("rn", "event_id", "event_type",
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s")))


_register("history_page", _q_history_page, """
WITH ranked AS (
  SELECT event_id, event_type, ts,
         ROW_NUMBER() OVER (ORDER BY ts DESC, event_id ASC) AS rn
  FROM events
)
SELECT rn, event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM ranked WHERE rn > 10 AND rn <= 30
""")


# --- W4 scale path: keyset pagination.  The cursor is the (ts, event_id) of
# the last row of the previous page; the page is a pushed-down predicate +
# top-N — Spark plans TakeOrderedAndProject (per-partition partial top-20,
# merge on the driver), no global window, no single-partition exchange.
def _q_history_keyset(spark, sf):
    e = T(spark, sf, "events")
    cur_ts = F.lit("2024-02-01 00:00:00").cast("timestamp")
    cur_id = F.lit(10_000)
    after_cursor = (F.col("ts") < cur_ts) | \
        ((F.col("ts") == cur_ts) & (F.col("event_id") > cur_id))
    return (e.filter(after_cursor)
            .orderBy(F.desc("ts"), F.asc("event_id"))
            .limit(20)
            .select("event_id", "event_type",
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s")))


_register("history_keyset", _q_history_keyset, """
SELECT event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM events
WHERE ts < TIMESTAMP '2024-02-01 00:00:00'
   OR (ts = TIMESTAMP '2024-02-01 00:00:00' AND event_id > 10000)
ORDER BY ts DESC, event_id ASC LIMIT 20
""")


# --- SO2/SO4: set operations (union / intersect / except)
def _q_set_ops(spark, sf):
    e = T(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id").distinct()
    buys = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    u = clicks.union(buys).distinct().agg(F.count("*").alias("n_union"))
    i = clicks.intersect(buys).agg(F.count("*").alias("n_intersect"))
    x = clicks.subtract(buys).agg(F.count("*").alias("n_except"))
    return u.crossJoin(i).crossJoin(x)


_register("set_ops", _q_set_ops, """
SELECT (SELECT COUNT(*) FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type='click'
          UNION SELECT DISTINCT user_id FROM events WHERE event_type='purchase')) AS n_union,
       (SELECT COUNT(*) FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type='click'
          INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type='purchase')) AS n_intersect,
       (SELECT COUNT(*) FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type='click'
          EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type='purchase')) AS n_except
""")


# --- F7/X8: date-range filter + daily buckets
def _q_date_buckets(spark, sf):
    e = T(spark, sf, "events")
    return (e.filter((F.col("ts") >= F.lit("2024-01-01"))
                     & (F.col("ts") < F.lit("2024-01-08")))
            .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count("*").alias("n"),
                 F.sum(micros(F.col("value"))).alias("sum_q"))
            .orderBy("day"))


_register("date_buckets", _q_date_buckets, """
SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(value*1000000) AS BIGINT)) AS BIGINT) AS sum_q
FROM events
WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-08 00:00:00'
GROUP BY strftime(ts, '%Y-%m-%d')
""")


# --- X9 JSON encode of event payloads (app/utils/logging.py:77-85) as a
# COLUMN op (F.to_json over a struct) — ints/strings only, so the compact
# JSON text is byte-identical across engines
def _q_events_json(spark, sf):
    e = T(spark, sf, "events")
    payload = F.struct(
        F.col("event_id"), F.col("event_type"),
        micros(F.col("value")).alias("value_q"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"))
    # ignoreNullFields=false: Spark otherwise OMITS null keys while DuckDB
    # emits "key": null — divergent the moment the table has a NULL
    return (e.filter(F.col("event_id") < 200)
            .select("event_id",
                    F.to_json(payload, {"ignoreNullFields": "false"})
                    .alias("event_json"))
            .orderBy("event_id"))


_register("events_json", _q_events_json, """
SELECT event_id,
       to_json(struct_pack(
         event_id := event_id,
         event_type := event_type,
         value_q := CAST(FLOOR(value*1000000) AS BIGINT),
         ts_s := strftime(ts, '%Y-%m-%d %H:%M:%S'))) AS event_json
FROM events WHERE event_id < 200
""")


# --- A5 export summary
def _q_export_summary(spark, sf):
    o = T(spark, sf, "orders")
    return (o.groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 F.min(cents(F.col("o_totalprice"))).alias("min_c"),
                 F.max(cents(F.col("o_totalprice"))).alias("max_c"),
                 F.floor(F.sum(cents(F.col("o_totalprice"))) / F.count("*"))
                 .cast("long").alias("avg_c"))
            .orderBy("o_orderstatus"))


_register("export_summary", _q_export_summary, """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(MIN(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS min_c,
       CAST(MAX(CAST(FLOOR(o_totalprice*100) AS BIGINT)) AS BIGINT) AS max_c,
       CAST(FLOOR(SUM(CAST(FLOOR(o_totalprice*100) AS BIGINT)) / COUNT(*)) AS BIGINT) AS avg_c
FROM orders GROUP BY o_orderstatus
""")


# --- SO3 sliding windows, relational form
def _q_sliding_windows(spark, sf):
    p = T(spark, sf, "part")
    wins = F.when(
        F.length("p_name") >= 12,
        F.transform(F.sequence(F.lit(1), F.length("p_name") - 11),
                    lambda i: F.substring(F.col("p_name"), i, F.lit(12)))
    ).otherwise(F.array().cast("array<string>"))
    return (p.select(F.explode(wins).alias("win"))
            .groupBy("win").agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 3)
            .orderBy(F.desc("n"), F.asc("win"))
            .limit(50))


_register("sliding_windows", _q_sliding_windows, """
WITH wins AS (
  SELECT unnest(CASE WHEN length(p_name) >= 12
                THEN [substring(p_name, i, 12) FOR i IN range(1, length(p_name)-10)]
                ELSE [] END) AS win
  FROM part
)
SELECT win, COUNT(*) AS n FROM wins GROUP BY win HAVING COUNT(*) >= 3
ORDER BY n DESC, win ASC LIMIT 50
""")


# =========================================================================== #
# 2. Serial semantics in pure SQL (X2/X4/X5/F1/F2 columnar)                   #
# =========================================================================== #

def _q_serial_derive_extract(spark, sf):
    d = T(spark, sf, "documents")
    line = F.concat(F.lit("Serial: "), serial_expr(F.col("doc_id")))
    return (d.select(
        "doc_id",
        F.regexp_extract(line, r"Serial[:,.]?\s?([A-Z0-9]{12})", 1)
        .alias("serial"))
        .withColumn("masked",
                    F.concat(F.substring("serial", 1, 4), F.lit("***"),
                             F.substring("serial", 9, 4)))
        .orderBy("doc_id"))


_register("serial_derive_extract", _q_serial_derive_extract, f"""
WITH s AS (SELECT doc_id, {SERIAL_SQL.format(id='doc_id')} AS ser FROM documents)
SELECT doc_id,
       regexp_extract('Serial: ' || ser, 'Serial[:,.]?\\s?([A-Z0-9]{{12}})', 1) AS serial,
       substring(ser, 1, 4) || '***' || substring(ser, 9, 4) AS masked
FROM s
""")


def _q_serial_normalize(spark, sf):
    d = T(spark, sf, "documents")
    noisy = corrupt_expr(serial_expr(F.col("doc_id")))
    # X2 basic translate map (ocr_adapter_improved.py:351-366)
    return (d.select(
        "doc_id", noisy.alias("noisy"),
        F.translate(noisy, "OILZSBQGDT", "0112580607").alias("normalized"))
        .orderBy("doc_id"))


_register("serial_normalize", _q_serial_normalize, f"""
WITH s AS (SELECT doc_id,
  {CORRUPT_SQL.format(s=SERIAL_SQL.format(id='doc_id'))} AS noisy FROM documents)
SELECT doc_id, noisy,
       translate(noisy, 'OILZSBQGDT', '0112580607') AS normalized
FROM s
""")


_K1_LIST = list("CFGMPVWXY")
_K2_LIST = ["DM", "DN", "FK", "G8", "QP", "RN", "RM", "SG", "VM", "YM"]
_K3_LIST = ["C07", "C17", "C1M", "C2V", "F4N", "F5K", "FC7", "G8V", "QT4"]
_K1 = ",".join(f"'{p}'" for p in _K1_LIST)
_K2 = ",".join(f"'{p}'" for p in _K2_LIST)
_K3 = ",".join(f"'{p}'" for p in _K3_LIST)
_COMMON = "'C','F','G','D','M','P','V','W','X','Y'"


def _q_serial_validate(spark, sf):
    """validate_apple_serial_extended (validation.py:147-214) as pure
    columnar predicates, over clean + corrupted derived serials."""
    d = T(spark, sf, "documents")
    clean = d.select("doc_id", F.lit("clean").alias("variant"),
                     serial_expr(F.col("doc_id")).alias("s"))
    noisy = d.select("doc_id", F.lit("noisy").alias("variant"),
                     corrupt_expr(serial_expr(F.col("doc_id"))).alias("s"))
    u = clean.unionByName(noisy)
    up = F.upper(F.trim(F.col("s")))
    basic = up.rlike("^[A-Z0-9]{12}$")
    known = (F.substring(up, 1, 1).isin(*_K1_LIST)
             | F.substring(up, 1, 2).isin(*_K2_LIST)
             | F.substring(up, 1, 3).isin(*_K3_LIST))
    e1 = (~F.substring(up, 1, 1).isin(*_COMMON.replace("'", "").split(","))).cast("int")
    e2 = (~F.substring(up, 1, 1).rlike("^[A-Z]$")).cast("int")
    e3 = (~F.substring(up, 2, 1).rlike("^[0-9]$")).cast("int")
    pos_ok = known | ((e1 + e2 + e3) <= 2)
    confus = F.length(up) - F.length(F.regexp_replace(up, "[OIZSBQGDT]", ""))
    last4 = F.substring(up, 9, 4).rlike("[0-9]")
    valid = basic & pos_ok & (confus <= 3) & last4
    return (u.select("doc_id", "variant", "s",
                     valid.alias("is_valid"),
                     confus.cast("int").alias("n_confusable"))
            .orderBy("doc_id", "variant"))


_register("serial_validate", _q_serial_validate, f"""
WITH base AS (
  SELECT doc_id, 'clean' AS variant, {SERIAL_SQL.format(id='doc_id')} AS s FROM documents
  UNION ALL
  SELECT doc_id, 'noisy' AS variant,
         {CORRUPT_SQL.format(s=SERIAL_SQL.format(id='doc_id'))} AS s FROM documents
), checks AS (
  SELECT doc_id, variant, s, upper(trim(s)) AS up FROM base
)
SELECT doc_id, variant, s,
       (regexp_matches(up, '^[A-Z0-9]{{12}}$')
        AND (substring(up,1,1) IN ({_K1}) OR substring(up,1,2) IN ({_K2})
             OR substring(up,1,3) IN ({_K3})
             OR ((CASE WHEN substring(up,1,1) NOT IN ({_COMMON}) THEN 1 ELSE 0 END)
                 + (CASE WHEN NOT regexp_matches(substring(up,1,1), '^[A-Z]$') THEN 1 ELSE 0 END)
                 + (CASE WHEN NOT regexp_matches(substring(up,2,1), '^[0-9]$') THEN 1 ELSE 0 END)) <= 2)
        AND length(up) - length(regexp_replace(up, '[OIZSBQGDT]', '', 'g')) <= 3
        AND regexp_matches(substring(up,9,4), '[0-9]')) AS is_valid,
       CAST(length(up) - length(regexp_replace(up, '[OIZSBQGDT]', '', 'g')) AS INTEGER)
         AS n_confusable
FROM checks
""")


# --------------------------------------------------------------------------- #
# Client-side validation ladder (app/utils/client_validation.py:7-308):       #
# position-aware digit->letter corrections, the client's OWN prefix sets      #
# (including the OCR'd CO* forms of C0* — the pos-1 '0'->'O' correction       #
# produces exactly those), pos-0 letter check, last-4-digit and middle-mix    #
# warnings, confidence shaping (-0.05/correction, -0.03/warning, +0.10 known  #
# prefix, clamp [0,1]) and the REJECT/BORDERLINE/ACCEPT ladder.  All          #
# arithmetic in integer micro-units (the penalties are decimal constants, so  #
# micro-units are exact; the catalog convention for floats that must hash).   #
# --------------------------------------------------------------------------- #

# client_validation.py:111-116 — verbatim set contents, re-derived; the
# plain lists feed Spark isin(), the quoted strings are their SQL form
_CK3_LIST = ([f"C0{x}" for x in "23456789ABCDEF"]
             + [f"CO{x}" for x in "23456789ABCDEF"])
_CK2_LIST = [f"C{x}" for x in "123456789ABCDEF"]
_CK1_LIST = list("DEFGHJKLMNPQRSTUVWXYZ")
_CK3 = ",".join(f"'{p}'" for p in _CK3_LIST)
_CK2 = ",".join(f"'{p}'" for p in _CK2_LIST)
_CK1 = ",".join(f"'{p}'" for p in _CK1_LIST)

# per-position digit->letter correction maps (client_validation.py:38-108),
# keyed by 0-based position: pos 0 corrects only 0/1, pos 1 adds 5,
# pos 2-11 add 8
_CPOS = {0: ("01", "OI"), 1: ("015", "OIS")}
_CPOS_DEFAULT = ("0158", "OISB")


def _client_corr_pair(pos: int):
    return _CPOS.get(pos, _CPOS_DEFAULT)


def _q_client_validate(spark, sf):
    """The client-side validator as pure columnar expressions over clean,
    OCR-corrupted, and truncated derived serials with a deterministic
    per-row confidence (``(doc_id*7 + variant offset) % 101`` percent)."""
    d = T(spark, sf, "documents")
    parts = []
    for variant, offs, sexpr in (
            ("clean", 0, serial_expr(F.col("doc_id"))),
            ("noisy", 13, corrupt_expr(serial_expr(F.col("doc_id")))),
            ("short", 29, F.substring(serial_expr(F.col("doc_id")), 1, 8))):
        parts.append(d.select(
            "doc_id", F.lit(variant).alias("variant"), sexpr.alias("s"),
            ((F.col("doc_id") * 7 + offs) % 101).alias("conf_pct")))
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    up = F.upper(F.trim(F.col("s")))
    basic = up.rlike("^[A-Z0-9]{12}$")
    corr_chars = []
    n_corr = F.lit(0)
    for pos in range(1, 13):
        frm, to = _client_corr_pair(pos - 1)
        ch = F.substring(up, pos, 1)
        cc = F.translate(ch, frm, to)
        corr_chars.append(cc)
        n_corr = n_corr + (cc != ch).cast("int")
    corrected = F.concat(*corr_chars)
    known = (F.substring(corrected, 1, 3).isin(*_CK3_LIST)
             | F.substring(corrected, 1, 2).isin(*_CK2_LIST)
             | F.substring(corrected, 1, 1).isin(*_CK1_LIST))
    pos0_err = ~F.substring(corrected, 1, 1).rlike("^[A-Z]$")
    last4_warn = ~F.substring(corrected, 9, 4).rlike("[0-9]")
    mid = F.substring(corrected, 4, 5)
    mid_warn = ~(mid.rlike("[A-Z]") & mid.rlike("[0-9]"))
    n_warn = last4_warn.cast("int") + mid_warn.cast("int")
    req = (~known) | pos0_err | last4_warn | mid_warn
    adj_q = F.greatest(F.lit(0), F.least(F.lit(1000000),
            F.col("conf_pct") * 10000 - n_corr * 50000 - n_warn * 30000
            + F.when(known, 100000).otherwise(0)))
    level = (F.when(~basic, "reject")
             .when((adj_q >= 850000) & ~req & known, "accept")
             .when((adj_q >= 650000) & known, "borderline")
             .otherwise("reject"))
    is_valid = basic & (level != F.lit("reject")) & known
    return (u.select(
        "doc_id", "variant", "s",
        is_valid.alias("is_valid"), level.alias("level"),
        F.when(basic & (n_corr > 0), corrected).alias("corrected"),
        F.when(basic, n_corr).otherwise(0).cast("int").alias("n_corrections"),
        F.when(basic, n_warn).otherwise(0).cast("int").alias("n_warnings"),
        F.when(basic, req).otherwise(F.lit(False))
         .alias("requires_confirmation"),
        F.when(basic, adj_q).cast("bigint").alias("conf_adj_q"),
        (level == F.lit("accept")).alias("submit"))
        .orderBy("doc_id", "variant"))


def _client_validate_sql() -> str:
    corr = []
    ncorr = []
    for pos in range(1, 13):
        frm, to = _client_corr_pair(pos - 1)
        corr.append(f"translate(substring(up,{pos},1),'{frm}','{to}')")
        ncorr.append(f"(CASE WHEN translate(substring(up,{pos},1),"
                     f"'{frm}','{to}') <> substring(up,{pos},1) "
                     "THEN 1 ELSE 0 END)")
    corrected = " || ".join(corr)
    n_corr = " + ".join(ncorr)
    base = SERIAL_SQL.format(id="doc_id")
    return f"""
WITH base AS (
  SELECT doc_id, 'clean' AS variant, {base} AS s,
         (doc_id * 7 + 0) % 101 AS conf_pct FROM documents
  UNION ALL
  SELECT doc_id, 'noisy' AS variant, {CORRUPT_SQL.format(s=base)} AS s,
         (doc_id * 7 + 13) % 101 AS conf_pct FROM documents
  UNION ALL
  SELECT doc_id, 'short' AS variant, substring({base}, 1, 8) AS s,
         (doc_id * 7 + 29) % 101 AS conf_pct FROM documents
), norm AS (
  SELECT doc_id, variant, s, conf_pct, upper(trim(s)) AS up FROM base
), corr AS (
  SELECT doc_id, variant, s, conf_pct,
         regexp_matches(up, '^[A-Z0-9]{{12}}$') AS basic,
         {corrected} AS corrected,
         {n_corr} AS n_corr
  FROM norm
), checks AS (
  SELECT *,
         (substring(corrected,1,3) IN ({_CK3})
          OR substring(corrected,1,2) IN ({_CK2})
          OR substring(corrected,1,1) IN ({_CK1})) AS known,
         NOT regexp_matches(substring(corrected,1,1), '^[A-Z]$') AS pos0_err,
         NOT regexp_matches(substring(corrected,9,4), '[0-9]') AS last4_warn,
         NOT (regexp_matches(substring(corrected,4,5), '[A-Z]')
              AND regexp_matches(substring(corrected,4,5), '[0-9]'))
           AS mid_warn
  FROM corr
), shaped AS (
  SELECT *,
         (CASE WHEN last4_warn THEN 1 ELSE 0 END
          + CASE WHEN mid_warn THEN 1 ELSE 0 END) AS n_warn,
         ((NOT known) OR pos0_err OR last4_warn OR mid_warn) AS req
  FROM checks
), adj AS (
  SELECT *,
         GREATEST(0, LEAST(1000000,
           conf_pct * 10000 - n_corr * 50000 - n_warn * 30000
           + CASE WHEN known THEN 100000 ELSE 0 END)) AS adj_q
  FROM shaped
), leveled AS (
  SELECT *,
         CASE WHEN NOT basic THEN 'reject'
              WHEN adj_q >= 850000 AND NOT req AND known THEN 'accept'
              WHEN adj_q >= 650000 AND known THEN 'borderline'
              ELSE 'reject' END AS level
  FROM adj
)
SELECT doc_id, variant, s,
       (basic AND level <> 'reject' AND known) AS is_valid,
       level,
       CASE WHEN basic AND n_corr > 0 THEN corrected END AS corrected,
       CAST(CASE WHEN basic THEN n_corr ELSE 0 END AS INT) AS n_corrections,
       CAST(CASE WHEN basic THEN n_warn ELSE 0 END AS INT) AS n_warnings,
       (basic AND req) AS requires_confirmation,
       CAST(CASE WHEN basic THEN adj_q END AS BIGINT) AS conf_adj_q,
       (level = 'accept') AS submit
FROM leveled ORDER BY doc_id, variant
"""


_register("client_validate", _q_client_validate, _client_validate_sql())


# =========================================================================== #
# 3. Text analysis (documents)                                                #
# =========================================================================== #

def _q_text_stats(spark, sf):
    d = T(spark, sf, "documents")
    t = F.col("text")
    return (d.select("doc_id",
                     TX.token_count(t).alias("n_tokens"),
                     F.length(t).alias("n_chars"),
                     TX.stopword_ratio_q(t).alias("stopword_q"),
                     TX.lang_id(t).alias("lang"),
                     TX.quality_score_q(t).alias("quality_q"))
            .orderBy("doc_id"))


_STOP_SQL = "['the','a','of','and','to','in','is','it','that','for']"

_register("text_stats", _q_text_stats, f"""
WITH toks AS (
  SELECT doc_id, text,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS tk
  FROM documents
), feats AS (
  SELECT doc_id, text, tk, len(tk) AS n_tokens,
         len(list_filter(tk, t -> list_contains({_STOP_SQL}, t))) AS n_stop,
         len(list_distinct(tk)) AS n_distinct
  FROM toks
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(length(text) AS INTEGER) AS n_chars,
       CAST(FLOOR(n_stop / n_tokens * 1000000) AS BIGINT) AS stopword_q,
       CASE WHEN FLOOR(n_stop / n_tokens * 1000000) >= 50000
            THEN 'en' ELSE 'unk' END AS lang,
       CAST(FLOOR((LEAST(n_tokens/50.0, 1.0)*0.5 + (n_distinct/n_tokens)*0.3
             + (length(regexp_replace(text,'[^A-Za-z]','','g'))
                / GREATEST(length(text),1))*0.2) * 1000000) AS BIGINT) AS quality_q
FROM feats
""")


def _q_quality_filter(spark, sf):
    """Training-data quality gate: per-doc keep/drop decision with the
    failing reason (the companion of dedup_decisions on the quality axis) —
    drop when not identified as English, too short, or low composite
    quality; first failing check names the reason (reference analog: the
    rejection reasons of app/routers/serials.py:135-153)."""
    d = T(spark, sf, "documents")
    t = F.col("text")
    lang = TX.lang_id(t)
    n_tok = TX.token_count(t)
    q = TX.quality_score_q(t)
    reason = (F.when(lang != "en", "lang")
              .when(n_tok < 10, "too_short")
              .when(q < 400_000, "low_quality")
              .otherwise(None))
    return (d.select("doc_id", lang.alias("lang"),
                     n_tok.alias("n_tokens"), q.alias("quality_q"),
                     reason.isNull().alias("keep"), reason.alias("reason"))
            .orderBy("doc_id"))


_register("quality_filter", _q_quality_filter, f"""
WITH toks AS (
  SELECT doc_id, text,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS tk
  FROM documents
), feats AS (
  SELECT doc_id, text, len(tk) AS n_tokens,
         len(list_filter(tk, t -> list_contains({_STOP_SQL}, t))) AS n_stop,
         len(list_distinct(tk)) AS n_distinct
  FROM toks
), scored AS (
  SELECT doc_id,
         CASE WHEN FLOOR(n_stop / n_tokens * 1000000) >= 50000
              THEN 'en' ELSE 'unk' END AS lang,
         CAST(n_tokens AS INTEGER) AS n_tokens,
         CAST(FLOOR((LEAST(n_tokens/50.0, 1.0)*0.5 + (n_distinct/n_tokens)*0.3
               + (length(regexp_replace(text,'[^A-Za-z]','','g'))
                  / GREATEST(length(text),1))*0.2) * 1000000) AS BIGINT)
           AS quality_q
  FROM feats
)
SELECT doc_id, lang, n_tokens, quality_q,
       (CASE WHEN lang != 'en' THEN 'lang'
             WHEN n_tokens < 10 THEN 'too_short'
             WHEN quality_q < 400000 THEN 'low_quality' END) IS NULL AS keep,
       CASE WHEN lang != 'en' THEN 'lang'
            WHEN n_tokens < 10 THEN 'too_short'
            WHEN quality_q < 400000 THEN 'low_quality' END AS reason
FROM scored
""")


def _q_token_stats_bpe(spark, sf):
    """Whitespace vs BPE-ish subword token counts + fertility (pieces per
    word, in micro units) — the token-budgeting signal a training-data
    pipeline computes per document."""
    d = T(spark, sf, "documents")
    t = F.col("text")
    n_ws = TX.token_count(t)
    n_bpe = TX.bpe_token_count(t)
    return (d.select("doc_id",
                     n_ws.alias("n_ws"),
                     n_bpe.alias("n_bpe"),
                     F.floor(n_bpe / n_ws * 1_000_000).cast("long")
                     .alias("fertility_q"))
            .orderBy("doc_id"))


_register("token_stats_bpe", _q_token_stats_bpe, r"""
WITH toks AS (
  SELECT doc_id,
         len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
           AS n_ws,
         len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]'))
           AS n_bpe
  FROM documents
)
SELECT doc_id, CAST(n_ws AS INTEGER) AS n_ws, CAST(n_bpe AS INTEGER) AS n_bpe,
       CAST(FLOOR(n_bpe / n_ws * 1000000) AS BIGINT) AS fertility_q
FROM toks
""")


def _q_fingerprint(spark, sf):
    d = T(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return (d.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))
            .orderBy("doc_id"))


_register("fingerprint", _q_fingerprint, """
WITH bounded AS (
  SELECT doc_id, substring(text, 1, 4096) AS t
  FROM documents WHERE doc_id < 100
)
SELECT doc_id,
       list_min([md5(substring(t, i, 8))
                 FOR i IN range(1, GREATEST(length(t)-7, 1) + 1)]) AS fp
FROM bounded
""")


# =========================================================================== #
# 4. Deduplication                                                            #
# =========================================================================== #

def _dup_corpus(spark, sf):
    """documents ∪ exact copy (ids +100000) ∪ near-dup copy (last two words
    dropped, ids +200000) — the dedup testbed both engines derive identically."""
    d = T(spark, sf, "documents").select("doc_id", "text")
    c1 = d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    c2 = d.select((F.col("doc_id") + 200000).alias("doc_id"),
                  F.regexp_replace("text", r" \S+ \S+$", "").alias("text"))
    return d.unionByName(c1).unionByName(c2)


_DUP_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, text FROM documents
  UNION ALL SELECT doc_id + 200000, regexp_replace(text, ' \\S+ \\S+$', '') FROM documents
"""


def _q_dedup_exact(spark, sf):
    return (DD.exact_dup_groups(_dup_corpus(spark, sf))
            .orderBy("digest"))


_register("dedup_exact", _q_dedup_exact, f"""
WITH corpus AS ({_DUP_SQL})
SELECT md5(text) AS digest, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
""")


def _q_dedup_minhash_lsh(spark, sf):
    corpus = _dup_corpus(spark, sf).filter(
        (F.col("doc_id") % 100000) < 200)  # bound the candidate set
    return (DD.lsh_candidate_pairs(corpus, "doc_id", "text", k=12, bands=4)
            .orderBy("id_a", "id_b"))


def _minhash_sql(k: int = 12, bands: int = 4) -> str:
    r = k // bands
    sig_cols = ", ".join(
        f"min(md5('{i}' || shingle)) AS s{i}" for i in range(k))
    band_selects = " UNION ALL ".join(
        "SELECT doc_id AS id, {b} AS band, {key} AS bkey FROM sig".format(
            b=b, key=" || ".join(f"s{b * r + j}" for j in range(r)))
        for b in range(bands))
    return f"""
WITH corpus AS ({_DUP_SQL}),
bounded AS (SELECT * FROM corpus WHERE doc_id % 100000 < 200),
toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS tk
  FROM bounded
),
shingles AS (
  SELECT DISTINCT doc_id,
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 FOR i IN range(1, GREATEST(len(tk)-2, 1) + 1)]) AS shingle
  FROM toks
),
sig AS (SELECT doc_id, {sig_cols} FROM shingles GROUP BY doc_id),
bands AS ({band_selects})
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
"""


_register("dedup_minhash_lsh", _q_dedup_minhash_lsh, _minhash_sql())


def _q_dedup_jaccard(spark, sf):
    corpus = _dup_corpus(spark, sf).filter((F.col("doc_id") % 100000) < 150)
    return (DD.jaccard_pairs(corpus, "doc_id", "text",
                             shingle_n=3, threshold_q=500_000)
            .orderBy("id_a", "id_b"))


_register("dedup_jaccard", _q_dedup_jaccard, f"""
WITH corpus AS ({_DUP_SQL}),
bounded AS (SELECT * FROM corpus WHERE doc_id % 100000 < 150),
toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS tk
  FROM bounded
),
shingles AS (
  SELECT DISTINCT doc_id AS id,
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 FOR i IN range(1, GREATEST(len(tk)-2, 1) + 1)]) AS shingle
  FROM toks
),
sizes AS (SELECT id, COUNT(*) AS sz FROM shingles GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       CAST(FLOOR(i / (sa.sz + sb.sz - i) * 1000000) AS BIGINT) AS jaccard_q
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE FLOOR(i / (sa.sz + sb.sz - i) * 1000000) >= 500000
""")


def _q_dedup_lsh_verified(spark, sf):
    """The 100 TB dedup path end-to-end: LSH banding proposes candidate
    pairs, exact n-gram Jaccard verifies ONLY those pairs (never all pairs)."""
    corpus = _dup_corpus(spark, sf).filter((F.col("doc_id") % 100000) < 150)
    cands = DD.lsh_candidate_pairs(corpus, "doc_id", "text", k=12, bands=4)
    return (DD.jaccard_verify(corpus, cands, "doc_id", "text",
                              shingle_n=3, threshold_q=500_000)
            .orderBy("id_a", "id_b"))


def _lsh_verified_sql() -> str:
    # the straightforward composition: reuse the minhash SQL for candidates
    # and the jaccard SQL for scores, semi-join them
    mh = _minhash_sql(12, 4).replace("WHERE doc_id % 100000 < 200",
                                     "WHERE doc_id % 100000 < 150")
    return f"""
WITH cand AS ({mh}),
corpus AS ({_DUP_SQL}),
bounded AS (SELECT * FROM corpus WHERE doc_id % 100000 < 150),
toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS tk
  FROM bounded
),
shingles AS (
  SELECT DISTINCT doc_id AS id,
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 FOR i IN range(1, GREATEST(len(tk)-2, 1) + 1)]) AS shingle
  FROM toks
),
sizes AS (SELECT id, COUNT(*) AS sz FROM shingles GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT i.id_a, i.id_b,
       CAST(FLOOR(i.i / (sa.sz + sb.sz - i.i) * 1000000) AS BIGINT) AS jaccard_q
FROM inter i
JOIN sizes sa ON sa.id = i.id_a
JOIN sizes sb ON sb.id = i.id_b
WHERE FLOOR(i.i / (sa.sz + sb.sz - i.i) * 1000000) >= 500000
  AND EXISTS (SELECT 1 FROM cand c WHERE c.id_a = i.id_a AND c.id_b = i.id_b)
"""


_register("dedup_lsh_verified", _q_dedup_lsh_verified, _lsh_verified_sql())


def _q_dedup_components(spark, sf):
    """Dedup group resolution — the step after pair generation: LSH candidate
    pairs collapsed to connected components, emitting (doc_id, component)
    where component = the cluster's min doc id (the keep id)."""
    corpus = _dup_corpus(spark, sf).filter((F.col("doc_id") % 100000) < 200)
    cands = DD.lsh_candidate_pairs(corpus, "doc_id", "text", k=12, bands=4)
    return (DD.connected_components(cands)
            .withColumnRenamed("id", "doc_id")
            .orderBy("doc_id"))


def _components_sql() -> str:
    # transitive closure via recursive CTE, then min reachable id per node —
    # the small-scale oracle for the iterative min-label propagation
    return f"""
WITH RECURSIVE cand AS ({_minhash_sql(12, 4)}),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM cand
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM cand
),
nodes AS (SELECT DISTINCT src AS id FROM sym),
reach AS (
  SELECT id, id AS peer FROM nodes
  UNION
  SELECT r.id, e.dst AS peer FROM reach r JOIN sym e ON e.src = r.peer
)
SELECT id AS doc_id, MIN(peer) AS component FROM reach GROUP BY id
"""


_register("dedup_components", _q_dedup_components, _components_sql())


def _q_dedup_decisions(spark, sf):
    """End of the dedup pipeline: one keep/drop decision per doc in any
    duplicate relation — exact groups claim members first, verified
    near-dup components claim the rest."""
    corpus = _dup_corpus(spark, sf).filter((F.col("doc_id") % 100000) < 150)
    return (DD.dedup_decisions(corpus, "doc_id", "text",
                               k=12, bands=4, threshold_q=500_000)
            .orderBy("doc_id"))


def _decisions_sql() -> str:
    verified = _lsh_verified_sql()
    return f"""
WITH RECURSIVE corpus AS ({_DUP_SQL}),
bounded AS (SELECT * FROM corpus WHERE doc_id % 100000 < 150),
digests AS (SELECT doc_id AS id, md5(text) AS digest FROM bounded),
grp AS (
  SELECT digest, COUNT(*) AS n, MIN(id) AS keep_id
  FROM digests GROUP BY digest HAVING COUNT(*) > 1
),
exact AS (
  SELECT d.id, g.keep_id, 'exact' AS method
  FROM digests d JOIN grp g ON d.digest = g.digest
),
verified AS ({verified}),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION ALL SELECT id_b, id_a FROM verified
),
nodes AS (SELECT DISTINCT src AS id FROM sym),
reach AS (
  SELECT id, id AS peer FROM nodes
  UNION
  SELECT r.id, e.dst AS peer FROM reach r JOIN sym e ON e.src = r.peer
),
near AS (
  SELECT id, MIN(peer) AS keep_id, 'near_dup' AS method
  FROM reach GROUP BY id
),
unioned AS (SELECT * FROM exact UNION ALL SELECT * FROM near),
ranked AS (
  SELECT id AS doc_id, keep_id, method,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY method ASC) AS rn
  FROM unioned
)
SELECT doc_id, keep_id, method FROM ranked WHERE rn = 1
"""


_register("dedup_decisions", _q_dedup_decisions, _decisions_sql())


def _q_dedup_simhash(spark, sf):
    """64-bit SimHash near-dup pairs: banded (4x16-bit word equi-join)
    candidate generation + exact Hamming verify (bit_count of XOR)."""
    corpus = _dup_corpus(spark, sf).filter((F.col("doc_id") % 100000) < 200)
    return (DD.simhash_near_dup_pairs(corpus, "doc_id", "text", hamming_max=3)
            .orderBy("id_a", "id_b"))


def _simhash_sql() -> str:
    bit_sums = []
    for j in range(64):
        ch = f"substring(h, {1 + j // 4}, 1)"
        val = f"(strpos('0123456789abcdef', {ch}) - 1)"
        bit = f"(CAST(FLOOR({val} / {2 ** (3 - j % 4)}) AS BIGINT) % 2)"
        bit_sums.append(f"SUM({bit}*2 - 1) AS c{j}")
    words = []
    for w in range(4):
        word = " + ".join(
            f"(CASE WHEN c{w * 16 + k} > 0 THEN {2 ** k} ELSE 0 END)"
            for k in range(16))
        words.append(f"CAST({word} AS BIGINT) AS w{w}")
    ham = " + ".join(f"bit_count(xor(sa.w{w}, sb.w{w}))" for w in range(4))
    return f"""
WITH corpus AS ({_DUP_SQL}),
bounded AS (SELECT * FROM corpus WHERE doc_id % 100000 < 200),
toks AS (
  SELECT doc_id AS id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM bounded
),
hashed AS (SELECT id, md5(tok) AS h FROM toks),
sums AS (SELECT id, {', '.join(bit_sums)} FROM hashed GROUP BY id),
sigs AS (SELECT id, {', '.join(words)} FROM sums),
bands AS (
  SELECT id, band, word FROM sigs,
       LATERAL (VALUES (0, w0), (1, w1), (2, w2), (3, w3)) AS t(band, word)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.word = b.word AND a.id < b.id
)
SELECT c.id_a, c.id_b, CAST({ham} AS INTEGER) AS hamming
FROM cand c JOIN sigs sa ON sa.id = c.id_a JOIN sigs sb ON sb.id = c.id_b
WHERE {ham} <= 3
"""


_register("dedup_simhash", _q_dedup_simhash, _simhash_sql())


def _q_dedup_embedding(spark, sf):
    e = T(spark, sf, "embeddings")
    jit = e.select((F.col("vec_id") + 100000).alias("vec_id"),
                   F.transform("embedding",
                               lambda x: (x.cast("double") * 1.001).cast("float"))
                   .alias("embedding"),
                   "label")
    corpus = e.select("vec_id", "embedding", "label").unionByName(jit)
    return (DD.embedding_dup_pairs(corpus, threshold_q=990_000)
            .orderBy("id_a", "id_b"))


_COS_SQL = """
CAST(FLOOR(
  CAST(list_sum([CAST(FLOOR({a}[i]::DOUBLE * {b}[i]::DOUBLE * 1e9) AS BIGINT)
                 FOR i IN range(1, 65)]) AS DOUBLE)
  / SQRT(CAST(list_sum([CAST(FLOOR({a}[i]::DOUBLE * {a}[i]::DOUBLE * 1e9) AS BIGINT)
                        FOR i IN range(1, 65)]) AS DOUBLE)
         * CAST(list_sum([CAST(FLOOR({b}[i]::DOUBLE * {b}[i]::DOUBLE * 1e9) AS BIGINT)
                          FOR i IN range(1, 65)]) AS DOUBLE))
  * 1000000) AS BIGINT)
"""

# integer-quantized cosine (operators/dedup.py::quantize_vec/int_cosine_q):
# q[i] = floor(x[i]·1e5), exact integer dot/norms, ONE double product +
# sqrt + divide — replays the pairwise-dedup entries' Spark math bit-exactly
_COS_INT_SQL = """
CAST(FLOOR(
  CAST(list_sum([CAST(FLOOR({a}[i]::DOUBLE * 100000) AS BIGINT)
                 * CAST(FLOOR({b}[i]::DOUBLE * 100000) AS BIGINT)
                 FOR i IN range(1, 65)]) AS DOUBLE)
  / SQRT(CAST(list_sum([CAST(FLOOR({a}[i]::DOUBLE * 100000) AS BIGINT)
                        * CAST(FLOOR({a}[i]::DOUBLE * 100000) AS BIGINT)
                        FOR i IN range(1, 65)]) AS DOUBLE)
         * CAST(list_sum([CAST(FLOOR({b}[i]::DOUBLE * 100000) AS BIGINT)
                          * CAST(FLOOR({b}[i]::DOUBLE * 100000) AS BIGINT)
                          FOR i IN range(1, 65)]) AS DOUBLE))
  * 1000000) AS BIGINT)
"""

_register("dedup_embedding", _q_dedup_embedding, f"""
WITH corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         [CAST(x::DOUBLE * 1.001 AS FLOAT) FOR x IN embedding], label
  FROM embeddings
),
pairs AS (
  SELECT a.label AS cell, a.vec_id AS id_a, b.vec_id AS id_b,
         {_COS_INT_SQL.format(a='a.embedding', b='b.embedding')} AS cos_q
  FROM corpus a JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT cell, id_a, id_b, cos_q FROM pairs WHERE cos_q >= 990000
""")


# =========================================================================== #
# 5. Similarity search                                                        #
# =========================================================================== #

def _q_ann_bruteforce(spark, sf):
    return (SS.brute_force_topk(T(spark, sf, "embeddings"), n_queries=10, k=5)
            .orderBy("q_id", "rank"))


_register("ann_bruteforce", _q_ann_bruteforce, f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, e.vec_id AS n_id,
         {_COS_SQL.format(a='q.q_vec', b='e.embedding')} AS cos_q
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.q_id
),
ranked AS (
  SELECT q_id, n_id, cos_q,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_q DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, rank, n_id, cos_q FROM ranked WHERE rank <= 5
""")


def _q_ann_ivf(spark, sf):
    return (SS.ivf_topk(T(spark, sf, "embeddings"), n_queries=10, k=5)
            .orderBy("q_id", "rank"))


_register("ann_ivf", _q_ann_ivf, f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec, label AS cell
           FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, q.cell, e.vec_id AS n_id,
         {_COS_SQL.format(a='q.q_vec', b='e.embedding')} AS cos_q
  FROM embeddings e JOIN q ON e.label = q.cell WHERE e.vec_id != q.q_id
),
ranked AS (
  SELECT q_id, cell, n_id, cos_q,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_q DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, cell, rank, n_id, cos_q FROM ranked WHERE rank <= 5
""")


def _q_ann_ivf_fitted(spark, sf):
    """IVF with the index actually CONSTRUCTED (round-1 gap): deterministic
    integer-quantized k-means fit (driver-side on a tiny sample, no RNG)
    assigns every vector a cell; search is nprobe=1 within the fitted cell."""
    e = T(spark, sf, "embeddings")
    withcell = SS.kmeans_cells(e, k=8, sample_n=256, iters=3)
    return (SS.ivf_topk(withcell, n_queries=10, k=5, cell_col="cell")
            .orderBy("q_id", "rank"))


def _kmeans_ctes(k: int = 8, sample_n: int = 256, iters: int = 3,
                 dim: int = 64, scale: int = 1_000_000,
                 src: str = "embeddings") -> str:
    """Unrolled fixed-iteration k-means as chained CTEs, ending in
    ``assign(vec_id, embedding, cell)`` — replays kmeans_cells exactly
    (same init, integer distances, floor-mean updates, tie-breaks)."""
    def dist(a: str, b: str) -> str:
        return (f"CAST(list_sum([({a}[i]-{b}[i])*({a}[i]-{b}[i]) "
                f"FOR i IN range(1,{dim + 1})]) AS BIGINT)")

    parts = [f"""
qemb AS (
  SELECT vec_id, embedding,
         [CAST(FLOOR(embedding[i]::DOUBLE * {scale}) AS BIGINT)
          FOR i IN range(1,{dim + 1})] AS qv
  FROM {src}
),
samp AS (SELECT vec_id, qv FROM qemb WHERE vec_id < {sample_n}),
cent0 AS (SELECT vec_id AS cell, qv FROM samp WHERE vec_id < {k})"""]
    for t in range(1, iters + 1):
        parts.append(f"""
asg{t} AS (
  SELECT vec_id, qv, cell FROM (
    SELECT s.vec_id, s.qv, c.cell,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
                              ORDER BY {dist('s.qv', 'c.qv')} ASC,
                                       c.cell ASC) AS rn
    FROM samp s CROSS JOIN cent{t - 1} c) WHERE rn = 1
),
mean{t} AS (
  SELECT cell, dims.i AS i,
         CAST(FLOOR(CAST(SUM(qv[dims.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
  FROM asg{t}, (SELECT unnest(range(1,{dim + 1})) AS i) dims
  GROUP BY cell, dims.i
),
newc{t} AS (SELECT cell, list(m ORDER BY i) AS qv FROM mean{t} GROUP BY cell),
cent{t} AS (
  SELECT p.cell, COALESCE(n.qv, p.qv) AS qv
  FROM cent{t - 1} p LEFT JOIN newc{t} n ON p.cell = n.cell
)""")
    parts.append(f"""
assign AS (
  SELECT vec_id, embedding, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist('e.qv', 'c.qv')} ASC,
                                       c.cell ASC) AS rn
    FROM qemb e CROSS JOIN cent{iters} c) WHERE rn = 1
)""")
    return ",".join(parts)


_register("ann_ivf_fitted", _q_ann_ivf_fitted, f"""
WITH {_kmeans_ctes()},
q AS (SELECT vec_id AS q_id, embedding AS q_vec, cell FROM assign
      WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, q.cell, e.vec_id AS n_id,
         {_COS_SQL.format(a='q.q_vec', b='e.embedding')} AS cos_q
  FROM assign e JOIN q ON e.cell = q.cell WHERE e.vec_id != q.q_id
),
ranked AS (
  SELECT q_id, cell, n_id, cos_q,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_q DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, cell, rank, n_id, cos_q FROM ranked WHERE rank <= 5
""")


def _q_ann_ivf_nprobe(spark, sf):
    """Multi-probe IVF (round-2 verdict #4): same fitted index as
    ann_ivf_fitted, but each query scores candidates in its 2 nearest cells
    — the standard recall lever for near-boundary queries."""
    e = T(spark, sf, "embeddings")
    cent = SS.kmeans_fit(e, k=8, sample_n=256, iters=3)
    # persist for the same reason kmeans_cells does: the assigned frame is
    # referenced on both join sides, and the cache boundary stops the
    # IsNotNull(cell) pushdown from re-inlining the k distance expressions
    withcell = SS.assign_cells(e, cent).persist()
    return (SS.ivf_topk_nprobe(withcell, cent, nprobe=2, n_queries=10, k=5)
            .orderBy("q_id", "rank"))


def _kdist_sql(a: str, b: str, dim: int = 64) -> str:
    """Quantized squared distance — the same expression _kmeans_ctes uses."""
    return (f"CAST(list_sum([({a}[i]-{b}[i])*({a}[i]-{b}[i]) "
            f"FOR i IN range(1,{dim + 1})]) AS BIGINT)")


_register("ann_ivf_nprobe", _q_ann_ivf_nprobe, f"""
WITH {_kmeans_ctes()},
qprobe AS (
  SELECT vec_id AS q_id, embedding AS q_vec, cell FROM (
    SELECT e.vec_id, e.embedding, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_kdist_sql('e.qv', 'c.qv')} ASC,
                                       c.cell ASC) AS rn
    FROM qemb e CROSS JOIN cent3 c WHERE e.vec_id < 10) WHERE rn <= 2
),
scored AS (
  SELECT q.q_id, e.vec_id AS n_id,
         {_COS_SQL.format(a='q.q_vec', b='e.embedding')} AS cos_q
  FROM assign e JOIN qprobe q ON e.cell = q.cell WHERE e.vec_id != q.q_id
),
ranked AS (
  SELECT q_id, n_id, cos_q,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_q DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, rank, n_id, cos_q FROM ranked WHERE rank <= 5
""")


def _q_dedup_embedding_fitted(spark, sf):
    """Embedding near-dup with the coarse cells CONSTRUCTED by the
    deterministic k-means fit (not the precomputed label column) — the
    companion of ann_ivf_fitted on the dedup side."""
    e = T(spark, sf, "embeddings")
    jit = e.select((F.col("vec_id") + 100000).alias("vec_id"),
                   F.transform("embedding",
                               lambda x: (x.cast("double") * 1.001).cast("float"))
                   .alias("embedding"))
    corpus = e.select("vec_id", "embedding").unionByName(jit)
    withcell = SS.kmeans_cells(corpus, k=8, sample_n=256, iters=3)
    return (DD.embedding_dup_pairs(withcell, cell_col="cell",
                                   threshold_q=990_000)
            .orderBy("id_a", "id_b"))


_register("dedup_embedding_fitted", _q_dedup_embedding_fitted, f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         [CAST(x::DOUBLE * 1.001 AS FLOAT) FOR x IN embedding]
  FROM embeddings
),
{_kmeans_ctes(src='corpus')},
pairs AS (
  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
         {_COS_INT_SQL.format(a='a.embedding', b='b.embedding')} AS cos_q
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT cell, id_a, id_b, cos_q FROM pairs WHERE cos_q >= 990000
""")


def _q_ann_lsh(spark, sf):
    return (SS.lsh_bucket_topk(T(spark, sf, "embeddings"),
                               n_queries=10, k=5, n_planes=8)
            .orderBy("q_id", "rank"))


def _lsh_sql(n_planes: int = 8, dim: int = 64) -> str:
    plane_bits = []
    for p in range(n_planes):
        terms = " + ".join(
            f"CAST(FLOOR(embedding[{d + 1}]::DOUBLE * "
            f"{1.0 if (p * 31 + d) % 3 != 0 else -1.0} * 1e9) AS BIGINT)"
            for d in range(dim))
        plane_bits.append(f"(CASE WHEN ({terms}) >= 0 THEN '1' ELSE '0' END)")
    bucket = " || ".join(plane_bits)
    return f"""
WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings),
q AS (SELECT vec_id AS q_id, embedding AS q_vec, bucket FROM b WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, q.bucket, e.vec_id AS n_id,
         {_COS_SQL.format(a='q.q_vec', b='e.embedding')} AS cos_q
  FROM b e JOIN q ON e.bucket = q.bucket WHERE e.vec_id != q.q_id
),
ranked AS (
  SELECT q_id, bucket, n_id, cos_q,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_q DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, bucket, rank, n_id, cos_q FROM ranked WHERE rank <= 5
"""


_register("ann_lsh", _q_ann_lsh, _lsh_sql())


# =========================================================================== #
# 6. Multimodal plumbing (binary columns, Arrow batch contracts; the decode   #
#    half is REAL for PNG via functions/png_codec.py — see section 6b)        #
# =========================================================================== #

def _q_multimodal_signature(spark, sf):
    from ..operators.multimodal import media_signatures
    d = T(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("media"))
    return media_signatures(d).orderBy("doc_id")


_register("multimodal_signature", _q_multimodal_signature, """
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes, md5(text) AS sig
FROM documents
""")


def _q_multimodal_resize(spark, sf):
    """Resize/downsample plumbing (O4 input-size cap analog): stride
    decimation to ~64 bytes with output digest, oracle-replayable because
    documents.text is ASCII (char positions == byte positions)."""
    from ..operators.multimodal import resize_media
    d = T(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("media"))
    return resize_media(d, target_bytes=64).orderBy("doc_id")


_register("multimodal_resize", _q_multimodal_resize, """
WITH meta AS (
  SELECT doc_id, text,
         GREATEST(1, CAST(CEIL(length(text)::DOUBLE / 64) AS INT)) AS stride
  FROM documents
),
resized AS (
  SELECT doc_id, text, stride,
         array_to_string([substring(text, CAST(i AS INT), 1)
                          FOR i IN range(1, length(text) + 1)
                          IF (i - 1) % stride = 0], '') AS out
  FROM meta
)
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes_in,
       CAST(length(out) AS BIGINT) AS n_bytes_out,
       md5(out) AS sig_out
FROM resized
""")


def _q_multimodal_frames(spark, sf):
    """Frame-sampling plumbing (video analog): 1 media row -> N frame rows
    through one Arrow stage; the deterministic slicing stand-in makes the
    whole contract oracle-checkable (documents.text is ASCII, so char and
    byte offsets coincide between engines)."""
    from ..operators.multimodal import sample_frames
    d = T(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("media"))
    return sample_frames(d, max_frames=4).orderBy("doc_id", "frame_idx")


_register("multimodal_frames", _q_multimodal_frames, """
WITH meta AS (
  SELECT doc_id, text,
         LEAST(4, 1 + CAST(FLOOR(length(text) / 64) AS INT)) AS nf
  FROM documents
),
frames AS (
  SELECT doc_id, text, nf,
         CAST(CEIL(length(text)::DOUBLE / nf) AS INT) AS stride,
         unnest(range(0, nf)) AS frame_idx
  FROM meta
)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(length(substring(text, CAST(frame_idx * stride + 1 AS INT), stride))
            AS BIGINT) AS n_frame_bytes,
       md5(substring(text, CAST(frame_idx * stride + 1 AS INT), stride))
         AS frame_sig
FROM frames
""")


# =========================================================================== #
# 6b. Real image payload path: from-scratch PNG codec + numpy kernels.        #
#     The synthetic corpus plants its geometry via md5 arithmetic             #
#     (sources/image_corpus.py), so the oracle SQL computes the ANSWER KEY    #
#     analytically while Spark must recover it from actual pixels through    #
#     decode -> glare-reduce -> CLAHE -> bilateral -> adaptive threshold ->   #
#     projection -> band extraction.  End-to-end image-path check with no    #
#     image library on the oracle side.                                       #
# =========================================================================== #

_IMG_DOCS = 300  # doc_id < 300 exists at every sf


def _hx(col: str, tag: str) -> str:
    """DuckDB twin of the renderer's ``int(md5(f"{id}_{tag}")[:6], 16)``."""
    return (f"('0x' || substr(md5(CAST({col} AS VARCHAR) || '_{tag}'), 1, 6))"
            "::BIGINT")


def _img_ids(spark, sf):
    # explicit repartition on doc_id: the sf corpus is one parquet file ->
    # one scan partition, and the per-image kernel work is the expensive
    # part — same shape as the extraction pipeline's salted repartition
    # (payload-heavy rows must spread across executors before the Arrow
    # stages, north-rule skew handling)
    return (T(spark, sf, "documents")
            .select("doc_id").where(F.col("doc_id") < _IMG_DOCS)
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))


def _q_audio_decode_stats(spark, sf):
    """REAL audio decode on real WAV bytes (the audio twin of
    ``image_decode_stats``): deterministic PCM16 square-wave payloads are
    RIFF-encoded with a foreign LIST chunk (``sources/audio_corpus.py``),
    then Spark recovers sample count, duration, peak, RMS, and
    zero-crossing count through the from-scratch chunk-walking decoder
    (``functions/wav_codec.py``) + numpy reductions.  The oracle
    recomputes every stat analytically from the planted md5 arithmetic —
    a reader that does not correctly parse the container cannot match."""
    from ..operators.multimodal import audio_decode_stats, render_audio_media
    media = render_audio_media(_img_ids(spark, sf))
    return audio_decode_stats(media).orderBy("doc_id")


_register("audio_decode_stats", _q_audio_decode_stats, f"""
WITH g AS (
  SELECT doc_id,
         4000 + {_hx('doc_id', 'al')} % 4000 AS n,
         1000 + {_hx('doc_id', 'aa')} % 20000 AS amp,
         8 + {_hx('doc_id', 'ap')} % 24 AS hp
  FROM documents WHERE doc_id < {_IMG_DOCS}
)
SELECT doc_id,
       CAST(n AS INT) AS n_samples,
       CAST(8000 AS INT) AS sample_rate,
       n / 8.0 AS duration_ms,
       CAST(amp AS INT) AS peak,
       CAST(amp AS DOUBLE) AS rms,
       CAST((n - 1) // hp AS INT) AS zero_crossings
FROM g ORDER BY doc_id
""")


def _q_video_frame_stats(spark, sf):
    """REAL video decode on real AVI bytes (the video twin of
    ``image_decode_stats``; makes the ``sample_frames`` 1->N contract
    real): deterministic uncompressed-DIB clips are RIFF-encoded with a
    nested LIST tree and an odd-sized JUNK chunk
    (``sources/video_corpus.py``), then Spark walks the container, decodes
    each bottom-up DIB frame, and reports per-frame dimensions + ink stats
    (``functions/avi_codec.py``).  The oracle recomputes frame count, band
    height, and ink value analytically from the planted md5 arithmetic."""
    from ..operators.multimodal import render_video_media, video_frame_stats
    media = render_video_media(_img_ids(spark, sf))
    return video_frame_stats(media).orderBy("doc_id", "frame_idx")


_register("video_frame_stats", _q_video_frame_stats, f"""
WITH g AS (
  SELECT doc_id, 2 + {_hx('doc_id', 'vn')} % 4 AS n_frames
  FROM documents WHERE doc_id < {_IMG_DOCS}
),
ks AS (SELECT unnest(range(0, 6)) AS k)
SELECT g.doc_id,
       CAST(k.k AS INT) AS frame_idx,
       CAST(24 AS INT) AS height,
       CAST(32 AS INT) AS width,
       CAST(4 + ('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)
            || '_vh' || k.k), 1, 6))::BIGINT % 8 AS INT) AS ink_rows,
       CAST(40 + ('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)
            || '_vv' || k.k), 1, 6))::BIGINT % 40 AS INT) AS ink_min
FROM g JOIN ks k ON k.k < g.n_frames
ORDER BY doc_id, frame_idx
""")


def _q_image_rois(spark, sf):
    """Projection-band ROI extraction on real pixels (P1+P2+P3+F9+W2 +
    X10 kernels): the detected (y0, y1) intervals must EXACTLY equal the
    planted band geometry for every document."""
    from ..operators.image_extract import extract_rois, render_media
    media = render_media(_img_ids(spark, sf), rotate=False)
    return extract_rois(media, top_k=4).orderBy("doc_id", "roi_idx")


_IMAGE_ROIS_SQL = f"""
WITH docs AS (
  SELECT doc_id, 2 + {_hx('doc_id', 'n')} % 3 AS n_bands
  FROM documents WHERE doc_id < {_IMG_DOCS}
),
ks AS (SELECT unnest(range(0, 4)) AS k),
bands AS (
  SELECT d.doc_id, CAST(k.k AS INT) AS roi_idx,
         CASE WHEN k.k = 0 THEN 8
              ELSE k.k * (144 // d.n_bands) + 8
                   + ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                        || '_o' || k.k), 1, 6))::BIGINT % 5
         END AS y0,
         CASE WHEN k.k = 0 THEN 24
              ELSE 16 + ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                         || '_h' || k.k), 1, 6))::BIGINT % 6
         END AS bh
  FROM docs d JOIN ks k ON k.k < d.n_bands
)
SELECT doc_id, roi_idx, CAST(y0 AS INT) AS y0, CAST(y0 + bh AS INT) AS y1
FROM bands ORDER BY doc_id, roi_idx
"""

_register("image_rois", _q_image_rois, _IMAGE_ROIS_SQL)


def _q_image_rois_nms(spark, sf):
    """P4's post-model pipeline on real multi-source proposals: refined
    projection bands + unrefined smoothed runs, F9-filtered, merged by
    greedy IoU NMS (the cv2.dnn.NMSBoxes analog,
    ``yolo_detector.py:337-378``) — the survivors must EXACTLY equal the
    planted band geometry (the duplicate radius-spread hypotheses all
    suppressed) for every document."""
    from ..operators.image_extract import extract_rois_nms, render_media
    media = render_media(_img_ids(spark, sf), rotate=False)
    return extract_rois_nms(media, top_k=4).orderBy("doc_id", "roi_idx")


_register("image_rois_nms", _q_image_rois_nms, _IMAGE_ROIS_SQL)


def _q_image_orientation(spark, sf):
    """Orientation recovery (P6): projection-variance axis pick + thickest-
    band (header) position must reproduce the planted quarter-turn for
    every document."""
    from ..operators.image_extract import detect_orientations, render_media
    media = render_media(_img_ids(spark, sf), rotate=True)
    return detect_orientations(media).orderBy("doc_id")


_register("image_orientation", _q_image_orientation, f"""
SELECT doc_id,
       CAST(90 * ({_hx('doc_id', 'r')} % 4) AS INT) AS angle
FROM documents WHERE doc_id < {_IMG_DOCS}
ORDER BY doc_id
""")


def _q_image_decode_stats(spark, sf):
    """Decode + projection-profile stats (S1 + A8) on the ROTATED corpus:
    decoded dims, rows-with-ink count, and the saturation(glare) flag must
    match the planted geometry."""
    from ..operators.image_extract import decode_stats, render_media
    media = render_media(_img_ids(spark, sf), rotate=True)
    return decode_stats(media).orderBy("doc_id")


_register("image_decode_stats", _q_image_decode_stats, f"""
WITH g AS (
  SELECT doc_id,
         2 + {_hx('doc_id', 'n')} % 3 AS n_bands,
         {_hx('doc_id', 'r')} % 4 AS rot,
         {_hx('doc_id', 'g')} % 4 = 0 AS glare
  FROM documents WHERE doc_id < {_IMG_DOCS}
),
ks AS (SELECT unnest(range(0, 4)) AS k),
ink AS (
  SELECT g.doc_id,
         SUM(CASE WHEN k.k = 0 THEN 24
                  ELSE 16 + ('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)
                       || '_h' || k.k), 1, 6))::BIGINT % 6 END) AS ink_sum
  FROM g JOIN ks k ON k.k < g.n_bands GROUP BY g.doc_id
)
SELECT g.doc_id,
       CAST(CASE WHEN g.rot % 2 = 1 THEN 256 ELSE 144 END AS INT) AS height,
       CAST(CASE WHEN g.rot % 2 = 1 THEN 144 ELSE 256 END AS INT) AS width,
       CAST(CASE WHEN g.rot % 2 = 1 THEN 168 ELSE ink.ink_sum END AS INT)
         AS ink_rows,
       g.glare AS glare
FROM g JOIN ink USING (doc_id)
ORDER BY doc_id
""")


def _q_image_resize(spark, sf):
    """Bilinear half-resize on real pixels (X10 resize): output dims must
    match the planted (rotation-dependent) input dims halved."""
    from ..operators.image_extract import render_media, resize_images
    media = render_media(_img_ids(spark, sf), rotate=True)
    return (resize_images(media, scale=2)
            .select("doc_id", "h_in", "w_in", "h_out", "w_out")
            .orderBy("doc_id"))


_register("image_resize", _q_image_resize, f"""
SELECT doc_id,
       CAST(CASE WHEN {_hx('doc_id', 'r')} % 2 = 1 THEN 256 ELSE 144 END
            AS INT) AS h_in,
       CAST(CASE WHEN {_hx('doc_id', 'r')} % 2 = 1 THEN 144 ELSE 256 END
            AS INT) AS w_in,
       CAST(CASE WHEN {_hx('doc_id', 'r')} % 2 = 1 THEN 128 ELSE 72 END
            AS INT) AS h_out,
       CAST(CASE WHEN {_hx('doc_id', 'r')} % 2 = 1 THEN 72 ELSE 128 END
            AS INT) AS w_out
FROM documents WHERE doc_id < {_IMG_DOCS}
ORDER BY doc_id
""")


def _planted_serial_expr() -> str:
    """DuckDB expression recomputing ``image_corpus.planted_serial``
    (char i = CHARSET[H('_c{i}') % 36]) — shared by every oracle that
    pins a recovered serial so the arithmetic cannot desynchronize."""
    from ..functions.glyph_ocr import CHARSET
    return f"""array_to_string(
         [substr('{CHARSET}',
                 1 + CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                       || '_c' || (i - 1)), 1, 6))::BIGINT % 36 AS INT), 1)
          FOR i IN range(1, 13)], '')"""


def _q_image_ocr(spark, sf):
    """Real OCR on real pixels (the P7 readtext analog at sandbox scale):
    each doc's 12-char serial is rendered in the 5x7 glyph font (jitter +
    ink dropout), PNG-encoded, then recovered by decode -> adaptive
    threshold -> glyph segmentation -> nearest-template Hamming match.
    The oracle recomputes the PLANTED string from md5 arithmetic — Spark
    must read it off the pixels."""
    from ..operators.image_extract import ocr_serials, render_serial_media
    media = render_serial_media(_img_ids(spark, sf))
    return (ocr_serials(media, expect_chars=12)
            .select("doc_id", "text").orderBy("doc_id"))


def _image_ocr_sql() -> str:
    return f"""
SELECT doc_id,
       {_planted_serial_expr()} AS text
FROM documents WHERE doc_id < {_IMG_DOCS}
ORDER BY doc_id
"""


_register("image_ocr", _q_image_ocr, _image_ocr_sql())


def _q_video_ocr_tta(spark, sf):
    """The client TTA loop (P11/A7) on REAL video bytes: each doc's AVI
    clip renders the planted 12-char serial in every frame — ONE clean,
    the rest at 0.65 ink dropout (``sources/video_corpus.py``).  Spark
    decodes the clip, OCRs every frame (1->N inside the Arrow batch),
    then picks the best read with a relational ``max_by`` over
    (conf, -frame_idx) — the best-frame arg-max of
    ``SerialScannerViewModel.swift:267`` as a combinable aggregation.
    The oracle recomputes the planted serial AND the clean frame's index
    analytically; a frame-0-only reader misreads 2,265/4000 docs
    (measured), so the arg-max is what makes this entry green."""
    from ..operators.multimodal import (render_serial_video_media,
                                        video_frame_ocr)
    media = render_serial_video_media(_img_ids(spark, sf))
    per = video_frame_ocr(media, expect_chars=12)
    best = (per.groupBy("doc_id")
            .agg(F.max_by(F.struct("text", "frame_idx"),
                          F.struct("conf", (-F.col("frame_idx"))
                                   .alias("nk"))).alias("b"),
                 F.count("*").alias("n_frames"))
            .select("doc_id", F.col("b.text").alias("text"),
                    F.col("b.frame_idx").alias("best_frame_idx"),
                    "n_frames"))
    return best.orderBy("doc_id")


def _video_ocr_tta_sql() -> str:
    return f"""
WITH g AS (
  SELECT doc_id, 3 + {_hx('doc_id', 'tn')} % 4 AS n
  FROM documents WHERE doc_id < {_IMG_DOCS}
)
SELECT doc_id,
       {_planted_serial_expr()} AS text,
       CAST({_hx('doc_id', 'tg')} % n AS INT) AS best_frame_idx,
       CAST(n AS BIGINT) AS n_frames
FROM g ORDER BY doc_id
"""


_register("video_ocr_tta", _q_video_ocr_tta, _video_ocr_tta_sql())


def _q_image_ocr_fallback(spark, sf):
    """The P10 fallback sweep on real pixels (the Tesseract-ladder analog,
    ``tesseract_adapter.py:86-237``): plates degraded past what the
    single-pass reader segments through (heavier dropout + isolated
    background salt) are recovered by a (preprocess path x segmentation
    mode) sweep — raw/despeckled masks x gap/fixed-pitch segmentation —
    with early stop, 12-char candidate filtering, and per-serial max-conf
    merge.  The oracle recomputes the PLANTED string from md5 arithmetic;
    Spark must win it back off the degraded pixels (both single-pass
    reads fail on every one of these plates — see
    tests/test_image_ops.py)."""
    from ..operators.image_extract import (ocr_serials_fallback,
                                           render_degraded_serial_media)
    media = render_degraded_serial_media(_img_ids(spark, sf))
    return (ocr_serials_fallback(media, expect_chars=12)
            .select("doc_id", "text").orderBy("doc_id"))


_register("image_ocr_fallback", _q_image_ocr_fallback, _image_ocr_sql())


# =========================================================================== #
# 7. The extraction pipeline itself.  The driver-path corpus is closed-form   #
#    (sources.derived), so the full pipeline — html strip + pdf layout +      #
#    progressive OCR with early-stop + A1/A2 — has a real DuckDB oracle      #
#    (plans.extract_oracle, generated from the same character maps).  The     #
#    pytest parity suite additionally pins the kernels bit-exactly on the     #
#    richer synthetic corpus (multi-pass early-stop variation etc.).          #
# =========================================================================== #

def _flatten(extracted: DataFrame) -> DataFrame:
    return (extracted
            .select("doc_id", F.explode_outer("spans").alias("s"))
            .select("doc_id", F.col("s.order").alias("ord"),
                    F.col("s.kind").alias("kind"),
                    F.col("s.text").alias("text"),
                    F.col("s.media_ref").alias("media_ref"))
            .orderBy("doc_id", "ord"))


def _q_extract_fused(spark, sf):
    from .pipeline import extract_docs
    docs = docs_from_documents(spark, sf)
    return _flatten(extract_docs(docs))


def _extract_oracle() -> str:
    from .extract_oracle import extract_oracle_sql
    return extract_oracle_sql()


_register("extract_pipeline_fused", _q_extract_fused, _extract_oracle())


def _q_extract_pixels(spark, sf):
    """The extraction plan with the image branch on REAL pixels: image
    spans join the binary media store on media_ref and the kernel OCRs the
    serial off the decoded PNG plate (decode -> adaptive threshold -> glyph
    segmentation -> template match) instead of parsing a token stream —
    the north rule's "OCR-text span recovery for image media_refs"."""
    from .pipeline import extract_docs
    from ..sources.derived import media_from_documents
    docs = docs_from_documents(spark, sf)
    media = media_from_documents(spark, sf)
    return _flatten(extract_docs(docs, media=media))


def _pixels_oracle() -> str:
    from .extract_oracle import pixels_oracle_sql
    return pixels_oracle_sql()


_register("extract_pipeline_pixels", _q_extract_pixels, _pixels_oracle())


# =========================================================================== #
# 8. Training-data pipeline extensions (round 3): deterministic sampling /    #
#    splits, sequence packing, repetition quality, PII masking, incremental   #
#    dedup, as-of join, sessionization.                                       #
# =========================================================================== #

def _q_sample_split(spark, sf):
    """Deterministic train/val/test split + stratified per-language
    downsampling over documents: the split/keep decision is a pure function
    of (salt, doc_id) via an md5-hex string compare, so it is reproducible
    across engines, re-runs, and corpus growth (no rand())."""
    from ..operators.sampling import sample_stratified, split_assign
    d = T(spark, sf, "documents").select("doc_id", "lang")
    rates = {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.5}
    return (split_assign(
        sample_stratified(d, rates, stratum_col="lang", default_rate=0.1),
        train=0.9, val=0.05)
        .select("doc_id", "lang", "split", "sampled")
        .orderBy("doc_id"))


def _sample_split_sql() -> str:
    from ..operators.sampling import rate_to_hex
    rate_rows = ", ".join(
        f"('{k}', '{rate_to_hex(v)}')"
        for k, v in sorted({"en": 0.9, "de": 0.5, "fr": 0.5,
                            "es": 0.5}.items()))
    return f"""
WITH rates(lang, thresh) AS (VALUES {rate_rows}),
based AS (
  SELECT d.doc_id, d.lang,
         substring(md5('rate' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS h_rate,
         substring(md5('split' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS h_split,
         COALESCE(r.thresh, '{rate_to_hex(0.1)}') AS thresh
  FROM documents d LEFT JOIN rates r ON d.lang = r.lang
)
SELECT doc_id, lang,
       CASE WHEN h_split < '{rate_to_hex(0.9)}' THEN 'train'
            WHEN h_split < '{rate_to_hex(0.95)}' THEN 'val'
            ELSE 'test' END AS split,
       h_rate < thresh AS sampled
FROM based
"""


_register("sample_split", _q_sample_split, _sample_split_sql())


def _q_pack_sequences(spark, sf):
    """Concatenate-and-chunk sequence packing: fixed 512-token training
    bins, 8 independent shards (one window shuffle; bins never cross
    shards, so the packer parallelizes at any corpus size)."""
    from ..operators.sampling import pack_sequences
    d = T(spark, sf, "documents")
    return (pack_sequences(d, budget_tokens=512, n_shards=8)
            .orderBy("shard", "bin"))


_register("pack_sequences", _q_pack_sequences, """
WITH toks AS (
  SELECT doc_id AS id, doc_id % 8 AS shard,
         len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '))
           AS n_tok
  FROM documents
),
binned AS (
  SELECT id, shard, n_tok,
         CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
             PARTITION BY shard ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 512.0) AS BIGINT) AS bin
  FROM toks
)
SELECT shard, bin, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tokens,
       MIN(id) AS first_id, MAX(id) AS last_id,
       CAST(FLOOR(SUM(n_tok) / 512.0 * 1000000) AS BIGINT) AS fill_q
FROM binned GROUP BY shard, bin
""")


def _q_quality_repetition(spark, sf):
    """Gopher-style repetition signals: duplicate-token mass, the most
    frequent token's share, and the most frequent bigram's share — all
    array higher-order functions (per-doc JVM compute, no explode/shuffle;
    the companion of quality_filter on the repetition axis)."""
    d = T(spark, sf, "documents")
    t = F.col("text")
    toks = TX.tokens(t)
    dup_q = F.floor((F.size(toks) - F.size(F.array_distinct(toks)))
                    / F.size(toks) * 1_000_000).cast("long")
    return (d.select("doc_id",
                     dup_q.alias("dup_token_q"),
                     TX.top_token_frac_q(t).alias("top_token_q"),
                     TX.top_bigram_frac_q(t).alias("top_bigram_q"))
            .orderBy("doc_id"))


_register("quality_repetition", _q_quality_repetition, """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS tk
  FROM documents
),
bg AS (
  -- tks mirrors the Spark side's 4096-token prefix bound on the
  -- quadratic fraction signals (dup_token_q stays over the full doc)
  SELECT doc_id, tk, tk[1:4096] AS tks,
         [tk[i] || CASE WHEN i + 1 <= LEAST(len(tk), 4096)
                        THEN ' ' || tk[i+1] ELSE '' END
          FOR i IN range(1, GREATEST(LEAST(len(tk), 4096) - 1, 1) + 1)] AS bgs
  FROM toks
)
SELECT doc_id,
       CAST(FLOOR((len(tk) - len(list_distinct(tk)))
                  / len(tk) * 1000000) AS BIGINT) AS dup_token_q,
       CAST(FLOOR(list_max(list_transform(list_distinct(tks),
                    t -> len(list_filter(tks, y -> y = t))))
                  / len(tks) * 1000000) AS BIGINT) AS top_token_q,
       CAST(FLOOR(list_max(list_transform(list_distinct(bgs),
                    t -> len(list_filter(bgs, y -> y = t))))
                  / len(bgs) * 1000000) AS BIGINT) AS top_bigram_q
FROM bg
""")


def _q_pii_mask(spark, sf):
    """PII redaction over a corpus with deterministically injected
    email/phone spans (the base table carries none): mask + per-doc audit
    counts.  Pure regexp streaming through codegen — the patterns stay in
    the java.util.regex ∩ RE2 subset so the oracle replays them exactly."""
    d = T(spark, sf, "documents")
    text = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit(" call 555-123-4567")).otherwise(F.lit("")))
    n_mail, n_phone = TX.pii_counts(text)
    return (d.select("doc_id",
                     n_mail.alias("n_emails"),
                     n_phone.alias("n_phones"),
                     F.md5(TX.mask_pii(text)).alias("masked_sig"))
            .orderBy("doc_id"))


# DuckDB string literals keep backslashes as-is — inject the patterns raw
_PII_EMAIL = TX.EMAIL_PATTERN
_PII_PHONE = TX.PHONE_PATTERN

_register("pii_mask", _q_pii_mask, f"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' call 555-123-4567' ELSE '' END AS text
  FROM documents
),
masked AS (
  SELECT doc_id, text,
         regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS no_mail
  FROM aug
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INTEGER)
         AS n_emails,
       CAST(len(regexp_extract_all(no_mail, '{_PII_PHONE}')) AS INTEGER)
         AS n_phones,
       md5(regexp_replace(no_mail, '{_PII_PHONE}', '<PHONE>', 'g'))
         AS masked_sig
FROM masked
""")


def _q_dedup_incremental(spark, sf):
    """Ingestion-time dedup: the batch of copies (+100000 exact, +200000
    near-dup) checked against the accepted originals — exact digests plus
    cross-side-only LSH candidates, never existing x existing."""
    corpus = _dup_corpus(spark, sf).filter((F.col("doc_id") % 100000) < 150)
    existing = corpus.filter(F.col("doc_id") < 100000)
    newb = corpus.filter(F.col("doc_id") >= 100000)
    return (DD.dedup_incremental(newb, existing, "doc_id", "text",
                                 k=12, bands=4, threshold_q=500_000)
            .orderBy("doc_id"))


def _incremental_sql(k: int = 12, bands: int = 4) -> str:
    r = k // bands
    sig_cols = ", ".join(
        f"min(md5('{i}' || shingle)) AS s{i}" for i in range(k))
    band_selects = " UNION ALL ".join(
        "SELECT id, {b} AS band, {key} AS bkey FROM sig".format(
            b=b, key=" || ".join(f"s{b * r + j}" for j in range(r)))
        for b in range(bands))
    return f"""
WITH corpus AS ({_DUP_SQL}),
bounded AS (SELECT * FROM corpus WHERE doc_id % 100000 < 150),
new_dig AS (
  SELECT doc_id AS id, md5(text) AS digest FROM bounded
  WHERE doc_id >= 100000
),
ex_dig AS (
  SELECT md5(text) AS digest, MIN(doc_id) AS keep_id FROM bounded
  WHERE doc_id < 100000 GROUP BY md5(text)
),
exact_existing AS (
  SELECT n.id, e.keep_id, 'exact_existing' AS method
  FROM new_dig n JOIN ex_dig e USING (digest)
),
batch_grp AS (
  SELECT digest, MIN(id) AS keep_id FROM new_dig
  GROUP BY digest HAVING COUNT(*) > 1
),
exact_in_batch AS (
  SELECT n.id, g.keep_id, 'exact_in_batch' AS method
  FROM new_dig n JOIN batch_grp g USING (digest) WHERE n.id != g.keep_id
),
toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS tk
  FROM bounded
),
shingles AS (
  SELECT DISTINCT doc_id AS id,
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 FOR i IN range(1, GREATEST(len(tk)-2, 1) + 1)]) AS shingle
  FROM toks
),
sig AS (SELECT id, {sig_cols} FROM shingles GROUP BY id),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.id < 100000 AND b.id >= 100000
),
sizes AS (SELECT id, COUNT(*) AS sz FROM shingles GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle
  WHERE a.id < 100000 AND b.id >= 100000
  GROUP BY a.id, b.id
),
verified AS (
  SELECT i.id_a, i.id_b,
         CAST(FLOOR(i.i / (sa.sz + sb.sz - i.i) * 1000000) AS BIGINT)
           AS jaccard_q
  FROM inter i
  JOIN sizes sa ON sa.id = i.id_a
  JOIN sizes sb ON sb.id = i.id_b
  WHERE FLOOR(i.i / (sa.sz + sb.sz - i.i) * 1000000) >= 500000
    AND EXISTS (SELECT 1 FROM cand c
                WHERE c.id_a = i.id_a AND c.id_b = i.id_b)
),
near AS (
  SELECT id_b AS id, id_a AS keep_id, 'near_dup_existing' AS method
  FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY id_b ORDER BY jaccard_q DESC, id_a ASC) AS rn
        FROM verified)
  WHERE rn = 1
),
fresh AS (SELECT id, id AS keep_id, 'new' AS method FROM new_dig),
unioned AS (
  SELECT * FROM exact_existing UNION ALL SELECT * FROM exact_in_batch
  UNION ALL SELECT * FROM near UNION ALL SELECT * FROM fresh
),
ranked AS (
  SELECT id AS doc_id, keep_id, method,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY method ASC) AS rn
  FROM unioned
)
SELECT doc_id, keep_id, method FROM ranked WHERE rn = 1
"""


_register("dedup_incremental", _q_dedup_incremental, _incremental_sql())


def _q_dedup_incremental_stored(spark, sf):
    """The stored-signature form of dedup_incremental: the existing side's
    (id, digest, sigs) identity table — the shape the streaming ingest
    store writes at accept time — replaces all existing-side hashing
    (operators/dedup.py::dedup_incremental(existing_sigs=...)).  Pinned to
    the SAME oracle as dedup_incremental: the store is an optimization,
    never a semantic change.  The checkpoint stands in for the store's
    parquet scan (the one-time signature build must not leak into the
    per-batch plan)."""
    from ..streaming.ingest_dedup import _with_identity
    corpus = _dup_corpus(spark, sf).filter((F.col("doc_id") % 100000) < 150)
    existing = corpus.filter(F.col("doc_id") < 100000)
    newb = corpus.filter(F.col("doc_id") >= 100000)
    sigs = _with_identity(existing, "doc_id", "text", 12, 3) \
        .localCheckpoint()
    return (DD.dedup_incremental(newb, existing, "doc_id", "text",
                                 k=12, bands=4, threshold_q=500_000,
                                 existing_sigs=sigs)
            .orderBy("doc_id"))


_register("dedup_incremental_stored", _q_dedup_incremental_stored,
          _incremental_sql())


def _q_events_asof(spark, sf):
    """As-of join (no Spark built-in): for each purchase, the most recent
    strictly-prior signup of the same user — one window shuffle, no range
    join, deterministic (ts, event_id) ordering."""
    from ..operators.temporal import asof_join_events
    e = T(spark, sf, "events")
    return (asof_join_events(e, "purchase", "signup")
            .orderBy("event_id"))


_register("events_asof", _q_events_asof, """
WITH tagged AS (
  SELECT event_id, user_id, ts, event_type, value,
         CASE WHEN event_type = 'signup' THEN
           struct_pack(r_id := event_id, r_ts := ts, r_value := value)
         END AS r
  FROM events
),
carried AS (
  SELECT *, LAST_VALUE(r IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_r
  FROM tagged
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       CAST(FLOOR(value * 100) AS BIGINT) AS value_cents,
       CAST(COALESCE(prev_r.r_id, -1) AS BIGINT) AS asof_event_id,
       strftime(prev_r.r_ts, '%Y-%m-%d %H:%M:%S') AS asof_ts_s,
       CAST(COALESCE(FLOOR(prev_r.r_value * 100), -1) AS BIGINT)
         AS asof_value_cents
FROM carried WHERE event_type = 'purchase'
""")


def _q_events_sessionize(spark, sf):
    """Gaps-and-islands sessionization (30-minute timeout): one row per
    session with bounds, event count, and exact value total."""
    from ..operators.temporal import sessionize
    e = T(spark, sf, "events")
    return (sessionize(e, gap_minutes=30)
            .orderBy("user_id", "session_ord"))


_SESSIONIZE_SQL = """
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END
           AS is_new
  FROM gaps
),
sess AS (
  SELECT *, SUM(is_new) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_ord
  FROM flagged
)
SELECT user_id, CAST(session_ord AS BIGINT) AS session_ord,
       COUNT(*) AS n_events,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM sess GROUP BY user_id, session_ord
"""

_register("events_sessionize", _q_events_sessionize, _SESSIONIZE_SQL)


def _q_events_sessionize_salted(spark, sf):
    """Hot-entity-safe sessionization: pre-sessionize within (user, coarse
    time bucket), merge boundary sessions — bounded task size for a
    10⁹-event user (operators/temporal.py::sessionize_two_phase).  Checked
    against the SAME single-window oracle as events_sessionize: the
    two-phase composition must be row-identical."""
    from ..operators.temporal import sessionize_two_phase
    e = T(spark, sf, "events")
    return (sessionize_two_phase(e, gap_minutes=30, bucket_minutes=360)
            .orderBy("user_id", "session_ord"))


_register("events_sessionize_salted", _q_events_sessionize_salted,
          _SESSIONIZE_SQL)


def _q_length_quantiles(spark, sf):
    """Corpus profiling: exact p50/p90/p99 of document length per language
    (the distribution stats a packing/budgeting step consumes).  Exact
    ``percentile`` (linear interpolation), not approx sketches — the
    cross-engine approximate algorithms differ, so the deterministic
    catalog uses the exact form; the milli-quantized output keeps the
    value hash immune to last-ulp interpolation differences.  One
    map-side-combinable groupBy; at 100 TB swap in approx_percentile for
    the same plan shape with bounded memory."""
    d = T(spark, sf, "documents")
    qs = F.percentile("n_chars", F.array(F.lit(0.5), F.lit(0.9),
                                         F.lit(0.99)))
    return (d.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.floor(qs[0] * 1000).cast("long").alias("p50_milli"),
                 F.floor(qs[1] * 1000).cast("long").alias("p90_milli"),
                 F.floor(qs[2] * 1000).cast("long").alias("p99_milli"))
            .orderBy("lang"))


_register("length_quantiles", _q_length_quantiles, """
SELECT lang, COUNT(*) AS n_docs,
       CAST(FLOOR(quantile_cont(n_chars, 0.5) * 1000) AS BIGINT) AS p50_milli,
       CAST(FLOOR(quantile_cont(n_chars, 0.9) * 1000) AS BIGINT) AS p90_milli,
       CAST(FLOOR(quantile_cont(n_chars, 0.99) * 1000) AS BIGINT) AS p99_milli
FROM documents GROUP BY lang
""")


def _q_length_quantiles_approx(spark, sf):
    """SKETCH TIER of length_quantiles (round-4 verdict #6): same
    per-language profile, but ``approx_percentile`` (Greenwald-Khanna
    style sketch, rank error <= 1/accuracy) replaces the exact
    ``percentile``.  Identical plan shape — ONE map-side-combinable
    groupBy — but the partial-aggregation state is a bounded sketch
    instead of the full value multiset, so executor memory per group is
    O(accuracy * log n) regardless of group size: this is the form a
    100 TB run uses.  No cross-engine oracle (DuckDB's approx sketch
    differs); the driver records the rows-only check and
    tests/test_training_ops.py pins the rank-error bound against the
    exact entry at sf0.1."""
    d = T(spark, sf, "documents")
    qs = F.percentile_approx(
        "n_chars", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
        F.lit(LENGTH_QUANTILES_ACCURACY))
    return (d.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 qs[0].cast("long").alias("p50_approx"),
                 qs[1].cast("long").alias("p90_approx"),
                 qs[2].cast("long").alias("p99_approx"))
            .orderBy("lang"))


# rank-error guarantee eps = 1/accuracy; 1000 keeps the sketch ~KBs while
# bounding the reported quantile within 0.1% of the true rank at any scale
LENGTH_QUANTILES_ACCURACY = 1000

_register("length_quantiles_approx", _q_length_quantiles_approx, None)


def _q_lang_id_multi(spark, sf):
    """Multi-language ID (en/de/fr/es) by argmax of per-language stopword
    ratios, reported as a confusion matrix against the table's true lang
    column.  MAP-ONLY argmax (round-4 verdict #4): the 4 candidate
    languages are scored as per-doc COLUMNS — each an attribute-captured
    token-array filter against a literal IN-list — and the winner is
    picked with ``greatest`` over (score, -lang_index) structs, whose
    lexicographic order gives exactly the (score DESC, cand ASC)
    tie-break of a row_number window; no explode, no doc_id window
    shuffle.  The confusion-matrix groupBy (4x4 cells, map-side
    combinable) is the plan's only exchange."""
    langs = sorted(TX.STOPWORDS)
    d = T(spark, sf, "documents")
    base = d.select("lang", TX.tokens(F.col("text")).alias("tk"))

    def score(lg):
        hits = F.size(F.filter(F.col("tk"),
                               lambda t: t.isin(*TX.STOPWORDS[lg])))
        return F.floor(hits / F.size("tk") * 1_000_000).cast("long")

    cands = [F.struct(score(lg).alias("s"), F.lit(-i).alias("ni"))
             for i, lg in enumerate(langs)]
    best = F.greatest(*cands)
    predicted = F.element_at(F.array(*[F.lit(lg) for lg in langs]),
                             -best["ni"] + 1)
    return (base.select("lang", predicted.alias("predicted"))
            .groupBy("lang", "predicted")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("lang", "predicted"))


def _lang_id_multi_sql() -> str:
    vals = ", ".join(
        "('{lg}', [{ws}])".format(
            lg=lg, ws=", ".join(f"'{s}'" for s in TX.STOPWORDS[lg]))
        for lg in sorted(TX.STOPWORDS))
    return f"""
WITH langs(cand, words) AS (VALUES {vals}),
rows AS (
  SELECT d.doc_id, d.lang, l.cand, l.words,
         string_split(trim(regexp_replace(d.text, '\\s+', ' ', 'g')), ' ')
           AS tk
  FROM documents d CROSS JOIN langs l
),
scored AS (
  SELECT doc_id, lang, cand,
         CAST(FLOOR(len(list_filter(tk, t -> list_contains(words, t)))
                    / len(tk) * 1000000) AS BIGINT) AS score
  FROM rows
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY score DESC, cand ASC) AS rn
  FROM scored
)
SELECT lang, cand AS predicted, COUNT(*) AS n_docs
FROM ranked WHERE rn = 1 GROUP BY lang, cand
"""


_register("lang_id_multi", _q_lang_id_multi, _lang_id_multi_sql())


def _q_decontaminate(spark, sf):
    """Benchmark decontamination: per corpus doc, the count and share of
    its distinct 3-word shingles that appear anywhere in the benchmark
    set (here: every 97th doc stands in for an eval set).  The benchmark
    shingle set is broadcast; the corpus scans once
    (operators/dedup.py::benchmark_overlap)."""
    d = T(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return DD.benchmark_overlap(corpus, bench).orderBy("doc_id")


_register("decontaminate", _q_decontaminate, """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                 FOR i IN range(1, GREATEST(len(tk)-2, 1) + 1)]) AS shingle
  FROM toks WHERE len(tk) >= 3
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
corp AS (SELECT * FROM sh WHERE doc_id % 97 != 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_doc FROM corp GROUP BY doc_id),
hits AS (
  SELECT c.doc_id, COUNT(*) AS n_hits
  FROM corp c JOIN bench b USING (shingle) GROUP BY c.doc_id
)
SELECT h.doc_id, s.n_doc AS n_doc_shingles, h.n_hits,
       CAST(FLOOR(h.n_hits / s.n_doc * 1000000) AS BIGINT) AS overlap_q
FROM hits h JOIN sizes s USING (doc_id)
""")


def _q_dedup_spans(spark, sf):
    """Span-level exact-substring dedup (Lee et al. 2022): positions whose
    8-token window recurs anywhere in the corpus, merged into maximal
    duplicated spans, reported per doc as span count / duplicated-token
    count / integer micro-fraction.  Complements the doc-level entries
    (`dedup_exact` .. `dedup_embedding`): it finds boilerplate RUNS inside
    otherwise-unique documents.  Two shuffles — window-hash, then doc id;
    see operators/dedup.py::duplicate_spans for the 100 TB shape.
    Reference analog: the candidate-dedupe axis of SO2/A6
    (app/services/ocr_adapter_improved.py:1448-1466) applied at
    sub-document granularity on the corpus-quality axis."""
    return (DD.duplicate_spans(T(spark, sf, "documents"),
                               "doc_id", "text", n=8, min_count=2)
            .orderBy("doc_id"))


_register("dedup_spans", _q_dedup_spans, """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ts
  FROM documents
),
pos AS (
  SELECT doc_id, CAST(len(ts) AS INTEGER) AS n_tok, i - 1 AS i,
         md5(array_to_string(list_slice(ts, i, i + 7), ' ')) AS g
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 7)) AS i) r
  WHERE len(ts) >= 8
),
dup AS (
  SELECT doc_id, n_tok, i
  FROM (SELECT *, COUNT(*) OVER (PARTITION BY g) AS c FROM pos)
  WHERE c >= 2
),
isl AS (
  SELECT doc_id, n_tok, i,
         SUM(CASE WHEN prev_i IS NULL OR i - prev_i > 8 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i) AS isl
  FROM (SELECT *, LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev_i
        FROM dup)
),
spans AS (
  SELECT doc_id, isl, MAX(n_tok) AS n_tok, MIN(i) AS s, MAX(i) + 7 AS e
  FROM isl GROUP BY doc_id, isl
)
SELECT doc_id, MAX(n_tok) AS n_tok,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
       (CAST(SUM(e - s + 1) AS BIGINT) * 1000000) // MAX(n_tok)
         AS dup_frac_q
FROM spans GROUP BY doc_id ORDER BY doc_id
""")


def _q_dedup_spans_clean(spark, sf):
    """Removal counterpart of `dedup_spans`: every doc that holds
    duplicated spans re-emitted with ALL covered tokens dropped —
    kept-token count plus the md5 of the surviving text, so the driver
    hash pins the cleaned text of every affected doc, not just its size.
    Only affected docs come out: the cleaned corpus is this output plus
    the untouched docs (no duplicated span, or shorter than n).  The span
    list per doc is the per-island aggregate (tiny), so stripping is one
    doc-id equi-join plus a map-side exists() per token; see
    operators/dedup.py::strip_duplicate_spans.  DuckDB's
    array_to_string([]) is NULL where Spark's concat_ws is '' — the
    oracle COALESCEs so fully-duplicated docs hash identically."""
    return (DD.strip_duplicate_spans(T(spark, sf, "documents"),
                                     "doc_id", "text", n=8, min_count=2)
            .orderBy("doc_id"))


_register("dedup_spans_clean", _q_dedup_spans_clean, """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ts
  FROM documents
),
pos AS (
  SELECT doc_id, i - 1 AS i,
         md5(array_to_string(list_slice(ts, i, i + 7), ' ')) AS g
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 7)) AS i) r
  WHERE len(ts) >= 8
),
dup AS (
  SELECT doc_id, i
  FROM (SELECT *, COUNT(*) OVER (PARTITION BY g) AS c FROM pos)
  WHERE c >= 2
),
isl AS (
  SELECT doc_id, i,
         SUM(CASE WHEN prev_i IS NULL OR i - prev_i > 8 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY i) AS isl
  FROM (SELECT *, LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev_i
        FROM dup)
),
spans AS (
  SELECT doc_id, isl, MIN(i) AS s, MAX(i) + 7 AS e
  FROM isl GROUP BY doc_id, isl
),
sp AS (SELECT doc_id, list({'s': s, 'e': e}) AS sp FROM spans GROUP BY doc_id),
kept AS (
  SELECT t.doc_id, len(t.ts) AS n_tok,
         [t.ts[i] FOR i IN range(1, len(t.ts) + 1)
          IF len(list_filter(sp.sp, b -> b.s <= i - 1 AND i - 1 <= b.e)) = 0]
           AS kt
  FROM toks t JOIN sp USING (doc_id)
)
SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tok,
       CAST(len(kt) AS INTEGER) AS kept_tokens,
       md5(COALESCE(array_to_string(kt, ' '), '')) AS clean_sig
FROM kept ORDER BY doc_id
""")


def _q_vocab_topk(spark, sf):
    """Vocabulary induction: corpus-wide token frequency table, top 200 by
    count with a deterministic token tie-break — the first step of any
    tokenizer build.  Plan: explode → map-side-combinable count →
    TakeOrderedAndProject (no full sort, no driver collect); at 100 TB
    the only shuffle carries one row per distinct token."""
    d = T(spark, sf, "documents")
    toks = d.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
    return (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("tok")).limit(200))


_register("vocab_topk", _q_vocab_topk, """
WITH toks AS (
  SELECT unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')),
                             ' ')) AS tok
  FROM documents
)
SELECT tok, COUNT(*) AS n FROM toks
GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 200
""")


# Small so both the in-vocab and the OOV scoring paths are exercised on the
# 31-distinct-token synthetic corpus; a production run would use ~250k.
_PPL_VOCAB_K = 16


def _q_quality_perplexity(spark, sf):
    """CCNet-style unigram-LM quality scorer (Wenzek et al. 2020): fit a
    unigram model on the corpus itself (top-K vocab by frequency with a
    deterministic tie-break; out-of-vocab tokens take the 1/N floor
    probability), then score every document by total and mean token
    surprisal.  Surprisal is floor-quantized to integer micro-nats BEFORE
    summing (the cents idiom) so per-doc sums are order-independent and
    cross-engine exact; the keep flag compares each doc's mean against the
    corpus average as a pure-integer cross-multiplication (no division on
    either side).  Plan shape: ONE (doc_id, tok) term-frequency shuffle
    feeds both the model fit (combinable re-agg to one row per distinct
    token + TakeOrderedAndProject for the top-K) and the scoring side,
    where the K-row model and the 1-row corpus total broadcast back onto
    the tf frame — the corpus text is scanned once, nothing wider than one
    row per (doc, distinct token) ever shuffles, and the final doc_id agg
    is combinable.  At 10^12 docs the corpus-average cross-multiplication
    would overflow int64 (mean_micro ~1e7 x 1e12 docs); the documented
    swap is comparing against floor(avg) in double, which this entry
    avoids only to keep the driver hash bit-exact.  Reference analog: the
    accept/borderline/reject confidence ladder of app/routers/serials.py:
    135-153 applied on the corpus-quality axis."""
    d = T(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    tf = (toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
          .persist())
    tot = tf.agg(F.sum("tf").cast("double").alias("n_corpus"))
    vocab = (tf.groupBy("tok").agg(F.sum("tf").cast("double").alias("c"))
             .orderBy(F.desc("c"), F.asc("tok")).limit(_PPL_VOCAB_K))
    costed = (tf.crossJoin(F.broadcast(tot))
              .join(F.broadcast(vocab), "tok", "left")
              .withColumn(
                  "cost_micro",
                  F.floor((F.when(F.col("c").isNotNull(),
                                  F.log("n_corpus") - F.log("c"))
                           .otherwise(F.log("n_corpus")))
                          * F.lit(1_000_000.0)).cast("long")))
    scores = (costed.groupBy("doc_id")
              .agg(F.sum("tf").cast("long").alias("n_tok"),
                   F.sum(F.col("tf") * F.col("cost_micro"))
                   .cast("long").alias("cost_micro"))
              .withColumn("mean_micro",
                          F.floor(F.col("cost_micro").cast("double")
                                  / F.col("n_tok")).cast("long"))
              .persist())
    corp = scores.agg(F.sum("mean_micro").cast("long").alias("s"),
                      F.count(F.lit(1)).alias("d"))
    return (scores.crossJoin(F.broadcast(corp))
            .select("doc_id", "n_tok", "cost_micro", "mean_micro",
                    (F.col("mean_micro") * F.col("d")
                     <= F.col("s")).alias("keep"))
            .orderBy("doc_id"))


_register("quality_perplexity", _q_quality_perplexity, f"""
WITH tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id,
               unnest(string_split(trim(regexp_replace(text, '\\s+', ' ',
                                                       'g')), ' ')) AS tok
        FROM documents)
  GROUP BY doc_id, tok
), tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS n_corpus FROM tf),
vocab AS (
  SELECT tok, CAST(SUM(tf) AS DOUBLE) AS c FROM tf GROUP BY tok
  ORDER BY SUM(tf) DESC, tok ASC LIMIT {_PPL_VOCAB_K}
), costed AS (
  SELECT f.doc_id, f.tf,
         CAST(FLOOR((CASE WHEN v.tok IS NULL THEN ln(t.n_corpus)
                          ELSE ln(t.n_corpus) - ln(v.c) END)
                    * 1000000.0) AS BIGINT) AS cost_micro
  FROM tf f CROSS JOIN tot t LEFT JOIN vocab v USING (tok)
), scores AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
         CAST(SUM(tf * cost_micro) AS BIGINT) AS cost_micro,
         CAST(FLOOR(CAST(SUM(tf * cost_micro) AS DOUBLE) / SUM(tf))
              AS BIGINT) AS mean_micro
  FROM costed GROUP BY doc_id
), corp AS (SELECT CAST(SUM(mean_micro) AS BIGINT) AS s,
                   COUNT(*) AS d FROM scores)
SELECT doc_id, n_tok, cost_micro, mean_micro,
       (mean_micro * corp.d <= corp.s) AS keep
FROM scores CROSS JOIN corp ORDER BY doc_id
""")


def _q_rolling_active_users(spark, sf):
    """Exact trailing-7-day distinct active users per day.  Window frames
    cannot express COUNT(DISTINCT), so the plan is the classic
    decomposition: distinct (day, user) pairs, then a bounded range join
    against the (tiny, broadcast) day spine — each pair lands in at most
    7 day rows — and one count-distinct aggregation."""
    e = T(spark, sf, "events")
    du = (e.select(F.to_date("ts").alias("day"), "user_id").distinct())
    days = du.select("day").distinct()
    j = (du.alias("u").join(
        F.broadcast(days.alias("d")),
        (F.col("u.day") <= F.col("d.day"))
        & (F.col("u.day") >= F.date_sub(F.col("d.day"), 6))))
    return (j.groupBy(F.col("d.day").alias("d_day"))
            .agg(F.countDistinct("u.user_id").alias("active_users_7d"))
            .select(F.date_format("d_day", "yyyy-MM-dd").alias("day"),
                    "active_users_7d")
            .orderBy("day"))


_register("rolling_active_users", _q_rolling_active_users, """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       COUNT(DISTINCT u.user_id) AS active_users_7d
FROM days d JOIN du u
  ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
GROUP BY d.day
""")


# HLL++ relative standard deviation; 2% keeps the per-day sketch ~KBs
ROLLING_ACTIVE_RSD = 0.02


def _q_rolling_active_users_approx(spark, sf):
    """SKETCH TIER of rolling_active_users (round-4 verdict #6):
    ``approx_count_distinct`` (HyperLogLog++, rsd=2%) replaces the exact
    countDistinct — and because HLL is duplicate-insensitive the plan
    DROPS the (day, user) pre-distinct shuffle the exact form needs to
    bound its range-join expansion: raw events join the broadcast day
    spine directly (<=7 rows out per event, map-side), then ONE
    aggregation whose partial state is a fixed-size sketch per (day,
    partition).  Net: one shuffle of ~n_partitions x n_days sketches vs
    the exact form's two wide shuffles — this is the 100 TB form.  No
    cross-engine oracle (HLL implementations differ); the driver records
    the rows-only check and tests/test_training_ops.py pins the error
    against the exact entry at sf0.1 within 3*rsd."""
    e = T(spark, sf, "events")
    ev = e.select(F.to_date("ts").alias("day"), "user_id")
    days = ev.select("day").distinct()
    j = (ev.alias("u").join(
        F.broadcast(days.alias("d")),
        (F.col("u.day") <= F.col("d.day"))
        & (F.col("u.day") >= F.date_sub(F.col("d.day"), 6))))
    return (j.groupBy(F.col("d.day").alias("d_day"))
            .agg(F.approx_count_distinct(
                "u.user_id", ROLLING_ACTIVE_RSD)
                .alias("active_users_7d_approx"))
            .select(F.date_format("d_day", "yyyy-MM-dd").alias("day"),
                    "active_users_7d_approx")
            .orderBy("day"))


_register("rolling_active_users_approx", _q_rolling_active_users_approx,
          None)


def _q_training_mix(spark, sf):
    """END-TO-END training-data assembly — the composite the individual
    round-3 entries exist for: quality gate -> deterministic stratified
    sample + split -> concatenate-and-chunk packing of the surviving TRAIN
    docs.  Every stage is the already-audited operator; the whole chain is
    map-only until the single packing window shuffle, so it scales exactly
    like its weakest member (one shuffle)."""
    from ..operators.sampling import (pack_sequences, sample_stratified,
                                      split_assign)
    d = T(spark, sf, "documents")
    quality_keep = ((TX.token_count(F.col("text")) >= 10)
                    & (TX.quality_score_q(F.col("text")) >= 300_000))
    rates = {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.5}
    assigned = split_assign(
        sample_stratified(d.filter(quality_keep), rates,
                          stratum_col="lang", default_rate=0.1),
        train=0.9, val=0.05)
    train = assigned.filter(F.col("sampled") & (F.col("split") == "train"))
    return (pack_sequences(train, budget_tokens=512, n_shards=8)
            .orderBy("shard", "bin"))


def _training_mix_sql() -> str:
    from ..operators.sampling import rate_to_hex
    rate_rows = ", ".join(
        f"('{k}', '{rate_to_hex(v)}')"
        for k, v in sorted({"en": 0.9, "de": 0.5, "fr": 0.5,
                            "es": 0.5}.items()))
    return f"""
WITH rates(lang, thresh) AS (VALUES {rate_rows}),
feats AS (
  SELECT doc_id, lang, text,
         string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS tk
  FROM documents
),
quality AS (
  SELECT doc_id, lang, tk FROM feats
  WHERE len(tk) >= 10
    AND FLOOR((LEAST(len(tk)/50.0, 1.0)*0.5
               + (len(list_distinct(tk))/len(tk))*0.3
               + (length(regexp_replace(text,'[^A-Za-z]','','g'))
                  / GREATEST(length(text),1))*0.2) * 1000000) >= 300000
),
assigned AS (
  SELECT q.doc_id, len(q.tk) AS n_tok,
         substring(md5('rate' || CAST(q.doc_id AS VARCHAR)), 1, 8)
           < COALESCE(r.thresh, '{rate_to_hex(0.1)}') AS sampled,
         substring(md5('split' || CAST(q.doc_id AS VARCHAR)), 1, 8)
           < '{rate_to_hex(0.9)}' AS is_train
  FROM quality q LEFT JOIN rates r ON q.lang = r.lang
),
train AS (SELECT doc_id AS id, doc_id % 8 AS shard, n_tok
          FROM assigned WHERE sampled AND is_train),
binned AS (
  SELECT id, shard, n_tok,
         CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
             PARTITION BY shard ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / 512.0) AS BIGINT) AS bin
  FROM train
)
SELECT shard, bin, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tokens,
       MIN(id) AS first_id, MAX(id) AS last_id,
       CAST(FLOOR(SUM(n_tok) / 512.0 * 1000000) AS BIGINT) AS fill_q
FROM binned GROUP BY shard, bin
"""


_register("training_mix", _q_training_mix, _training_mix_sql())


# =========================================================================== #
# public surface                                                              #
# =========================================================================== #

def catalog() -> dict[str, dict]:
    """Every entry, in registration order."""
    return dict(_Q)


def queries():
    return {name: entry["spark"] for name, entry in catalog().items()}


def oracle_sql():
    return {name: entry["oracle"] for name, entry in catalog().items()
            if entry["oracle"] is not None}
