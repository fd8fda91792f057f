"""SURVEY §2.5 aggregation operators over the synthetic tables.

Domain mapping (see queries/__init__): lineitem rows play per-ROI features,
orders play samples (o_totalprice ≈ ml_analyzed), part plays the class
dimension, events play the sensor/flag stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.aggregates import grouped_top_k, last_per_group, taxon_rollup
from . import register
from ._util import HASH32_SQL, dround, dround_sql, hash32, tables


# --- A1: per-(sample,class) biovolume/carbon rollup ------------------------
# Reference: ifcb_summarize_biovolumes (ifcb-data-pipeline.Rmd:476-486),
# per-liter math at Rmd:1410-1414; carbon is Menden-Deuer & Lessard-style
# f(volume, is_diatom).  Here: sample=o_orderkey, class=p_brand,
# Biovolume=l_extendedprice*(1-l_discount), is_diatom ≈ p_type='ECONOMY',
# ml_analyzed=o_totalprice/1000.
# Biovolume is summed in exact integer 1e-4 units (order-insensitive
# BIGINT sum — the a17 hardening; see plans/shark_export.py).  Carbon
# keeps the double sum: pow() makes summands irrational, so the ~1e-12
# order noise cannot sit on a floor boundary in practice.
A1_SQL = """
WITH per_roi AS (
    SELECT l.l_orderkey AS sample,
           p.p_brand    AS class,
           floor(l.l_extendedprice * 100.0 + 0.5)::BIGINT
               * (100 - floor(l.l_discount * 100.0 + 0.5)::BIGINT) AS vol_e4,
           CASE WHEN p.p_type = 'ECONOMY'
                THEN 0.288 * pow(l.l_extendedprice * (1 - l.l_discount) / 1000.0, 0.811)
                ELSE 0.216 * pow(l.l_extendedprice * (1 - l.l_discount) / 1000.0, 0.939)
           END AS carbon
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity > 1
)
SELECT r.sample, r.class,
       count(*)::BIGINT AS counts,
       floor((sum(r.vol_e4)::DOUBLE / 10000.0 / 1e9) * 1000000.0 + 0.5) / 1000000.0 AS biovolume_mm3,
       floor(sum(r.carbon) * 10000.0 + 0.5) / 10000.0 AS carbon_ug,
       floor((count(*) * 1000 / (o.o_totalprice / 1000.0)) * 10000.0 + 0.5) / 10000.0 AS counts_per_liter
FROM per_roi r JOIN orders o ON r.sample = o.o_orderkey
GROUP BY r.sample, r.class, o.o_totalprice
"""


@register("a1_biovolume_rollup", A1_SQL, survey_ref="SURVEY §2.5 A1; Rmd:476-486,1410-1414")
def a1_biovolume_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part, orders = tables(spark, sf_dir, "lineitem", "part", "orders")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    vol_e4 = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast(
        "long"
    ) * (100 - F.floor(F.col("l_discount") * 100.0 + F.lit(0.5)).cast("long"))
    carbon = F.when(
        F.col("p_type") == "ECONOMY", 0.288 * F.pow(vol / 1000.0, 0.811)
    ).otherwise(0.216 * F.pow(vol / 1000.0, 0.939))
    per_roi = (
        lineitem.where(F.col("l_quantity") > 1)
        .join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .select(
            F.col("l_orderkey").alias("sample"),
            F.col("p_brand").alias("class"),
            vol_e4.alias("vol_e4"),
            carbon.alias("carbon"),
        )
    )
    rolled = per_roi.groupBy("sample", "class").agg(
        F.count(F.lit(1)).alias("counts"),
        (F.sum("vol_e4").cast("double") / 10000.0).alias("__vol"),
        F.sum("carbon").alias("__carbon"),
    )
    # orders scales with the data (≈ samples): no broadcast hint — the
    # rolled side is already reduced to |sample × class|, AQE sizes the join.
    return (
        rolled.join(orders, F.col("sample") == F.col("o_orderkey"))
        .select(
            "sample",
            "class",
            "counts",
            dround(F.col("__vol") / 1e9, 6).alias("biovolume_mm3"),
            dround(F.col("__carbon"), 4).alias("carbon_ug"),
            dround(
                F.col("counts") * 1000 / (F.col("o_totalprice") / 1000.0), 4
            ).alias("counts_per_liter"),
        )
    )


# --- A2: taxonomic re-aggregation with concat provenance -------------------
# Reference: ifcb_delivery_data_to_shark.R:328-357 — N:1 class→taxon
# remap, sum measures, string-concat the contributing classes.
# Here: taxon = brand "series" (Brand#1x → Brand#1).
A2_SQL = """
WITH rolled AS (
    SELECT l.l_orderkey AS sample, p.p_brand AS class,
           sum(l.l_quantity) AS qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
)
SELECT sample,
       substr(class, 1, 7) AS taxon,
       floor(sum(qty) * 100.0 + 0.5) / 100.0 AS qty,
       count(*)::BIGINT AS n_classes,
       string_agg(class, ', ' ORDER BY class) AS class_provenance
FROM rolled
GROUP BY sample, substr(class, 1, 7)
"""


@register("a2_taxon_rollup", A2_SQL, survey_ref="SURVEY §2.5 A2; delivery_to_shark.R:328-357")
def a2_taxon_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = tables(spark, sf_dir, "lineitem", "part")
    rolled = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .groupBy(F.col("l_orderkey").alias("sample"), F.col("p_brand").alias("class"))
        .agg(F.sum("l_quantity").alias("qty"))
    )
    remapped = rolled.withColumn("taxon", F.substring("class", 1, 7))
    out = taxon_rollup(
        remapped.select("sample", "taxon", "qty", "class"),
        keys=["sample", "taxon"],
        sum_cols=["qty"],
        first_cols=[],
        concat_cols=["class"],
    )
    return out.select(
        "sample",
        "taxon",
        dround(F.col("qty"), 2).alias("qty"),
        F.size(F.split("class", ", ")).cast("long").alias("n_classes"),
        F.col("class").alias("class_provenance"),
    )


# --- A3: flag frequency summary -------------------------------------------
A3_SQL = """
SELECT event_type AS flag, count(*)::BIGINT AS n
FROM events GROUP BY event_type
"""


@register("a3_flag_frequency", A3_SQL, survey_ref="SURVEY §2.5 A3; Rmd:689-698")
def a3_flag_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    return events.groupBy(F.col("event_type").alias("flag")).agg(
        F.count(F.lit(1)).alias("n")
    )


# --- A4: monthly mean/sd per basin ----------------------------------------
# Reference: Rmd:1199-1204 (group_by(basin, month) summarise(mean, sd)).
# Basin ≈ nation name, measurement ≈ o_totalprice.
# mean_val is derived from an exact integer cents sum (a17 hardening:
# 2-decimal values make round4(mean) = floor(cents*100/k + .5) land on
# half-integer boundaries whenever k divides 200*cents oddly, and a
# double sum's order noise flips the floor).  sd keeps the native
# stddev: the sqrt makes it irrational, so boundary hits don't occur.
A4_SQL = """
SELECT n.n_name AS basin,
       month(o.o_orderdate)::INT AS month,
       floor(sum(floor(o.o_totalprice * 100.0 + 0.5)::BIGINT)::DOUBLE
             * 100.0 / count(*) + 0.5) / 10000.0 AS mean_val,
       floor(stddev_samp(o.o_totalprice) * 10000.0 + 0.5) / 10000.0 AS sd_val,
       count(*)::BIGINT AS n
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2
"""


@register("a4_monthly_stats", A4_SQL, survey_ref="SURVEY §2.5 A4; Rmd:1199-1204")
def a4_monthly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer, nation = tables(spark, sf_dir, "orders", "customer", "nation")
    return (
        # customer scales with the data (≈ stations): no broadcast hint — let
        # AQE pick broadcast while small and fall back to shuffle at scale.
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("basin"),
            F.month("o_orderdate").alias("month"),
        )
        .agg(
            (
                F.floor(
                    F.sum(
                        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast(
                            "long"
                        )
                    ).cast("double")
                    * 100.0
                    / F.count(F.lit(1))
                    + F.lit(0.5)
                )
                / 10000.0
            ).alias("mean_val"),
            dround(F.stddev_samp("o_totalprice"), 4).alias("sd_val"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --- A5: grouped top-1 (argmax) -------------------------------------------
# Reference: ifcb_hab_alert.R:106-119 slice_max per taxon.
A5_SQL = """
SELECT p_brand, l_orderkey, l_linenumber, l_extendedprice
FROM (
    SELECT p.p_brand, l.l_orderkey, l.l_linenumber, l.l_extendedprice,
           row_number() OVER (PARTITION BY p.p_brand
                              ORDER BY l.l_extendedprice DESC, l.l_orderkey, l.l_linenumber) AS rn
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
) WHERE rn = 1
"""


@register("a5_grouped_top1", A5_SQL, survey_ref="SURVEY §2.5 A5; hab_alert.R:106-119")
def a5_grouped_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = tables(spark, sf_dir, "lineitem", "part")
    joined = lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
    return grouped_top_k(
        joined.select("p_brand", "l_orderkey", "l_linenumber", "l_extendedprice"),
        partition_by=["p_brand"],
        order_by=[
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        k=1,
    )


# --- A6: per-sample totals + bloom categorization --------------------------
# Reference: ifcb_hab_alert.R:121-136 (>120 major, >=70 bloom, >=40 minor).
A6_SQL = """
SELECT o_orderkey AS sample,
       floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS total,
       CASE WHEN sum(l_quantity) > 120 THEN 'major bloom'
            WHEN sum(l_quantity) >= 70 THEN 'bloom'
            WHEN sum(l_quantity) >= 40 THEN 'minor bloom'
            ELSE 'no bloom' END AS category
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderkey
"""


@register("a6_bloom_categorize", A6_SQL, survey_ref="SURVEY §2.5 A6; hab_alert.R:121-136")
def a6_bloom_categorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders = tables(spark, sf_dir, "lineitem", "orders")
    totals = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_orderkey").alias("sample"))
        .agg(F.sum("l_quantity").alias("__total"))
    )
    return totals.select(
        "sample",
        dround(F.col("__total"), 2).alias("total"),
        F.when(F.col("__total") > 120, "major bloom")
        .when(F.col("__total") >= 70, "bloom")
        .when(F.col("__total") >= 40, "minor bloom")
        .otherwise("no bloom")
        .alias("category"),
    )


# --- A7: global top-1 ------------------------------------------------------
A7_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
"""


@register("a7_global_top1", A7_SQL, survey_ref="SURVEY §2.5 A7; hab_alert.R:162-163")
def a7_global_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(1)
    )


# --- A8: last-per-group ----------------------------------------------------
# Reference: latest annotation per sample, delivery_to_shark.R:268-277.
A8_SQL = """
SELECT user_id, event_id, event_type, ts FROM (
    SELECT user_id, event_id, event_type, ts,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
"""


@register("a8_last_per_group", A8_SQL, survey_ref="SURVEY §2.5 A8; delivery_to_shark.R:268-277")
def a8_last_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    return last_per_group(
        events.select("user_id", "event_id", "event_type", "ts"),
        partition_by=["user_id"],
        ts_col="ts",
        tie_break=["event_id"],
    )


# --- A10: duplicate detection ---------------------------------------------
# Reference: merge_training_datasets/01_create_file_index.R:88-101.
# Duplicate = same part name+type listed under multiple brands.
A10_SQL = """
SELECT p_name, p_type, count(*)::BIGINT AS n,
       count(DISTINCT p_brand)::BIGINT AS n_brands
FROM part GROUP BY p_name, p_type HAVING count(*) > 1
"""


@register("a10_duplicate_detection", A10_SQL, survey_ref="SURVEY §2.5 A10; 01_create_file_index.R:88-101")
def a10_duplicate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = tables(spark, sf_dir, "part")
    return (
        part.groupBy("p_name", "p_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("p_brand").alias("n_brands"),
        )
        .where(F.col("n") > 1)
    )


# --- A11: distinct ---------------------------------------------------------
A11_SQL = "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"


@register("a11_distinct", A11_SQL, survey_ref="SURVEY §2.5 A11; Rmd:430,988")
def a11_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    (customer,) = tables(spark, sf_dir, "customer")
    return customer.select("c_mktsegment", "c_nationkey").dropDuplicates()


# --- A12: min/max summary (max classifier version per year analog) ---------
A12_SQL = """
SELECT year(o_orderdate)::INT AS year,
       min(o_orderdate) AS first_order, max(o_orderdate) AS last_order,
       max(o_orderkey) AS max_key
FROM orders GROUP BY 1
"""


@register("a12_minmax_summary", A12_SQL, survey_ref="SURVEY §2.5 A12; Rmd:171-191")
def a12_minmax_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    return orders.groupBy(F.year("o_orderdate").alias("year")).agg(
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.max("o_orderkey").alias("max_key"),
    )


# --- A13: grid-cell frequency map -----------------------------------------
# Reference: samples_frequency_map.R:33-40 — 0.3°×0.25° grid counts.
A13_SQL = f"""
SELECT floor((10.0 + (user_id % 1200) / 100.0) / 0.3)::BIGINT AS grid_lon,
       floor((54.0 + (user_id % 600) / 100.0) / 0.25)::BIGINT AS grid_lat,
       count(*)::BIGINT AS n
FROM events GROUP BY 1, 2
"""


@register("a13_grid_cell_frequency", A13_SQL, survey_ref="SURVEY §2.5 A13; samples_frequency_map.R:33-40")
def a13_grid_cell_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import lat_expr, lon_expr

    (events,) = tables(spark, sf_dir, "events")
    return (
        events.select(
            F.floor(lon_expr(F.col("user_id")) / 0.3).alias("grid_lon"),
            F.floor(lat_expr(F.col("user_id")) / 0.25).alias("grid_lat"),
        )
        .groupBy("grid_lon", "grid_lat")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- A14: monthly histogram -----------------------------------------------
A14_SQL = """
SELECT year(o_orderdate)::INT AS year, month(o_orderdate)::INT AS month,
       count(*)::BIGINT AS n
FROM orders GROUP BY 1, 2
"""


@register("a14_monthly_histogram", A14_SQL, survey_ref="SURVEY §2.5 A14; samples_frequency_map.R:76-78")
def a14_monthly_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    return orders.groupBy(
        F.year("o_orderdate").alias("year"), F.month("o_orderdate").alias("month")
    ).agg(F.count(F.lit(1)).alias("n"))


# --- A17: per-sample QC sums + ratio --------------------------------------
# Reference: delivery_to_shark.R:512-520.
# Rounding hazard (found by the round-5 sf0.1 oracle sweep): prices have
# exactly 2 decimals, so group means land EXACTLY on .xx5 floor
# boundaries (e.g. 7 items totalling 267105.125 ⇒ mean 38157.875), and a
# double SUM's value depends on accumulation order — Spark's partial
# aggregation vs DuckDB's sequential scan disagree by ~1e-12, which
# flips the floor.  Fix: sum exact integer CENTS (per-row floor is exact
# since each price is a 2-decimal literal; BIGINT sum is
# order-insensitive), then derive both rounded outputs from the one
# exact integer — bit-identical in both engines at any scale.
A17_SQL = """
WITH cents AS (
    SELECT l_orderkey,
           floor(l_extendedprice * 100.0 + 0.5)::BIGINT AS price_cents
    FROM lineitem
)
SELECT l_orderkey AS sample,
       sum(price_cents) / 100.0 AS total_price,
       count(*)::BIGINT AS n_items,
       floor(sum(price_cents)::DOUBLE / count(*) + 0.5) / 100.0 AS price_per_item
FROM cents GROUP BY l_orderkey
"""


@register("a17_qc_sums", A17_SQL, survey_ref="SURVEY §2.5 A17; delivery_to_shark.R:512-520")
def a17_qc_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("long")
    return (
        lineitem.select("l_orderkey", cents.alias("price_cents"))
        .groupBy(F.col("l_orderkey").alias("sample"))
        .agg(
            (F.sum("price_cents") / 100.0).alias("total_price"),
            F.count(F.lit(1)).alias("n_items"),
            (
                F.floor(
                    F.sum("price_cents").cast("double") / F.count(F.lit(1))
                    + F.lit(0.5)
                )
                / 100.0
            ).alias("price_per_item"),
        )
    )


# --- A18: provenance summary (count + countDistinct) -----------------------
A18_SQL = """
SELECT source AS source_owner, count(*)::BIGINT AS n,
       count(DISTINCT lang)::BIGINT AS n_langs,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM documents GROUP BY source
"""


@register("a18_provenance_summary", A18_SQL, survey_ref="SURVEY §2.5 A18; 01_create_file_index.R:61-65")
def a18_provenance_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    return documents.groupBy(F.col("source").alias("source_owner")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# --- A19 (beyond reference): cube / grouping sets --------------------------
# The reference has no grouping sets (SURVEY §2.5 note); a 100 TB engine
# wants them for one-pass multi-granularity rollups.
A19_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*)::BIGINT AS n,
       floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register("a19_cube_rollup", A19_SQL, survey_ref="beyond reference: grouping sets (SURVEY §2.5 note)")
def a19_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


# --- A22: time-decayed engagement score ------------------------------------
# Recency-weighted per-user aggregation — the "decayed engagement" /
# sample-freshness-weighting pass of a training-data refresh: each event
# contributes value · 2^-w where w = whole weeks before the newest event
# in the corpus (half-life = 1 week), capped at 8 (2^-8 ≈ 0.4%, the
# long-tail floor).  Distributed shape: the global max-ts is a 1-row agg
# broadcast into a pure map-side weighting, then one groupBy(user) —
# identical cost to a plain per-user sum at any scale.  Determinism (the
# finite-decimal rule): value is a 2-decimal price, so value·2^-w terms
# are 6-decimal finite decimals whose sum CAN land exactly on a 1e-4
# floor boundary.  The sum is therefore taken in exact integer units —
# cents · 2^(8-w), a BIGINT — and the double score is derived ONCE from
# the exact total (score = total / 25600), making the result independent
# of summation order in both engines.
A22_SQL = """
WITH mx AS (SELECT max(epoch_us(ts)) AS mus FROM events),
wt AS (
    SELECT user_id,
           floor(value * 100.0 + 0.5)::BIGINT
             * (1::BIGINT << (8 - least((mx.mus - epoch_us(ts))
                                        // 604800000000, 8)))::BIGINT
             AS unit
    FROM events, mx
)
SELECT user_id,
       count(*)::BIGINT AS n_events,
       floor(sum(unit)::BIGINT / 25600.0 * 10000.0 + 0.5) / 10000.0
           AS engagement
FROM wt GROUP BY user_id
"""


@register("a22_decayed_engagement", A22_SQL, survey_ref="beyond reference: half-life-decayed engagement (recency weighting)")
def a22_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mx = events.agg(F.max(us).alias("mus"))
    w = F.least((F.col("mus") - us) / F.lit(604_800_000_000), F.lit(8.0)).cast(
        "long"
    )
    unit = (
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
        * F.pow(F.lit(2.0), (8 - w).cast("double")).cast("long")
    )
    return (
        events.crossJoin(F.broadcast(mx))
        .select("user_id", unit.alias("unit"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.floor(F.sum("unit") / F.lit(25600.0) * 10000.0 + F.lit(0.5))
                / 10000.0
            ).alias("engagement"),
        )
    )


# --- A23: weekly cohort retention ------------------------------------------
# The cohort-retention matrix over the event stream: users are grouped
# by their first-activity week, and each later week counts how many of
# that cohort came back.  Scale shape: first-touch is a per-user min
# (one groupBy), activity weeks are a distinct projection, and the
# matrix is their equi-join on user_id — no window over the whole
# stream, no per-day distinct scans.  Weeks are integer epoch-week
# indices (epoch_us // 604800e6), so every value is exact.  The cohort
# event is a QUALIFYING purchase (value > 100): the raw stream is so
# dense every user is active in week 0, which would collapse the matrix
# to one cohort — the sparse subset spreads first-touch across all 5
# weeks (120 of 150 users qualify at sf0.01).
A23_SQL = """
WITH act AS (
    SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
    FROM events WHERE event_type = 'purchase' AND value > 100.0
),
first_touch AS (
    SELECT user_id, min(week) AS cohort_week FROM act GROUP BY user_id
)
SELECT f.cohort_week::BIGINT AS cohort_week,
       (a.week - f.cohort_week)::BIGINT AS week_offset,
       count(*)::BIGINT AS n_active
FROM act a JOIN first_touch f USING (user_id)
GROUP BY f.cohort_week, a.week - f.cohort_week
"""


@register("a23_cohort_retention", A23_SQL, survey_ref="beyond reference: first-touch weekly cohort retention matrix")
def a23_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    week = (
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(604_800_000_000)
    ).cast("long")
    act = (
        events.where((F.col("event_type") == "purchase") & (F.col("value") > 100.0))
        .select("user_id", week.alias("week"))
        .distinct()
    )
    first = act.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# --- W10: cumulative distinct users (growth curve) -------------------------
# Running count of distinct users by day — the naive form (a distinct
# count over an expanding window) rescans the whole history per day,
# which is quadratic at stream scale.  The scalable identity: a user
# contributes to the running distinct exactly once, on their FIRST day
# — so first-touch per user (one groupBy), daily new-user counts, and a
# cumulative sum over the ~|days|-sized series.  The final window runs
# over one row per day, the documented bounded-window exception.  Same
# qualifying-purchase subset as a23 so the curve actually grows over
# the month instead of saturating on day 1.
W10_SQL = """
WITH first_day AS (
    SELECT user_id, min(ts::DATE) AS d FROM events
    WHERE event_type = 'purchase' AND value > 100.0
    GROUP BY user_id
),
daily AS (
    SELECT d, count(*)::BIGINT AS new_users FROM first_day GROUP BY d
)
SELECT d AS day, new_users,
       sum(new_users) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)::BIGINT
           AS cum_users
FROM daily
"""


@register("w10_cumulative_distinct", W10_SQL, survey_ref="beyond reference: running distinct via first-touch transform")
def w10_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    first = (
        events.where((F.col("event_type") == "purchase") & (F.col("value") > 100.0))
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("d"))
    )
    daily = first.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("d").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


# --- A24: skew-salted aggregation (driver-visible skew machinery) ----------
# The "bloom day" case (SURVEY §7.3): a handful of group keys carry
# almost all rows, so a naive groupBy funnels the corpus into 3 tasks.
# operators/skew.salted_aggregate splits the aggregation into a partial
# on (key, salt) — 16 tasks per hot key — and an algebraic final on the
# key.  l_returnflag is exactly this shape (3 keys over the whole fact
# table).  Every aggregate is integer-exact (counts, cents sums, max),
# so the partial/final re-association cannot perturb the result and the
# oracle is the plain GROUP BY.
A24_SQL = """
SELECT l_returnflag,
       count(*)::BIGINT AS n,
       sum(floor(l_extendedprice * 100.0 + 0.5)::BIGINT)::BIGINT AS price_cents,
       max(l_quantity) AS max_qty
FROM lineitem GROUP BY l_returnflag
"""


@register("a24_salted_skew_rollup", A24_SQL, survey_ref="SURVEY §7.3 skew; beyond reference: salted two-stage aggregation")
def a24_salted_skew_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_aggregate

    (lineitem,) = tables(spark, sf_dir, "lineitem")
    base = lineitem.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "l_quantity",
    )
    return salted_aggregate(
        base,
        keys=["l_returnflag"],
        aggs={
            "n": (None, "count", "sum"),
            "price_cents": ("cents", "sum", "sum"),
            "max_qty": ("l_quantity", "max", "max"),
        },
    ).select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.col("price_cents").cast("long").alias("price_cents"),
        "max_qty",
    )


# --- A25: Kaplan-Meier survival curve ---------------------------------------
# Cohort analytics' canonical estimator: user "lifetime" = whole days
# between first and last event; users whose last activity falls within
# 2 days of the stream's end are right-CENSORED (still alive).  For
# each observed lifetime t: risk set n_t (users with T >= t), deaths
# d_t (uncensored with T = t), censored c_t, and the product-limit
# survival S(t) = Π_{i<=t}(1 - d_i/n_i).  The cumulative product runs
# as exp(Σ ln(factor)) over the positive factors with an explicit
# zero-factor counter (a 1-d_i/n_i = 0 step drives S to exactly 0;
# ln(0) is null in Spark and -inf in DuckDB, so the counter keeps the
# two engines identical).  One user-level aggregation over the fact
# table; every window runs on the bounded |distinct lifetimes| frame.
A25_SQL = """
WITH bounds AS (SELECT max(ts) AS mx FROM events),
per_user AS (
    SELECT user_id,
           date_diff('day', min(ts), max(ts))::BIGINT AS t,
           (max(ts) < (SELECT mx FROM bounds) - INTERVAL 2 DAY) AS died
    FROM events GROUP BY user_id
),
tbl AS (
    SELECT t,
           sum(CASE WHEN died THEN 1 ELSE 0 END)::BIGINT AS d,
           sum(CASE WHEN died THEN 0 ELSE 1 END)::BIGINT AS c,
           count(*)::BIGINT AS leaving
    FROM per_user GROUP BY t
),
risk AS (
    SELECT t, d, c,
           ((SELECT count(*) FROM per_user) -
            coalesce(sum(leaving) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           )::BIGINT AS n
    FROM tbl
),
surv AS (
    SELECT t, d, c, n,
           sum(CASE WHEN d = n THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS n_zero,
           sum(CASE WHEN d > 0 AND d < n
                    THEN floor(ln(1.0 - d::DOUBLE / n) * 1000000000.0 + 0.5)::BIGINT
                    ELSE 0 END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)::BIGINT AS log_su
    FROM risk
)
SELECT t AS lifetime_days, n AS n_risk, d AS n_deaths, c AS n_censored,
       CASE WHEN n_zero > 0 THEN 0.0
            ELSE floor(exp(log_su / 1000000000.0) * 1000000.0 + 0.5) / 1000000.0
            END AS survival
FROM surv
"""


@register("a25_survival_curve", A25_SQL, survey_ref="beyond reference: Kaplan-Meier product-limit survival over user lifetimes (right-censored)")
def a25_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    mx = events.agg(F.max("ts").alias("mx"))
    per_user = (
        events.groupBy("user_id")
        .agg(F.min("ts").alias("mn"), F.max("ts").alias("umx"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.datediff(F.col("umx"), F.col("mn")).cast("long").alias("t"),
            (F.col("umx") < F.col("mx") - F.expr("INTERVAL 2 DAY")).alias("died"),
        )
    )
    per_user = per_user.localCheckpoint()
    total = per_user.count()
    tbl = per_user.groupBy("t").agg(
        F.sum(F.when(F.col("died"), 1).otherwise(0)).cast("long").alias("d"),
        F.sum(F.when(F.col("died"), 0).otherwise(1)).cast("long").alias("c"),
        F.count(F.lit(1)).alias("leaving"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = tbl.withColumn(
        "n",
        F.lit(total) - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0)),
    )
    surv = risk.select(
        "t",
        "d",
        "c",
        "n",
        F.sum(F.when(F.col("d") == F.col("n"), 1).otherwise(0))
        .over(w_cum)
        .alias("n_zero"),
        # Each ln(1 - d/n) term is quantized to integer nano-units before
        # the running sum (the tx13/sp8 recipe, VERDICT r7 item 7): d/n is
        # an exact-integer ratio so the per-term IEEE ops are identical in
        # both engines, and the BIGINT sum is order-insensitive — a
        # last-ulp ln/exp divergence can no longer accumulate into the
        # floor(·1e6) boundary of the survival output.
        F.sum(
            F.when(
                (F.col("d") > 0) & (F.col("d") < F.col("n")),
                F.floor(
                    F.log(1.0 - F.col("d").cast("double") / F.col("n")) * 1e9
                    + F.lit(0.5)
                ).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
        .over(w_cum)
        .alias("log_su"),
    )
    return surv.select(
        F.col("t").alias("lifetime_days"),
        F.col("n").alias("n_risk"),
        F.col("d").alias("n_deaths"),
        F.col("c").alias("n_censored"),
        F.when(F.col("n_zero") > 0, F.lit(0.0))
        .otherwise(dround(F.exp(F.col("log_su") / 1e9), 6))
        .alias("survival"),
    )


# --- A26: ordered sequence funnel with per-stage time windows ---------------
# a21 counts unordered stage membership; a26 is the MATCH_RECOGNIZE-
# style sequence funnel: signup → first click within 1 day of the
# signup → first purchase within 1 day of that click.  Each stage's
# anchor is the PREVIOUS stage's timestamp (a per-user scalar), so the
# plan is a cascade of user-keyed conditional aggregations joined back
# on user_id — three balanced key shuffles, no per-user sort of the
# full stream, no sequence explosion.  Timestamps compare exactly
# (microsecond integers); output is timestamps + an integer stage.
A26_SQL = """
WITH s AS (
    SELECT user_id, min(ts) AS s_ts FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(e.ts) AS c_ts
    FROM events e JOIN s ON s.user_id = e.user_id
    WHERE e.event_type = 'click'
      AND e.ts > s.s_ts AND e.ts <= s.s_ts + INTERVAL 1 DAY
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(e.ts) AS p_ts
    FROM events e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = 'purchase'
      AND e.ts > c.c_ts AND e.ts <= c.c_ts + INTERVAL 1 DAY
    GROUP BY e.user_id
)
SELECT s.user_id,
       s.s_ts::TIMESTAMP AS signup_ts,
       c.c_ts::TIMESTAMP AS click_ts,
       p.p_ts::TIMESTAMP AS purchase_ts,
       (1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
          + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END)::INT AS stage
FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
"""


@register("a26_sequence_funnel", A26_SQL, survey_ref="beyond reference: MATCH_RECOGNIZE-style ordered funnel (per-stage 1-day windows anchored on the previous stage)")
def a26_sequence_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    s = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("ets")
    )
    c = (
        clicks.join(s, "user_id")
        .where(
            (F.col("ets") > F.col("s_ts"))
            & (F.col("ets") <= F.col("s_ts") + F.expr("INTERVAL 1 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ets").alias("c_ts"))
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ets")
    )
    p = (
        purchases.join(c, "user_id")
        .where(
            (F.col("ets") > F.col("c_ts"))
            & (F.col("ets") <= F.col("c_ts") + F.expr("INTERVAL 1 DAY"))
        )
        .groupBy("user_id")
        .agg(F.min("ets").alias("p_ts"))
    )
    return (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("s_ts").alias("signup_ts"),
            F.col("c_ts").alias("click_ts"),
            F.col("p_ts").alias("purchase_ts"),
            (
                F.lit(1)
                + F.when(F.col("c_ts").isNull(), 0).otherwise(1)
                + F.when(F.col("p_ts").isNull(), 0).otherwise(1)
            )
            .cast("int")
            .alias("stage"),
        )
    )


# --- A27: retention cohort matrix (first-touch cohorting) -------------------
# The cohort-retention counterpart of a25's survival curve: users are
# cohorted by the DAY of their first event; for every later active day,
# retention = |cohort users active at that age| / |cohort|.  The classic
# product-analytics triangle, and the aggregate behind replay/engagement
# weighting of interaction-log training data.  (Day granularity: the
# synthetic stream spans one month, so days are the month-analogue of a
# production deployment's monthly cohorts.)  Scale shape: the fact
# stream collapses FIRST to distinct (user, day) — one groupBy keyed by
# user_id that also yields each user's cohort via min(day) — then
# (cohort, age) cells aggregate over that bounded frame; cohort sizes
# join back broadcast (|days| rows).  No windows, no distinct-count
# over raw events, three balanced key shuffles total at any scale.
# Ages are exact integer day differences, and retention is a ratio of
# exact BIGINTs — floor-form safe in both engines.
A27_SQL = """
WITH um AS (
    SELECT DISTINCT user_id, ts::DATE AS d FROM events
),
cohort AS (SELECT user_id, min(d) AS c FROM um GROUP BY user_id),
sizes AS (SELECT c, count(*)::BIGINT AS n_cohort FROM cohort GROUP BY c),
act AS (
    SELECT ch.c, date_diff('day', ch.c, um.d)::BIGINT AS age,
           count(*)::BIGINT AS n_active
    FROM um JOIN cohort ch USING (user_id)
    GROUP BY 1, 2
)
SELECT a.c AS cohort_day, a.age, a.n_active, s.n_cohort,
       floor((a.n_active * 1.0 / s.n_cohort) * 1000000.0 + 0.5) / 1000000.0
           AS retention
FROM act a JOIN sizes s USING (c)
"""


@register("a27_retention_cohorts", A27_SQL, survey_ref="beyond reference: retention cohort matrix (first-touch cohorting)")
def a27_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    um = events.select(
        "user_id", F.col("ts").cast("timestamp").cast("date").alias("d")
    ).distinct()
    cohort = um.groupBy("user_id").agg(F.min("d").alias("c"))
    sizes = cohort.groupBy("c").agg(F.count(F.lit(1)).alias("n_cohort"))
    act = (
        um.join(cohort, "user_id")
        .select("c", F.datediff(F.col("d"), F.col("c")).cast("long").alias("age"))
        .groupBy("c", "age")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return act.join(F.broadcast(sizes), "c").select(
        F.col("c").alias("cohort_day"),
        "age",
        "n_active",
        "n_cohort",
        dround(F.col("n_active") * 1.0 / F.col("n_cohort"), 6).alias("retention"),
    )


# --- A28: deterministic HyperLogLog distinct sketch + exact twin ------------
# At 100 TB an exact per-group COUNT(DISTINCT key) is a full shuffle of
# every key; the sketch path ships m=64 one-byte registers per group
# instead.  This op implements HLL from scratch — shared md5-based
# hash32, bucket = h % 64, rho = leading-zero-count of the remaining 26
# bits + 1, register = max(rho) — so BOTH engines (and the pure-Python
# law anchor) compute the identical estimate bit-for-bit, unlike the
# engines' built-in approx_count_distinct whose internals differ.  The
# estimator is Flajolet's alpha_m * m^2 / sum(2^-M_j) with the standard
# small-range linear-counting correction (E <= 2.5m and empty buckets
# present -> m * ln(m / V)).  Exactness argument: 2^-M_j = 1.0 /
# (1::BIGINT << M_j) is an exact binary fraction, the per-group sum of
# ≤64 such terms is exact (≤ 32 significant bits) and order-insensitive,
# so the raw branch is a single IEEE division of two exact values and
# bit-identical cross-engine.  The correction branch is NOT: JVM
# Math.log sits 1 ulp off libm (= CPython = DuckDB) at 6 of the 63
# possible inputs (v in {21,23,26,35,40,52} — the Math.pow(10,-5)
# divergence class, found by this op's exhaustive parity test).  The
# estimate is therefore quantized ONCE to integer 1e-4 units (e_u)
# before both output columns; floor(e*1e4+0.5) is exhaustively
# certified stable under ±2 ulp for all 63 correction inputs, so e_u —
# hence hll_estimate (one exact int/1e4 division) and rel_err_pct (one
# IEEE division of exact integers) — is deterministic for any data.
# Scale shape: one orders scan -> (month, bucket) hash agg (map-side
# partial, ≤64 rows per group survive) -> month agg; the exact twin is
# the verification payload at SF, not part of the sketch's cost model.
_HLL_ALPHA_M2 = "2904.064"  # 0.709 * 64^2, the m=64 Flajolet constant


A28_SQL = r"""
WITH h AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           {h32} AS h
    FROM orders
),
b AS (
    SELECT month, h % 64 AS bucket,
           max(CASE WHEN h // 64 = 0 THEN 27
                    ELSE 27 - length(bin(h // 64)) END) AS M
    FROM h GROUP BY month, h % 64
),
z AS (
    SELECT month,
           count(*)::BIGINT AS used,
           sum(1.0 / (1::BIGINT << M)) AS zsum
    FROM b GROUP BY month
),
e AS (
    SELECT month, used, 64 - used AS v,
           {alpha} / (zsum + (64 - used)) AS e_raw
    FROM z
),
est AS (
    SELECT month, used, v,
           CASE WHEN e_raw <= 160.0 AND v > 0
                THEN 64.0 * ln(64.0 / v) ELSE e_raw END AS e
    FROM e
),
q AS (
    SELECT month, used, floor(e * 10000.0 + 0.5)::BIGINT AS e_u FROM est
),
x AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           count(DISTINCT o_custkey)::BIGINT AS exact_distinct
    FROM orders GROUP BY month
)
SELECT x.month, x.exact_distinct,
       q.used AS n_buckets_used,
       q.e_u / 10000.0 AS hll_estimate,
       {err4} AS rel_err_pct
FROM x JOIN q ON x.month = q.month
""".format(
    h32=HASH32_SQL.format(x="'c' || o_custkey::VARCHAR"),
    alpha=_HLL_ALPHA_M2,
    err4=dround_sql(
        "(q.e_u - 10000 * x.exact_distinct)::DOUBLE / (100.0 * x.exact_distinct)", 4
    ),
)


@register(
    "a28_hll_distinct_sketch",
    A28_SQL,
    survey_ref="beyond reference: from-scratch deterministic HyperLogLog "
    "(p=6) vs exact COUNT DISTINCT twin, per order month",
)
def a28_hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    h = hash32(F.concat(F.lit("c"), F.col("o_custkey").cast("string")))
    # h < 2^32 << 2^53, so the double division h/64 is exact before floor
    hashed = orders.select(month, (h % 64).alias("bucket"), F.floor(h / 64).cast("long").alias("w"))
    rho = F.when(F.col("w") == 0, F.lit(27)).otherwise(
        F.lit(27) - F.length(F.bin("w"))
    )
    b = hashed.groupBy("month", "bucket").agg(F.max(rho).alias("M"))
    z = b.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("used"),
        F.sum(F.lit(1.0) / F.expr("shiftleft(1L, cast(M as int))")).alias("zsum"),
    )
    e_raw = F.lit(float(_HLL_ALPHA_M2)) / (F.col("zsum") + (F.lit(64) - F.col("used")))
    v = (F.lit(64) - F.col("used")).alias("v")
    est = z.select(
        "month",
        "used",
        v,
        F.when(
            (e_raw <= 160.0) & (F.col("used") < 64),
            F.lit(64.0) * F.log(F.lit(64.0) / (F.lit(64) - F.col("used"))),
        )
        .otherwise(e_raw)
        .alias("e"),
    )
    # Quantize ONCE to integer 1e-4 units before BOTH output columns:
    # JVM Math.log is 1 ulp off libm at 6 of the 63 possible correction
    # inputs (v in {21,23,26,35,40,52}; found by the exhaustive parity
    # test this ships with), so downstream derivations from the raw
    # double are not bit-portable — but floor(e*1e4+0.5) is certified
    # stable under ±2 ulp for ALL 63 inputs, and the raw branch's e is
    # exact arithmetic, so e_u (hence both outputs) is deterministic
    # cross-engine for any data.
    q = est.select(
        "month",
        "used",
        F.floor(F.col("e") * 10000.0 + F.lit(0.5)).cast("long").alias("e_u"),
    )
    x = orders.groupBy(month).agg(
        F.count_distinct("o_custkey").cast("long").alias("exact_distinct")
    )
    return x.join(q, "month").select(
        "month",
        "exact_distinct",
        F.col("used").alias("n_buckets_used"),
        (F.col("e_u") / F.lit(10000.0)).alias("hll_estimate"),
        dround(
            (F.col("e_u") - F.lit(10000) * F.col("exact_distinct")).cast("double")
            / (F.lit(100.0) * F.col("exact_distinct")),
            4,
        ).alias("rel_err_pct"),
    )


# --- A29: count-min sketch heavy hitters + exact twin -----------------------
# The CM sketch replaces a full per-key frequency table with d=3 rows of
# w=256 counters — constant state per partition, mergeable by addition,
# the classic heavy-hitter structure for unbounded key domains.  Both
# engines build the identical sketch (salted md5 hash32 per row), read
# back each key's three counters, and take the min; CM's one-sided
# guarantee (estimate >= true count, overshoot < N*e/w w.h.p.) is
# asserted per-row by the law tests.  Scale shape: counters are a
# 768-row aggregate (broadcast side); the probe explodes each distinct
# key to its 3 (row,bucket) probes and broadcast-joins — no wide join
# on raw events beyond the two hash aggs.  The exact per-key count is
# the verification twin at SF; heavy-hitter flag = est >= 1% of N,
# decided on exact integers (est * 100 >= N) so no float boundary.
A29_SQL = r"""
WITH probes AS (
    SELECT e.user_id, r.r,
           {h32} % 256 AS bucket
    FROM events e, (SELECT unnest([0, 1, 2]) AS r) r
),
counters AS (
    SELECT r, bucket, count(*)::BIGINT AS cnt
    FROM probes GROUP BY r, bucket
),
exact AS (
    SELECT user_id, count(*)::BIGINT AS n_exact FROM events GROUP BY user_id
),
keyprobe AS (
    SELECT x.user_id, r.r,
           {h32x} % 256 AS bucket
    FROM exact x, (SELECT unnest([0, 1, 2]) AS r) r
),
est AS (
    SELECT k.user_id, min(c.cnt)::BIGINT AS n_est
    FROM keyprobe k JOIN counters c ON k.r = c.r AND k.bucket = c.bucket
    GROUP BY k.user_id
),
tot AS (SELECT count(*)::BIGINT AS n FROM events)
SELECT x.user_id, x.n_exact, est.n_est,
       (est.n_est - x.n_exact)::BIGINT AS overestimate,
       (est.n_est * 100 >= tot.n) AS is_heavy_hitter
FROM exact x JOIN est ON x.user_id = est.user_id CROSS JOIN tot
""".format(
    h32=HASH32_SQL.format(x="'r' || r.r::VARCHAR || '|' || e.user_id::VARCHAR"),
    h32x=HASH32_SQL.format(x="'r' || r.r::VARCHAR || '|' || x.user_id::VARCHAR"),
)


@register(
    "a29_cms_heavy_hitters",
    A29_SQL,
    survey_ref="beyond reference: deterministic count-min sketch (d=3, w=256) "
    "frequency estimates + one-sided-error law vs exact counts",
)
def a29_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    rows = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("r")

    def bucket(user_col):
        return (
            hash32(
                F.concat(
                    F.lit("r"),
                    F.col("r").cast("string"),
                    F.lit("|"),
                    user_col.cast("string"),
                )
            )
            % 256
        ).alias("bucket")

    probes = events.select("user_id", rows).select(
        "user_id", "r", bucket(F.col("user_id"))
    )
    counters = probes.groupBy("r", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    exact = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    keyprobe = exact.select("user_id", rows).select(
        "user_id", "r", bucket(F.col("user_id"))
    )
    est = (
        keyprobe.join(F.broadcast(counters), ["r", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").cast("long").alias("n_est"))
    )
    tot = events.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        exact.join(est, "user_id")
        .crossJoin(F.broadcast(tot))  # 1-row broadcast side: the allowlisted
        # bounded-frame BNLJ shape, not a data-sized cartesian
        .select(
            "user_id",
            "n_exact",
            "n_est",
            (F.col("n_est") - F.col("n_exact")).cast("long").alias("overestimate"),
            (F.col("n_est") * 100 >= F.col("n")).alias("is_heavy_hitter"),
        )
    )


# --- A30: KMV bottom-k distinct sketch ----------------------------------------
# Scale shape: the distinct (month, hash) frame is one hash-distinct
# shuffle, checkpointed so the corpus is scanned+deduped once; bottom-k
# uses the sp2b local-heads discipline (per-(group, input-partition)
# heads window first), so the final per-group window only ever sees
# <= k * |partitions| rows — never a fat group partition.  The THIRD
# distinct sketch next to a28's HLL on the same task — KMV is the one
# whose state is also a uniform sample of the distinct keys.
_A30_K = 32

A30_SQL = r"""
WITH h AS (
    SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month, {h32} AS h
    FROM orders
),
r AS (
    SELECT month, h,
           row_number() OVER (PARTITION BY month ORDER BY h) AS rn,
           count(*) OVER (PARTITION BY month) AS nh
    FROM h
),
kth AS (
    SELECT month, nh::BIGINT AS n_distinct_hashes, h AS kth_hash
    FROM r WHERE rn = {k}
),
x AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           count(DISTINCT o_custkey)::BIGINT AS exact_distinct,
           count(DISTINCT {h32o})::BIGINT AS nh_all
    FROM orders GROUP BY month
),
est AS (
    SELECT x.month, x.exact_distinct,
           coalesce(k.n_distinct_hashes, x.nh_all) AS n_distinct_hashes,
           k.kth_hash,
           CASE WHEN k.kth_hash IS NOT NULL AND k.kth_hash > 0
                THEN ({k} - 1) * 4294967296.0 / k.kth_hash
                ELSE x.nh_all * 1.0 END AS e
    FROM x LEFT JOIN kth k ON x.month = k.month
)
SELECT month, exact_distinct, n_distinct_hashes, kth_hash,
       {est4} AS kmv_estimate,
       {err4} AS rel_err_pct
FROM est
""".format(
    h32=HASH32_SQL.format(x="'c' || o_custkey::VARCHAR"),
    h32o=HASH32_SQL.format(x="'c' || o_custkey::VARCHAR"),
    k=_A30_K,
    est4=dround_sql("e", 4),
    err4=dround_sql("(e - exact_distinct) * 100.0 / exact_distinct", 4),
)


@register(
    "a30_bottomk_distinct_sample",
    A30_SQL,
    survey_ref="beyond reference: KMV/bottom-k distinct sketch (k=32, shared "
    "md5 hash) vs exact twin per order month — the sample-bearing member of "
    "the distinct-sketch series (a28 HLL, a30 KMV)",
)
def a30_bottomk_distinct_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    h = hash32(F.concat(F.lit("c"), F.col("o_custkey").cast("string")))
    # the distinct (month, hash) frame feeds the local-heads ladder AND the
    # per-month count — checkpoint so the corpus is scanned+deduped once
    d = orders.select(month, h.alias("h")).distinct().localCheckpoint()
    # sp2b local-heads discipline: per-(month, source-partition) bottom-k
    # first, so the month-keyed final window sees <= k * |partitions| rows
    # (bottom-k of a union = bottom-k of per-slice bottom-k's, so the
    # result is partitioning-invariant).
    local = d.withColumn("__pid", F.spark_partition_id())
    wloc = Window.partitionBy("month", "__pid").orderBy("h")
    heads = (
        local.withColumn("__rn", F.row_number().over(wloc))
        .where(F.col("__rn") <= _A30_K)
        .drop("__pid", "__rn")
    )
    wmon = Window.partitionBy("month").orderBy("h")
    kth = (
        heads.withColumn("rn", F.row_number().over(wmon))
        .where(F.col("rn") == _A30_K)
        .select("month", F.col("h").alias("kth_hash"))
    )
    stats = d.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("nh_all")
    )
    x = orders.groupBy(month).agg(
        F.count_distinct("o_custkey").cast("long").alias("exact_distinct")
    )
    e = F.when(
        F.col("kth_hash").isNotNull() & (F.col("kth_hash") > 0),
        F.lit(float(_A30_K - 1)) * F.lit(4294967296.0) / F.col("kth_hash"),
    ).otherwise(F.col("nh_all") * F.lit(1.0))
    return (
        x.join(stats, "month")
        .join(kth, "month", "left")
        .select(
            "month",
            "exact_distinct",
            F.col("nh_all").cast("long").alias("n_distinct_hashes"),
            "kth_hash",
            dround(e, 4).alias("kmv_estimate"),
            dround(
                (e - F.col("exact_distinct"))
                * F.lit(100.0)
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err_pct"),
        )
    )
