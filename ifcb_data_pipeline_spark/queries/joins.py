"""SURVEY §2.4 join operators over the synthetic tables.

J4 (as-of) and J5 (interval) are the reference's hand-rolled joins
(ferrybox tolerance lookup, cruise intervals) re-expressed through the
``operators.joins`` combinators; the rest exercise the standard Spark join
strategies (broadcast-hash for dims, sort-merge for fact×fact, semi/anti
for incremental work queues).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import haversine_km
from ..operators.joins import (
    asof_join,
    coalescing_fill_join,
    interval_join,
)
from . import register
from ._util import (
    HASH32_SQL,
    LAT_SQL,
    LON_SQL,
    dround,
    dround_sql,
    hash32,
    lat_expr,
    lon_expr,
    tables,
)
from .dedup import variant_offset


# --- J1: the 7-way left-join enrichment chain ------------------------------
# Reference: Rmd:1094-1103 — biovolume rows enriched by sample-keyed side
# tables.  Fact lineitem enriched by orders, customer, nation, region,
# supplier, part; bounded dims broadcast, sample-scale sides AQE-chosen.
J1_SQL = """
SELECT l.l_orderkey, l.l_linenumber,
       o.o_orderstatus, o.o_orderpriority,
       c.c_mktsegment, n.n_name AS cust_nation, r.r_name AS cust_region,
       s.s_name AS supp_name, p.p_brand,
       floor(l.l_extendedprice * (1 - l.l_discount) * 100.0 + 0.5) / 100.0 AS revenue
FROM lineitem l
LEFT JOIN orders o   ON l.l_orderkey = o.o_orderkey
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
LEFT JOIN part p     ON l.l_partkey = p.p_partkey
"""


@register("j1_enrichment_chain", J1_SQL, survey_ref="SURVEY §2.4 J1; Rmd:1094-1103")
def j1_enrichment_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, orders, customer, nation, region, supplier, part = tables(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "region",
        "supplier", "part",
    )
    # Broadcast only the genuinely bounded dims (nation, region).  orders/
    # customer/supplier/part scale with the data (orders ≈ samples) — a
    # pinned hint would force an OOM attempt at 100×; AQE picks
    # broadcast-vs-shuffle from runtime sizes instead.
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "left")
        .join(customer, orders.o_custkey == customer.c_custkey, "left")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey, "left")
        .join(part, lineitem.l_partkey == part.p_partkey, "left")
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_orderstatus",
            "o_orderpriority",
            "c_mktsegment",
            F.col("n_name").alias("cust_nation"),
            F.col("r_name").alias("cust_region"),
            F.col("s_name").alias("supp_name"),
            "p_brand",
            dround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "revenue"
            ),
        )
    )


# --- J4: as-of join with ±5 min tolerance ---------------------------------
# Reference: ifcb_get_ferrybox_data(..., max_time_diff_min=5)
# (Rmd:264-297).  Left = purchase events (samples), right = view events
# (sensor readings); nearest view within ±300 s, ties broken by event_id.
# Oracle mirrors the bucketed operator with a plain range join +
# row_number — same semantics, different (non-scalable) physical plan.
J4_SQL = """
WITH l AS (
    SELECT event_id AS purchase_id, user_id, ts,
           epoch_us(ts) // 1000000 AS lsec
    FROM events WHERE event_type = 'purchase'
), r AS (
    SELECT event_id AS view_id, value AS view_value,
           epoch_us(ts) // 1000000 AS rsec
    FROM events WHERE event_type = 'view'
), m AS MATERIALIZED (
    -- MATERIALIZED: DuckDB 1.0's row-wise cursor degenerates on streamed
    -- inequality-join plans; forcing materialization keeps fetch O(rows).
    SELECT l.purchase_id, l.user_id, l.ts, r.view_id, r.view_value,
           row_number() OVER (
               PARTITION BY l.purchase_id
               ORDER BY abs(r.rsec - l.lsec), r.view_id
           ) AS rn
    FROM l JOIN r ON abs(r.rsec - l.lsec) <= 300
)
SELECT l.purchase_id, l.user_id, l.ts::TIMESTAMP AS ts, m.view_id, m.view_value
FROM l LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (purchase_id)
"""


@register("j4_asof_join", J4_SQL, survey_ref="SURVEY §2.4 J4; Rmd:264-297")
def j4_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    views = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("value").alias("view_value"),
        F.col("ts").alias("view_ts"),
    )
    out = asof_join(
        purchases,
        views,
        left_ts="ts",
        right_ts="view_ts",
        tolerance_seconds=300,
        tie_break=["view_id"],
    )
    return out.select("purchase_id", "user_id", "ts", "view_id", "view_value")


# --- J5: interval (range) join --------------------------------------------
# Reference: cruise intervals, ifcb_ingest_and_qc.R:216-221.  Cruise-like
# intervals derived deterministically: per user-bucket g = user_id % 20,
# [min(ts), min(ts) + 3 days], cruise_no = g.  Every event is matched
# against every covering interval (multi-match preserved, left-outer).
J5_SQL = """
WITH cruises AS (
    SELECT (user_id % 20)::BIGINT AS cruise_no,
           min(ts) AS startdate,
           min(ts) + INTERVAL 3 DAY AS stopdate
    FROM events GROUP BY 1
), joined AS MATERIALIZED (
    -- MATERIALIZED: see J4 note (row-wise fetch on streamed range joins).
    SELECT e.event_id, e.ts::TIMESTAMP AS ts, c.cruise_no
    FROM events e
    LEFT JOIN cruises c ON e.ts >= c.startdate AND e.ts <= c.stopdate
)
SELECT * FROM joined
"""


@register("j5_interval_join", J5_SQL, survey_ref="SURVEY §2.4 J5; ingest_and_qc.R:216-221")
def j5_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    cruises = events.groupBy((F.col("user_id") % 20).alias("cruise_no")).agg(
        F.min("ts").alias("startdate"),
        (F.min("ts") + F.expr("INTERVAL 3 DAY")).alias("stopdate"),
    )
    return interval_join(
        events.select("event_id", "ts"),
        cruises,
        point_ts="ts",
        start_col="startdate",
        stop_col="stopdate",
        how="left",
    ).select("event_id", "ts", "cruise_no")


# --- J6: coalescing fill-join ---------------------------------------------
# Reference: two-tier position fallback (Rmd:277-284).  o_totalprice is
# "missing" for orderstatus 'P' rows; fill from the customer's acctbal.
J6_SQL = """
SELECT o.o_orderkey,
       coalesce(
           CASE WHEN o.o_orderstatus = 'P' THEN NULL ELSE o.o_totalprice END,
           c.c_acctbal
       ) AS totalprice_filled,
       (o.o_orderstatus = 'P') AS was_filled
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
"""


@register("j6_coalescing_fill_join", J6_SQL, survey_ref="SURVEY §2.4 J6; Rmd:277-284")
def j6_coalescing_fill_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer = tables(spark, sf_dir, "orders", "customer")
    left = orders.select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_totalprice"))
        .alias("totalprice_filled"),
        (F.col("o_orderstatus") == "P").alias("was_filled"),
    )
    filled = coalescing_fill_join(
        left,
        customer.select(F.col("c_custkey").alias("o_custkey"), "c_acctbal"),
        on="o_custkey",
        fill_cols={"totalprice_filled": "c_acctbal"},
    )
    return filled.select("o_orderkey", "totalprice_filled", "was_filled")


# --- J7: full outer join ---------------------------------------------------
# Reference: PSD flags ⟗ positions (Rmd:758-759).
J7_SQL = """
WITH y95 AS (
    SELECT o_custkey, count(*)::BIGINT AS n95 FROM orders
    WHERE year(o_orderdate) = 1995 GROUP BY 1
), y96 AS (
    SELECT o_custkey, count(*)::BIGINT AS n96 FROM orders
    WHERE year(o_orderdate) = 1996 GROUP BY 1
)
SELECT coalesce(y95.o_custkey, y96.o_custkey) AS custkey, n95, n96
FROM y95 FULL OUTER JOIN y96 ON y95.o_custkey = y96.o_custkey
"""


@register("j7_full_outer_join", J7_SQL, survey_ref="SURVEY §2.4 J7; Rmd:758-759")
def j7_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    y95 = (
        orders.where(F.year("o_orderdate") == 1995)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n95"))
    )
    y96 = (
        orders.where(F.year("o_orderdate") == 1996)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n96"))
    )
    return (
        y95.join(y96, "o_custkey", "full_outer")
        .select(F.col("o_custkey").alias("custkey"), "n95", "n96")
    )


# --- J8: equi join + haversine distance post-filter ------------------------
# Reference: compare_microscopy.R:53-77 — same-date join, keep pairs
# within 5 km.  Here: customer×supplier in the same nation within 200 km
# of each other (pseudo-coordinates from keys).
J8_SQL = f"""
SELECT c.c_custkey, s.s_suppkey,
       floor((2 * 6371.0088 * asin(sqrt(
           pow(sin(radians({LAT_SQL.format(k='s.s_suppkey')} - {LAT_SQL.format(k='c.c_custkey')}) / 2), 2)
           + cos(radians({LAT_SQL.format(k='c.c_custkey')})) * cos(radians({LAT_SQL.format(k='s.s_suppkey')}))
           * pow(sin(radians({LON_SQL.format(k='s.s_suppkey')} - {LON_SQL.format(k='c.c_custkey')}) / 2), 2)
       ))) * 10000.0 + 0.5) / 10000.0 AS dist_km
FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey
WHERE 2 * 6371.0088 * asin(sqrt(
           pow(sin(radians({LAT_SQL.format(k='s.s_suppkey')} - {LAT_SQL.format(k='c.c_custkey')}) / 2), 2)
           + cos(radians({LAT_SQL.format(k='c.c_custkey')})) * cos(radians({LAT_SQL.format(k='s.s_suppkey')}))
           * pow(sin(radians({LON_SQL.format(k='s.s_suppkey')} - {LON_SQL.format(k='c.c_custkey')}) / 2), 2)
       )) <= 200.0
"""


@register("j8_haversine_theta_join", J8_SQL, survey_ref="SURVEY §2.4 J8; compare_microscopy.R:53-77")
def j8_haversine_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, supplier = tables(spark, sf_dir, "customer", "supplier")
    c = customer.select(
        "c_custkey",
        "c_nationkey",
        lat_expr(F.col("c_custkey")).alias("c_lat"),
        lon_expr(F.col("c_custkey")).alias("c_lon"),
    )
    s = supplier.select(
        "s_suppkey",
        "s_nationkey",
        lat_expr(F.col("s_suppkey")).alias("s_lat"),
        lon_expr(F.col("s_suppkey")).alias("s_lon"),
    )
    dist = haversine_km(F.col("c_lat"), F.col("c_lon"), F.col("s_lat"), F.col("s_lon"))
    return (
        # supplier scales with the data: no broadcast hint — AQE decides.
        c.join(s, c.c_nationkey == s.s_nationkey)
        .where(dist <= 200.0)
        .select("c_custkey", "s_suppkey", dround(dist, 4).alias("dist_km"))
    )


# --- J10: semi join --------------------------------------------------------
# Reference: keep class files whose pid ∈ sample set
# (ifcb-dashboard-metadata-pipeline.Rmd:717-722).
J10_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
"""


@register("j10_semi_join", J10_SQL, survey_ref="SURVEY §2.4 J10; dashboard-metadata.Rmd:717-722")
def j10_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer = tables(spark, sf_dir, "orders", "customer")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.join(urgent, "c_custkey", "left_semi").select(
        "c_custkey", "c_name"
    )


# --- J11: incremental anti-join (new-work detection) -----------------------
# Reference: bins without features → bins_to_process
# (ifcb_ingest_and_qc.R:172-181).  Orders with no returned ('R') lineitem
# are the "unprocessed" work queue.
J11_SQL = """
SELECT o_orderkey, o_orderdate FROM orders
WHERE NOT EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
)
"""


@register("j11_incremental_anti_join", J11_SQL, survey_ref="SURVEY §2.4 J11; ingest_and_qc.R:172-181")
def j11_incremental_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, lineitem = tables(spark, sf_dir, "orders", "lineitem")
    processed = lineitem.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return orders.join(processed, "o_orderkey", "left_anti").select(
        "o_orderkey", "o_orderdate"
    )


# --- J12: index merge with provenance (multi-match preserved) --------------
# Reference: 01_create_file_index.R:54-57 (all.x=TRUE, no dedup).
J12_SQL = """
SELECT n.n_name, c.c_custkey, c.c_mktsegment
FROM nation n LEFT JOIN customer c ON n.n_nationkey = c.c_nationkey
"""


@register("j12_provenance_merge", J12_SQL, survey_ref="SURVEY §2.4 J12; 01_create_file_index.R:54-57")
def j12_provenance_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation, customer = tables(spark, sf_dir, "nation", "customer")
    return (
        nation.join(customer, nation.n_nationkey == customer.c_nationkey, "left")
        .select("n_name", "c_custkey", "c_mktsegment")
    )


# --- J13: cross-tab full join of two class lists ---------------------------
# Reference: annotations/compare_classlists.R:18-22.
J13_SQL = """
WITH early AS (
    SELECT DISTINCT p.p_brand FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate < TIMESTAMP '1998-01-01'
), late AS (
    SELECT DISTINCT p.p_brand FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
)
SELECT coalesce(early.p_brand, late.p_brand) AS brand,
       (early.p_brand IS NOT NULL) AS in_early,
       (late.p_brand IS NOT NULL) AS in_late
FROM early FULL OUTER JOIN late ON early.p_brand = late.p_brand
"""


@register("j13_classlist_full_join", J13_SQL, survey_ref="SURVEY §2.4 J13; compare_classlists.R:18-22")
def j13_classlist_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem, part = tables(spark, sf_dir, "lineitem", "part")
    joined = lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
    early = (
        joined.where(F.col("l_shipdate") < "1998-01-01")
        .select("p_brand")
        .dropDuplicates()
        .withColumnRenamed("p_brand", "early_brand")
    )
    late = (
        joined.where(F.col("l_shipdate") >= "1998-01-01")
        .select("p_brand")
        .dropDuplicates()
        .withColumnRenamed("p_brand", "late_brand")
    )
    return (
        early.join(late, early.early_brand == late.late_brand, "full_outer")
        .select(
            F.coalesce("early_brand", "late_brand").alias("brand"),
            F.col("early_brand").isNotNull().alias("in_early"),
            F.col("late_brand").isNotNull().alias("in_late"),
        )
    )


# --- J4b: backward (last-observation) as-of join ---------------------------
# The ferrybox fallback semantics when only prior readings are valid —
# standard TSDB ASOF JOIN direction; same bucketed plan as J4.
J4B_SQL = """
WITH l AS (
    SELECT event_id AS purchase_id, ts, epoch_us(ts) // 1000000 AS lsec
    FROM events WHERE event_type = 'purchase'
), r AS (
    SELECT event_id AS view_id, epoch_us(ts) // 1000000 AS rsec
    FROM events WHERE event_type = 'view'
), m AS MATERIALIZED (
    SELECT l.purchase_id, r.view_id,
           row_number() OVER (
               PARTITION BY l.purchase_id
               ORDER BY l.lsec - r.rsec, r.view_id
           ) AS rn
    FROM l JOIN r ON r.rsec <= l.lsec AND l.lsec - r.rsec <= 300
)
SELECT l.purchase_id, l.ts::TIMESTAMP AS ts, m.view_id
FROM l LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (purchase_id)
"""


@register("j4b_asof_backward", J4B_SQL, survey_ref="SURVEY §2.4 J4 (backward direction)")
def j4b_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "ts"
    )
    views = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    out = asof_join(
        purchases,
        views,
        left_ts="ts",
        right_ts="view_ts",
        tolerance_seconds=300,
        direction="backward",
        tie_break=["view_id"],
    )
    return out.select("purchase_id", "ts", "view_id")


# --- J14: fact×fact range join via bucket explosion -------------------------
# The 100 TB form of a time-range join where BOTH sides are fact-sized, so
# neither J5's broadcast-BNLJ nor a driver loop applies.  Pattern: quantize
# time into buckets the width of the range (1 h); a probe row at time s can
# only match build rows whose bucket is floor(s) or floor(s)+1, so the probe
# side is replicated ×2 into those buckets and the join becomes a plain
# shuffled EQUI-join on (user_id, bucket) followed by the exact range
# predicate — candidate count is bounded by per-(user, hour) density, never
# |left|×|right|, and the plan contains no nested-loop join (pinned by
# tests/test_physical_plans.py::test_j14_no_nested_loop).  Each build row
# lives in exactly one bucket while the probe side is the replicated one, so
# no post-join dedup is needed.  Semantics: for every 'error' event, the
# number and value-sum of same-user events in the following hour [s, s+1h)
# — the "what happened after the alarm" containment query.
J14_SQL = """
WITH errs AS (
    SELECT event_id AS err_id, user_id, epoch_us(ts) AS us
    FROM events WHERE event_type = 'error'
),
follow AS (
    SELECT e.err_id, e.user_id,
           count(*)::BIGINT AS n_follow,
           count(*) FILTER (f.event_type = 'purchase')::BIGINT AS n_purchase,
           coalesce(sum(floor(f.value * 100.0 + 0.5)::BIGINT), 0) AS value_cents
    FROM errs e
    JOIN events f
      ON f.user_id = e.user_id
     AND epoch_us(f.ts) > e.us
     AND epoch_us(f.ts) < e.us + 3600000000
    GROUP BY e.err_id, e.user_id
)
SELECT errs.err_id, errs.user_id,
       coalesce(follow.n_follow, 0)::BIGINT AS n_follow,
       coalesce(follow.n_purchase, 0)::BIGINT AS n_purchase,
       coalesce(follow.value_cents, 0)::BIGINT AS value_cents
FROM errs LEFT JOIN follow USING (err_id, user_id)
"""

_HOUR_US = 3_600_000_000


@register("j14_bucketed_range_join", J14_SQL, survey_ref="beyond reference: fact×fact range join (bucket-explosion plan)")
def j14_bucketed_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; session tz is pinned UTC in tables(), so the
    # NTZ->TZ cast is an identity and unix_micros is the exact epoch-us.
    us = F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    errs = (
        events.where(F.col("event_type") == "error")
        .select(F.col("event_id").alias("err_id"), "user_id", us)
        # replicate the probe row into the two buckets its 1 h window spans
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    (F.col("us") / _HOUR_US).cast("long"),
                    (F.col("us") / _HOUR_US).cast("long") + 1,
                )
            ),
        )
    )
    build = events.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("fus"),
        (F.unix_micros(F.col("ts").cast("timestamp")) / _HOUR_US).cast("long").alias("bucket"),
        "event_type",
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
    )
    pairs = errs.join(build, ["user_id", "bucket"]).where(
        (F.col("fus") > F.col("us")) & (F.col("fus") < F.col("us") + _HOUR_US)
    )
    agg = pairs.groupBy("err_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_follow"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
        F.sum("cents").alias("value_cents"),
    )
    base = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id"
    )
    return base.join(agg, ["err_id", "user_id"], "left").select(
        "err_id",
        "user_id",
        F.coalesce("n_follow", F.lit(0)).cast("long").alias("n_follow"),
        F.coalesce("n_purchase", F.lit(0)).cast("long").alias("n_purchase"),
        F.coalesce("value_cents", F.lit(0)).cast("long").alias("value_cents"),
    )


# --- J8B: grid-bucketed spatial join (fact×fact scale path) ----------------
# j8 bounds its theta join with an equi-key (nation) and lets AQE size
# the supplier side; when BOTH point sets are fact-sized and share no
# equi-key, the 100 TB form is the j14 pattern in two dimensions: snap
# points to a lat/lon grid whose cell covers the search radius (0.5°
# lat ≈ 55.6 km ≥ 50 km; 1° lon ≥ 50 km up to 60°N, the domain's
# ceiling), replicate the probe side into its 3×3 cell neighborhood,
# equi-join on the cell id, then apply the exact haversine.  Candidates
# are bounded by per-cell point density — spatial-skew-governed, never
# |C|×|S| — and the plan stays a shuffled hash/sort-merge join.
J8B_SQL = f"""
WITH c AS (
    SELECT c_custkey, {LAT_SQL.format(k='c_custkey')} AS lat,
           {LON_SQL.format(k='c_custkey')} AS lon
    FROM customer
), s AS (
    SELECT s_suppkey, {LAT_SQL.format(k='s_suppkey')} AS lat,
           {LON_SQL.format(k='s_suppkey')} AS lon
    FROM supplier
), pairs AS MATERIALIZED (
    SELECT c.c_custkey, s.s_suppkey,
           2 * 6371.0088 * asin(sqrt(
               pow(sin(radians(s.lat - c.lat) / 2), 2)
               + cos(radians(c.lat)) * cos(radians(s.lat))
               * pow(sin(radians(s.lon - c.lon) / 2), 2))) AS d
    FROM c JOIN s
      ON 2 * 6371.0088 * asin(sqrt(
             pow(sin(radians(s.lat - c.lat) / 2), 2)
             + cos(radians(c.lat)) * cos(radians(s.lat))
             * pow(sin(radians(s.lon - c.lon) / 2), 2))) <= 50.0
)
SELECT c_custkey, s_suppkey,
       floor(d * 10000.0 + 0.5) / 10000.0 AS dist_km
FROM pairs
"""


@register("j8b_grid_spatial_join", J8B_SQL, survey_ref="beyond reference: grid-bucketed fact×fact spatial join (j14 pattern in 2D)")
def j8b_grid_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, supplier = tables(spark, sf_dir, "customer", "supplier")
    c = customer.select(
        "c_custkey",
        lat_expr(F.col("c_custkey")).alias("lat"),
        lon_expr(F.col("c_custkey")).alias("lon"),
    )
    s = supplier.select(
        "s_suppkey",
        lat_expr(F.col("s_suppkey")).alias("lat"),
        lon_expr(F.col("s_suppkey")).alias("lon"),
    )
    # build side: one cell per point; probe side: 3x3 neighborhood
    s_cells = s.select(
        "s_suppkey",
        F.col("lat").alias("s_lat"),
        F.col("lon").alias("s_lon"),
        F.floor(F.col("lat") * 2).cast("long").alias("clat"),
        F.floor(F.col("lon")).cast("long").alias("clon"),
    )
    d = F.explode(
        F.array(*[F.lit(i) for i in (-1, 0, 1)])
    )
    c_cells = (
        c.withColumn("dlat", d)
        .withColumn("dlon", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .select(
            "c_custkey",
            F.col("lat").alias("c_lat"),
            F.col("lon").alias("c_lon"),
            (F.floor(F.col("lat") * 2).cast("long") + F.col("dlat")).alias("clat"),
            (F.floor(F.col("lon")).cast("long") + F.col("dlon")).alias("clon"),
        )
    )
    pairs = c_cells.join(s_cells, ["clat", "clon"]).select(
        "c_custkey",
        "s_suppkey",
        haversine_km(
            F.col("c_lat"), F.col("c_lon"), F.col("s_lat"), F.col("s_lon")
        ).alias("d"),
    )
    return pairs.where(F.col("d") <= 50.0).select(
        "c_custkey", "s_suppkey", dround(F.col("d"), 4).alias("dist_km")
    )


# --- I8: corpus snapshot diff ----------------------------------------------
# The ingest-versioning primitive of an incremental refresh: given the
# previous corpus snapshot and the new crawl, classify every document
# as added / removed / changed (unchanged rows are suppressed — at
# corpus scale they are the overwhelming majority and downstream only
# consumes the delta).  The "new" snapshot is derived deterministically
# here: every 30th doc dropped, every 25th doc's text rewritten, and a
# fresh doc minted per dropped one.  Physical shape: ONE full-outer
# equi-join on doc_id comparing content hashes — id-partitioned, so at
# 100 TB both snapshots co-partition on the join key and the diff costs
# a single balanced shuffle (or zero with bucketed snapshot tables,
# plans/bucketing.py).
I8_SQL = """
WITH m AS (SELECT greatest(10000, max(doc_id) + 1) AS m FROM documents),
old AS (
    SELECT doc_id, md5(text) AS h FROM documents
),
new AS (
    SELECT doc_id, md5(CASE WHEN doc_id % 25 = 0 THEN 'rewritten: ' || text
                            ELSE text END) AS h
    FROM documents WHERE doc_id % 30 <> 0
    UNION ALL
    SELECT doc_id + 3 * m.m, md5('minted for ' || doc_id::VARCHAR)
    FROM documents, m WHERE doc_id % 30 = 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h <> n.h
"""


@register("i8_snapshot_diff", I8_SQL, survey_ref="beyond reference (SURVEY §2.10 family): incremental corpus snapshot diff")
def i8_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    old = documents.select("doc_id", F.md5("text").alias("h"))
    kept = documents.where(F.col("doc_id") % 30 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 25 == 0, F.concat(F.lit("rewritten: "), F.col("text"))
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    minted = documents.where(F.col("doc_id") % 30 == 0).select(
        (F.col("doc_id") + F.lit(3 * variant_offset(spark, sf_dir))).alias("doc_id"),
        F.md5(F.concat(F.lit("minted for "), F.col("doc_id").cast("string"))).alias(
            "h"
        ),
    )
    new = kept.unionByName(minted)
    o = old.select(F.col("doc_id").alias("o_id"), F.col("h").alias("o_h"))
    n = new.select(F.col("doc_id").alias("n_id"), F.col("h").alias("n_h"))
    joined = o.join(n, o.o_id == n.n_id, "full_outer")
    return joined.where(
        F.col("o_id").isNull() | F.col("n_id").isNull() | (F.col("o_h") != F.col("n_h"))
    ).select(
        F.coalesce("o_id", "n_id").alias("doc_id"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .otherwise("changed")
        .alias("status"),
    )


# --- I9: SCD2 change compaction --------------------------------------------
# The other half of incremental ingest (i8 diffs snapshots; i9 builds
# history): collapse each user's event stream into type-2 validity
# intervals — one row per RUN of consecutive equal states, with
# valid_from / valid_to / is_current.  This is CDC compaction: at 100 TB
# the run-length encoding is what makes a mutable-state history storable
# (unchanged readings are the overwhelming majority).  Physical shape:
# two windows and one aggregation, ALL partitioned by user_id — a single
# balanced shuffle, no global ordering anywhere.
I9_SQL = """
WITH seq AS (
    SELECT user_id, event_type, ts::TIMESTAMP AS ts, event_id,
           CASE WHEN event_type = lag(event_type) OVER w THEN 0 ELSE 1 END
               AS chg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT user_id, event_type, ts, event_id,
           sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS run_id
    FROM seq
),
spans AS (
    SELECT user_id, run_id,
           min(event_type) AS state,
           min(ts) AS valid_from,
           count(*)::BIGINT AS n_events
    FROM runs GROUP BY user_id, run_id
)
SELECT user_id, state, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       n_events,
       (lead(valid_from) OVER w2 IS NULL) AS is_current
FROM spans
WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)
"""


@register("i9_scd2_compaction", I9_SQL, survey_ref="beyond reference (SURVEY §2.10 family): CDC run-length compaction into SCD2 validity intervals")
def i9_scd2_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == F.lag("event_type").over(w), F.lit(0)
        )
        .otherwise(F.lit(1))
        .alias("chg"),
    )
    runs = seq.withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("run_id")
    return spans.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


# --- J16: interval-overlap duration aggregation -----------------------------
# Temporal-measure algebra on two FACT-sized interval sets: every error
# opens a 30-min incident window, every purchase a 30-min activity
# window; per user, total up the overlap duration between incident and
# activity windows ("how much activity happened while incidents were
# open").  Physical shape: both interval sets quantize to 1 h buckets —
# a 30-min interval touches ≤ 2 — so candidates come from a shuffled
# EQUI-join on (user, bucket) like j14, then pairs deduplicate (a pair
# can meet in both buckets) and the exact measure
# max(0, min(e1,e2) − max(s1,s2)) is pure BIGINT microsecond
# arithmetic: exact, rounding-free.  No BNLJ anywhere.
_J16_WIN_US = 1_800_000_000  # 30 min
_J16_BUCKET_US = 3_600_000_000  # 1 h

J16_SQL = f"""
WITH a AS (
    SELECT event_id AS a_id, user_id, epoch_us(ts) AS s,
           epoch_us(ts) + {_J16_WIN_US} AS e
    FROM events WHERE event_type = 'error'
),
b AS (
    SELECT event_id AS b_id, user_id, epoch_us(ts) AS s,
           epoch_us(ts) + {_J16_WIN_US} AS e
    FROM events WHERE event_type = 'purchase'
),
pairs AS (
    SELECT DISTINCT a.a_id, b.b_id, a.user_id,
           greatest(0, least(a.e, b.e) - greatest(a.s, b.s)) AS ov
    FROM a JOIN b ON a.user_id = b.user_id
     AND a.s < b.e AND b.s < a.e
)
SELECT user_id,
       count(*)::BIGINT AS n_overlapping_pairs,
       sum(ov)::BIGINT AS overlap_us
FROM pairs WHERE ov > 0
GROUP BY user_id
"""


@register("j16_interval_overlap", J16_SQL, survey_ref="beyond reference: fact×fact interval-overlap measure (bucketed temporal algebra)")
def j16_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    # session tz is UTC (queries._util.tables) so the NTZ->TZ cast is an
    # identity and unix_micros is the exact epoch-us (the j4 pattern).
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    def windows(etype: str, id_alias: str) -> DataFrame:
        return events.where(F.col("event_type") == etype).select(
            F.col("event_id").alias(id_alias),
            "user_id",
            us.alias("s"),
            (us + _J16_WIN_US).alias("e"),
        )

    a = windows("error", "a_id")
    b = windows("purchase", "b_id")
    # bucket explosion: an interval [s, s+30m) touches floor(s/1h) and
    # floor(e/1h) — replicate each side into its (≤2) buckets and join
    # on (user, bucket); a pair meeting in both buckets dedupes below.
    def bucketed(df: DataFrame) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor(F.col("s") / _J16_BUCKET_US),
                        F.floor(F.col("e") / _J16_BUCKET_US),
                    )
                )
            ).alias("bucket"),
        )

    ab = bucketed(a).alias("a")
    bb = bucketed(b).alias("b")
    ov = F.greatest(
        F.lit(0),
        F.least(F.col("a.e"), F.col("b.e")) - F.greatest(F.col("a.s"), F.col("b.s")),
    )
    pairs = (
        ab.join(
            bb,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.s") < F.col("b.e"))
            & (F.col("b.s") < F.col("a.e")),
        )
        .select(
            F.col("a.a_id").alias("a_id"),
            F.col("b.b_id").alias("b_id"),
            F.col("a.user_id").alias("user_id"),
            ov.alias("ov"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )
    return (
        pairs.where(F.col("ov") > 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlapping_pairs"),
            F.sum("ov").cast("long").alias("overlap_us"),
        )
    )


# --- I10: SCD1 merge-upsert (latest-wins + tombstones) ----------------------
# The third leg of the incremental family (i8 diffs snapshots, i9 builds
# SCD2 history): APPLY a CDC batch to a keyed snapshot — MERGE semantics
# without a transactional table format.  Base = latest state per user
# before the cutoff; change batch = events at/after it, where an 'error'
# record is a tombstone.  Latest change per key wins: tombstone deletes
# the key, anything else upserts.  Physical shape: one last-per-group
# window on each side (both partitioned by user_id) and ONE full-outer
# equi-join on user_id — two balanced key-partitioned shuffles, the same
# plan a 100 TB foreachBatch-MERGE pipeline runs per micro-batch.
I10_SQL = """
WITH base AS (
    SELECT user_id, event_type AS last_type, value, ts::TIMESTAMP AS last_ts
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-16'
    ) WHERE rn = 1
),
chg AS (
    SELECT user_id, event_type AS last_type, value, ts::TIMESTAMP AS last_ts
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts >= TIMESTAMP '2024-01-16'
    ) WHERE rn = 1
)
SELECT coalesce(c.user_id, b.user_id) AS user_id,
       coalesce(c.last_type, b.last_type) AS last_type,
       floor(coalesce(c.value, b.value) * 10000.0 + 0.5) / 10000.0 AS value,
       coalesce(c.last_ts, b.last_ts) AS last_ts,
       CASE WHEN c.user_id IS NULL THEN 'kept'
            WHEN b.user_id IS NULL THEN 'inserted'
            ELSE 'updated' END AS op
FROM base b FULL OUTER JOIN chg c ON b.user_id = c.user_id
WHERE NOT (c.user_id IS NOT NULL AND c.last_type = 'error')
"""

_I10_CUTOFF = "2024-01-16"


@register("i10_merge_upsert", I10_SQL, survey_ref="beyond reference (SURVEY §2.10 family): SCD1 latest-wins merge with tombstones (foreachBatch-MERGE shape)")
def i10_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def latest(side: DataFrame) -> DataFrame:
        return (
            side.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_type").alias("last_type"),
                "value",
                F.col("ts").alias("last_ts"),
            )
        )

    cutoff = F.lit(_I10_CUTOFF).cast("timestamp")
    base = latest(events.where(F.col("ts") < cutoff)).alias("b")
    chg = latest(events.where(F.col("ts") >= cutoff)).alias("c")
    merged = base.join(chg, F.col("b.user_id") == F.col("c.user_id"), "full_outer")
    return (
        merged.where(
            ~(F.col("c.user_id").isNotNull() & (F.col("c.last_type") == "error"))
        )
        .select(
            F.coalesce("c.user_id", "b.user_id").alias("user_id"),
            F.coalesce("c.last_type", "b.last_type").alias("last_type"),
            dround(F.coalesce("c.value", "b.value"), 4).alias("value"),
            F.coalesce("c.last_ts", "b.last_ts").alias("last_ts"),
            F.when(F.col("c.user_id").isNull(), "kept")
            .when(F.col("b.user_id").isNull(), "inserted")
            .otherwise("updated")
            .alias("op"),
        )
    )


# --- I11: late-data audit (watermark-delay sizing) --------------------------
# Before picking st3/st8's watermark delay you measure HOW late the
# stream actually is: an event is late w.r.t. delay D if its event time
# is older than (max event time among PRIOR arrivals on its key) − D.
# Arrival order is event_id (the synthetic ingest sequence); the prior
# maximum is an exclusive running max per user — one balanced
# user-partitioned window pass.  Each event then votes against each
# candidate delay (a 4-element literal explode — row growth ×4 of one
# projected column set, no extra scan), and the audit is a bounded
# |delays|-row aggregate.  All-integer output: exact across engines.
I11_SQL = """
WITH m AS (
    SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us,
           max(epoch_us(ts::TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_max
    FROM events
),
votes AS (
    SELECT d.delay_s,
           CASE WHEN m.prev_max IS NOT NULL
                     AND m.us < m.prev_max - d.delay_s::BIGINT * 1000000
                THEN 1 ELSE 0 END AS late
    FROM m CROSS JOIN (VALUES (0), (600), (1800), (3600)) d(delay_s)
)
SELECT delay_s, sum(late)::BIGINT AS n_late, count(*)::BIGINT AS n_events
FROM votes GROUP BY delay_s
"""


@register("i11_late_data_audit", I11_SQL, survey_ref="beyond reference (SURVEY §2.10 family): event-lateness audit for watermark-delay sizing")
def i11_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # session tz is UTC (queries/_util.tables), so the NTZ->TZ cast is an
    # identity and unix_micros is the exact epoch-us.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    m = events.select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.max(us).over(w).alias("prev_max"),
    )
    votes = m.select(
        "us",
        "prev_max",
        F.explode(
            F.array(F.lit(0), F.lit(600), F.lit(1800), F.lit(3600))
        ).alias("delay_s"),
    ).select(
        "delay_s",
        F.when(
            F.col("prev_max").isNotNull()
            & (F.col("us") < F.col("prev_max") - F.col("delay_s").cast("long") * 1000000),
            1,
        )
        .otherwise(0)
        .alias("late"),
    )
    return votes.groupBy("delay_s").agg(
        F.sum("late").cast("long").alias("n_late"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- J17: point-in-time (unbounded backward as-of) join ---------------------
# "What was the user's state when the order was placed?" — the temporal
# lookup every SCD consumer runs.  J4/j4b bucket on the TOLERANCE width,
# which doesn't exist here (the covering state can be arbitrarily old),
# so this uses the other classic distributed as-of strategy: UNION the
# probe rows into the event stream, sort once per user, and let a
# last-non-null window carry each state forward to the probes that
# follow it.  One user-partitioned sort-window over |events|+|probes|
# rows — no range join, no buckets, no BNLJ; at 100 TB this is a single
# balanced shuffle on the key (the sort is within-partition).  Events
# sort before probes at equal timestamps (inclusive "at or before"),
# ties among events resolve by event_id — identical in the oracle.
J17_SQL = """
WITH m AS MATERIALIZED (
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, e.event_type,
           row_number() OVER (PARTITION BY o.o_orderkey
                              ORDER BY e.ts DESC, e.event_id DESC) AS rn
    FROM orders o JOIN events e
      ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
)
SELECT o.o_orderkey, o.o_custkey,
       o.o_orderdate::TIMESTAMP AS order_ts,
       m.event_type AS state_at_order
FROM orders o LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (o_orderkey)
"""


@register("j17_point_in_time_join", J17_SQL, survey_ref="SURVEY §2.4 J4 family: unbounded backward as-of via union-merge window (the strategy tolerance-bucketing can't cover)")
def j17_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, events = tables(spark, sf_dir, "orders", "events")
    probes = orders.select(
        F.col("o_orderkey").alias("probe_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("ts"),
        F.lit(1).alias("kind"),
        F.lit(None).cast("string").alias("state"),
        F.lit(None).cast("long").alias("eid"),
    )
    states = events.select(
        F.lit(None).cast("long").alias("probe_id"),
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("event_type").alias("state"),
        F.col("event_id").alias("eid"),
    )
    merged = probes.unionByName(states)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "eid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = merged.withColumn(
        "state_at", F.last("state", ignorenulls=True).over(w)
    )
    return carried.where(F.col("kind") == 1).select(
        F.col("probe_id").alias("o_orderkey"),
        F.col("user_id").alias("o_custkey"),
        F.col("ts").alias("order_ts"),
        F.col("state_at").alias("state_at_order"),
    )


# --- I12: incremental aggregate maintenance ---------------------------------
# The rollup-refresh primitive: a materialized per-type aggregate built
# BEFORE the cutoff is brought current by merging the DELTA's partial
# aggregate — counts add, sums add, mins/maxes combine — without ever
# rescanning history.  The Spark side computes genuinely incrementally
# (two filtered scans, partial-merge on the |types|-row frames); the
# oracle aggregates the whole table in one pass — the green match IS
# the algebraic-maintenance proof.  Exact integer cents throughout.
I12_SQL = """
SELECT event_type,
       count(*)::BIGINT AS n,
       sum(floor(value * 100.0 + 0.5)::BIGINT)::BIGINT AS cents,
       min(floor(value * 100.0 + 0.5)::BIGINT)::BIGINT AS min_cents,
       max(floor(value * 100.0 + 0.5)::BIGINT)::BIGINT AS max_cents
FROM events GROUP BY event_type
"""

_I12_CUTOFF = "2024-01-20"


@register("i12_incremental_rollup", I12_SQL, survey_ref="beyond reference (SURVEY §2.10 family): algebraic aggregate maintenance — base + delta partial merge equals full recompute")
def i12_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    cutoff = F.lit(_I12_CUTOFF).cast("timestamp")

    def partial(side: DataFrame) -> DataFrame:
        return side.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).cast("long").alias("cents"),
            F.min(cents).cast("long").alias("min_cents"),
            F.max(cents).cast("long").alias("max_cents"),
        )

    # the "materialized" base (in production: read back from storage)
    base = partial(events.where(F.col("ts") < cutoff)).localCheckpoint()
    delta = partial(events.where(F.col("ts") >= cutoff))
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
            F.min("min_cents").cast("long").alias("min_cents"),
            F.max("max_cents").cast("long").alias("max_cents"),
        )
    )


# --- I13: incremental MinHash maintenance ------------------------------------
# Scale shape: shingling is a narrow flatMap; the DISTINCT (lang,
# shingle, slice) frame is one hash agg; the 32-perm explode runs on the
# DISTINCT frame (deduped first — never on raw occurrences); signatures
# are (|langs|·32)-row frames after the min agg, so every join past that
# point is on bounded sides.  The merge law (least of slice minima =
# min over the union) is what makes a 100 TB corpus's sketch refresh an
# O(delta) job instead of a recompute.
_I13_PERMS = 32

I13_SQL = r"""
WITH d AS (
    SELECT doc_id, lang, string_split(text, ' ') AS toks,
           (doc_id % 10 <> 0) AS is_base
    FROM documents
),
sh AS (
    SELECT DISTINCT lang, is_base,
           toks[i::INTEGER + 1] || ' ' || toks[i::INTEGER + 2] || ' ' ||
           toks[i::INTEGER + 3] AS shingle
    FROM d, unnest(range(len(toks) - 2)) t(i)
),
hashed AS (
    SELECT lang, is_base, p.p, {h32} AS h
    FROM sh, (SELECT unnest(range({perms})) AS p) p
),
fullsig AS (
    SELECT lang, p, min(h) AS mn FROM hashed GROUP BY lang, p
),
bsig AS (
    SELECT lang, p, min(h) AS mn FROM hashed WHERE is_base GROUP BY lang, p
),
dsig AS (
    SELECT lang, p, min(h) AS mn FROM hashed WHERE NOT is_base GROUP BY lang, p
),
msig AS (
    SELECT coalesce(b.lang, dl.lang) AS lang, coalesce(b.p, dl.p) AS p,
           least(coalesce(b.mn, dl.mn), coalesce(dl.mn, b.mn)) AS mn
    FROM bsig b FULL JOIN dsig dl ON b.lang = dl.lang AND b.p = dl.p
),
mok AS (
    SELECT f.lang, bool_and(f.mn = m.mn) AS merged_ok
    FROM fullsig f JOIN msig m ON f.lang = m.lang AND f.p = m.p
    GROUP BY f.lang
),
agree AS (
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           sum(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END)::BIGINT AS n_agree
    FROM fullsig a JOIN fullsig b ON a.p = b.p AND a.lang < b.lang
    GROUP BY a.lang, b.lang
),
ls AS (SELECT DISTINCT lang, shingle FROM sh),
sizes AS (SELECT lang, count(*)::BIGINT AS n FROM ls GROUP BY lang),
inter AS (
    SELECT a.lang AS lang_a, b.lang AS lang_b, count(*)::BIGINT AS n_inter
    FROM ls a JOIN ls b ON a.shingle = b.shingle AND a.lang < b.lang
    GROUP BY a.lang, b.lang
)
SELECT g.lang_a, g.lang_b, {perms}::BIGINT AS n_perms, g.n_agree,
       {est6} AS jaccard_est,
       i.n_inter,
       (sa.n + sb.n - i.n_inter)::BIGINT AS n_union,
       {exact6} AS jaccard_exact,
       (ma.merged_ok AND mb.merged_ok) AS merged_equals_full
FROM agree g
JOIN inter i ON g.lang_a = i.lang_a AND g.lang_b = i.lang_b
JOIN sizes sa ON g.lang_a = sa.lang
JOIN sizes sb ON g.lang_b = sb.lang
JOIN mok ma ON g.lang_a = ma.lang
JOIN mok mb ON g.lang_b = mb.lang
""".format(
    h32=HASH32_SQL.format(x="p.p::VARCHAR || '|' || shingle"),
    perms=_I13_PERMS,
    est6=dround_sql(f"g.n_agree * 1.0 / {_I13_PERMS}", 6),
    exact6=dround_sql("i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter)", 6),
)


@register(
    "i13_incremental_minhash",
    I13_SQL,
    survey_ref="beyond reference (i-family x dd-family): base+delta MinHash "
    "signature maintenance with the merged-equals-recompute proof and "
    "exact-Jaccard twins per language pair",
)
def i13_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    d = documents.select(
        "lang",
        F.split("text", " ").alias("toks"),
        (F.col("doc_id") % 10 != 0).alias("is_base"),
    ).where(F.size("toks") >= 3)
    sh = (
        d.select(
            "lang",
            "is_base",
            F.explode(F.sequence(F.lit(0), F.size("toks") - 3)).alias("i"),
            "toks",
        )
        .select(
            "lang",
            "is_base",
            F.concat_ws(
                " ",
                F.expr("element_at(toks, cast(i + 1 as int))"),
                F.expr("element_at(toks, cast(i + 2 as int))"),
                F.expr("element_at(toks, cast(i + 3 as int))"),
            ).alias("shingle"),
        )
        .distinct()
        # I3 stage materialization (the operators/dedup.py signature
        # pattern): the distinct shingle frame feeds FIVE consumers
        # (hashed, ls, sizes, inter×2) — without the checkpoint each one
        # re-scans and re-shingles the whole corpus (observed: 12 parquet
        # scans in the un-checkpointed plan; 1 after).
        .localCheckpoint()
    )
    hashed = sh.select(
        "lang",
        "is_base",
        F.explode(F.sequence(F.lit(0), F.lit(_I13_PERMS - 1))).alias("p"),
        "shingle",
    ).select(
        "lang",
        "is_base",
        "p",
        hash32(
            F.concat(F.col("p").cast("string"), F.lit("|"), F.col("shingle"))
        ).alias("h"),
    ).localCheckpoint()  # three signature aggs (full/base/delta) reuse the
    # 32x-exploded hash frame instead of re-hashing it three times
    fullsig = hashed.groupBy("lang", "p").agg(F.min("h").alias("mn"))
    bsig = (
        hashed.where("is_base").groupBy("lang", "p").agg(F.min("h").alias("mn"))
    )
    dsig = (
        hashed.where(~F.col("is_base"))
        .groupBy("lang", "p")
        .agg(F.min("h").alias("mn"))
    )
    msig = (
        bsig.withColumnsRenamed({"mn": "bmn"})
        .join(
            dsig.withColumnsRenamed({"mn": "dmn"}),
            ["lang", "p"],
            "full",
        )
        .select(
            "lang",
            "p",
            F.least(
                F.coalesce("bmn", "dmn"), F.coalesce("dmn", "bmn")
            ).alias("mn"),
        )
    )
    mok = (
        fullsig.withColumnsRenamed({"mn": "fmn"})
        .join(msig, ["lang", "p"])
        .groupBy("lang")
        .agg(F.bool_and(F.col("fmn") == F.col("mn")).alias("merged_ok"))
    )
    a = fullsig.select(
        F.col("lang").alias("lang_a"), "p", F.col("mn").alias("mna")
    )
    b = fullsig.select(
        F.col("lang").alias("lang_b"), "p", F.col("mn").alias("mnb")
    )
    agree = (
        a.join(b, "p")
        .where(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(
            F.sum(F.when(F.col("mna") == F.col("mnb"), 1).otherwise(0))
            .cast("long")
            .alias("n_agree")
        )
    )
    ls = sh.select("lang", "shingle").distinct()
    sizes = ls.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        ls.select(F.col("lang").alias("lang_a"), "shingle")
        .join(ls.select(F.col("lang").alias("lang_b"), "shingle"), "shingle")
        .where(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        agree.join(inter, ["lang_a", "lang_b"])
        .join(
            sizes.select(F.col("lang").alias("lang_a"), F.col("n").alias("na")),
            "lang_a",
        )
        .join(
            sizes.select(F.col("lang").alias("lang_b"), F.col("n").alias("nb")),
            "lang_b",
        )
        .join(
            mok.select(F.col("lang").alias("lang_a"), F.col("merged_ok").alias("oka")),
            "lang_a",
        )
        .join(
            mok.select(F.col("lang").alias("lang_b"), F.col("merged_ok").alias("okb")),
            "lang_b",
        )
        .select(
            "lang_a",
            "lang_b",
            F.lit(_I13_PERMS).cast("long").alias("n_perms"),
            "n_agree",
            dround(F.col("n_agree") * F.lit(1.0) / F.lit(_I13_PERMS), 6).alias(
                "jaccard_est"
            ),
            "n_inter",
            (F.col("na") + F.col("nb") - F.col("n_inter"))
            .cast("long")
            .alias("n_union"),
            dround(
                F.col("n_inter")
                * F.lit(1.0)
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("jaccard_exact"),
            (F.col("oka") & F.col("okb")).alias("merged_equals_full"),
        )
    )


# --- J18: Bloom-filter join pre-filter + exact twin ----------------------------
# Scale shape: the filter itself is a <= min(3*|build|, m)-row
# distinct-bit frame — broadcast to the probe side, exactly what a
# runtime filter ships; m = 2^17 bits bounds the broadcast at ANY build
# cardinality (the tx16 lesson made structural).  ONE customer scan:
# nationkey rides along through the probe explode.
_J18_M = 131072  # 2^17 bits
_J18_HASHES = 3

J18_SQL = r"""
WITH build AS (
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
),
bits AS (
    SELECT DISTINCT {hb} % {m} AS bit
    FROM build, (SELECT unnest(range({kh})) AS i) i
),
probe AS (
    SELECT c.c_custkey, c.c_nationkey, i.i,
           {hp} % {m} AS bit
    FROM customer c, (SELECT unnest(range({kh})) AS i) i
),
hits AS (
    SELECT p.c_custkey, p.c_nationkey,
           (count(b.bit) = {kh}) AS bloom_pass
    FROM probe p LEFT JOIN bits b ON p.bit = b.bit
    GROUP BY p.c_custkey, p.c_nationkey
),
truth AS (
    SELECT h.c_custkey, h.c_nationkey, h.bloom_pass,
           (h.c_custkey IN (SELECT o_custkey FROM build)) AS is_true
    FROM hits h
)
SELECT c_nationkey::BIGINT AS nationkey,
       count(*)::BIGINT AS n_customers,
       sum(CASE WHEN is_true THEN 1 ELSE 0 END)::BIGINT AS n_true,
       sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END)::BIGINT AS n_pass,
       sum(CASE WHEN bloom_pass AND NOT is_true THEN 1 ELSE 0 END)::BIGINT
           AS n_false_pos,
       bool_and(bloom_pass OR NOT is_true) AS no_false_negatives,
       {fp6} AS fp_rate
FROM truth
GROUP BY c_nationkey
""".format(
    hb=HASH32_SQL.format(x="'b' || i.i::VARCHAR || '|' || o_custkey::VARCHAR"),
    hp=HASH32_SQL.format(x="'b' || i.i::VARCHAR || '|' || c_custkey::VARCHAR"),
    m=_J18_M,
    kh=_J18_HASHES,
    fp6=dround_sql(
        "CASE WHEN count(*) = sum(CASE WHEN is_true THEN 1 ELSE 0 END) THEN 0.0"
        " ELSE sum(CASE WHEN bloom_pass AND NOT is_true THEN 1 ELSE 0 END)"
        " * 1.0 / (count(*) - sum(CASE WHEN is_true THEN 1 ELSE 0 END)) END",
        6,
    ),
)


@register(
    "j18_bloom_join_prefilter",
    J18_SQL,
    survey_ref="beyond reference: from-scratch deterministic Bloom filter "
    "(k=3, m=2^17) as a join pre-filter, with the exact semi-join twin and "
    "the structural no-false-negative column per nation",
)
def j18_bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer = tables(spark, sf_dir, "orders", "customer")
    # the build-key set feeds the bit frame AND the exact-twin probe —
    # checkpoint so orders is scanned once
    build = (
        orders.where(F.year("o_orderdate") == 1995)
        .select("o_custkey")
        .distinct()
        .localCheckpoint()
    )

    def salted_bit(key_col):
        return (
            hash32(
                F.concat(
                    F.lit("b"),
                    F.col("i").cast("string"),
                    F.lit("|"),
                    key_col.cast("string"),
                )
            )
            % _J18_M
        ).alias("bit")

    iexp = F.explode(F.sequence(F.lit(0), F.lit(_J18_HASHES - 1))).alias("i")
    # the filter itself: a <= min(3·|build|, m)-row distinct-bit frame —
    # broadcast to the probe side, exactly what a runtime filter ships
    bits = (
        build.select("o_custkey", iexp)
        .select(salted_bit(F.col("o_custkey")))
        .distinct()
    )
    # ONE customer scan: nationkey rides along through the probe explode
    probe = customer.select("c_custkey", "c_nationkey", iexp).select(
        "c_custkey", "c_nationkey", salted_bit(F.col("c_custkey"))
    )
    hits = (
        probe.join(
            F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left"
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg((F.count("hit") == _J18_HASHES).alias("bloom_pass"))
    )
    truth = hits.join(
        F.broadcast(build.withColumn("is_true0", F.lit(True))),
        hits.c_custkey == build.o_custkey,
        "left",
    ).select(
        "c_nationkey",
        "bloom_pass",
        F.coalesce("is_true0", F.lit(False)).alias("is_true"),
    )
    t1 = F.when(F.col("is_true"), 1).otherwise(0)
    p1 = F.when(F.col("bloom_pass"), 1).otherwise(0)
    fp1 = F.when(F.col("bloom_pass") & ~F.col("is_true"), 1).otherwise(0)
    return truth.groupBy(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(t1).cast("long").alias("n_true"),
        F.sum(p1).cast("long").alias("n_pass"),
        F.sum(fp1).cast("long").alias("n_false_pos"),
        F.bool_and(F.col("bloom_pass") | ~F.col("is_true")).alias(
            "no_false_negatives"
        ),
        dround(
            F.when(F.count(F.lit(1)) == F.sum(t1), F.lit(0.0)).otherwise(
                F.sum(fp1).cast("long")
                * F.lit(1.0)
                / (F.count(F.lit(1)) - F.sum(t1))
            ),
            6,
        ).alias("fp_rate"),
    )
