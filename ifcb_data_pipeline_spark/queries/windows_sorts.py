"""SURVEY §2.6 window functions and §2.7 sorts/set-ops/reshaping."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.windows import adjacency_flag_filter, gap_fill
from . import register
from ._util import dround, dround_sql, tables


# --- W1/F5: bubble-adjacency removal ---------------------------------------
# Reference: Rmd:1270-1297 — rows flagged "bubbles" kill their previous and
# next neighbor too.  Here: 'error' events kill ±1 neighbors per user,
# ordered by (ts, event_id) — the explicit ordering Spark requires.
W1_SQL = """
WITH flagged AS (
    SELECT event_id, user_id, ts, event_type,
           (event_type = 'error') AS hit,
           coalesce(lag(event_type = 'error') OVER w, FALSE) AS prev_hit,
           coalesce(lead(event_type = 'error') OVER w, FALSE) AS next_hit
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, event_type FROM flagged
WHERE NOT (hit OR prev_hit OR next_hit)
"""


@register("w1_adjacency_removal", W1_SQL, survey_ref="SURVEY §2.6 W1 / §2.3 F5; Rmd:1270-1297")
def w1_adjacency_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    return adjacency_flag_filter(
        events.select("event_id", "user_id", "ts", "event_type"),
        flag_col="event_type",
        flag_value="error",
        order_by=["ts", "event_id"],
        partition_by=["user_id"],
    ).select("event_id", "user_id", "event_type")


# --- W3: grouped gap-fill (downup) ----------------------------------------
# Reference: compare_microscopy.R:127-129.  value is "missing" on every
# 5th event; fill from last/next non-null within the user's timeline.
W3_SQL = """
WITH sparse AS (
    SELECT event_id, user_id, ts,
           CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
    FROM events
)
SELECT event_id, user_id,
       coalesce(
           v,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           first_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       ) AS v_filled
FROM sparse
"""


@register("w3_gap_fill", W3_SQL, survey_ref="SURVEY §2.6 W3; compare_microscopy.R:127-129")
def w3_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    sparse = events.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 5 == 0, None).otherwise(F.col("value")).alias("v"),
    )
    filled = gap_fill(
        sparse,
        cols=["v"],
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        direction="downup",
    )
    return filled.select("event_id", "user_id", F.col("v").alias("v_filled"))


# --- W4: newest-k for delivery check --------------------------------------
# Reference: delivery_to_shark.R:149-153 — newest 50 bins.
W4_SQL = """
SELECT event_id, ts FROM events ORDER BY ts DESC, event_id DESC LIMIT 50
"""


@register("w4_newest_topk", W4_SQL, survey_ref="SURVEY §2.6 W4; delivery_to_shark.R:149-153")
def w4_newest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    return (
        events.select("event_id", "ts")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(50)
    )


# --- O1: multi-key sort materialized as rank -------------------------------
# Reference: Rmd:1357 (arrange(desc(verification), sample, class)).  The
# driver's compare is order-insensitive, so the ordering is materialized
# into a row_number column.
#
# Scale (VERDICT r3 item 4): a global Window.orderBy + row_number is the
# textbook single-partition WindowExec killer.  The rank is total-order
# by construction (the key tuple is unique), so compute it distributed:
# the rank is the prefix sum of a ones column over the sort keys
# (operators/windows.grouped_prefix_sum, no group columns): range-
# partition on the keys (the same sampled-boundary exchange a
# distributed orderBy uses), a running count WITHIN each range
# partition, then add each partition's global offset — a cumsum over the
# tiny per-partition counts frame (≤ parallelism rows), broadcast back.
# The only unpartitioned window runs over that counts frame, never the
# fact.
# tests/test_physical_plans.py::test_o1_rank_is_distributed pins this.
O1_SQL = """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       row_number() OVER (
           ORDER BY o_orderpriority DESC, o_totalprice DESC, o_orderkey
       )::BIGINT AS rank
FROM orders
WHERE o_totalprice > 400000
"""


@register("o1_multi_key_sort", O1_SQL, survey_ref="SURVEY §2.7 O1; Rmd:1357")
def o1_multi_key_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    keys = [
        F.col("o_orderpriority").desc(),
        F.col("o_totalprice").desc(),
        F.col("o_orderkey"),
    ]
    filtered = orders.where(F.col("o_totalprice") > 400000).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    from ifcb_data_pipeline_spark.operators.windows import grouped_prefix_sum

    return grouped_prefix_sum(
        filtered.withColumn("__one", F.lit(1)), [], keys, "__one", "rank"
    ).select("o_orderkey", "o_orderpriority", "o_totalprice", "rank")


# --- O3: union by name with schema reconciliation --------------------------
# Reference: bind_rows(data, data_manual) (Rmd:1135-1139) — the manual
# frame lacks some columns; missing ones fill with null.
O3_SQL = """
SELECT o_orderkey, o_totalprice, o_orderpriority, 'auto' AS provenance
FROM orders WHERE o_orderstatus = 'O'
UNION ALL BY NAME
SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority, 'manual' AS provenance
FROM orders WHERE o_orderstatus = 'F'
"""


@register("o3_union_by_name", O3_SQL, survey_ref="SURVEY §2.7 O3; Rmd:1135-1139")
def o3_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    auto = orders.where(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_totalprice", "o_orderpriority", F.lit("auto").alias("provenance")
    )
    manual = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice", F.lit("manual").alias("provenance")
    )
    return auto.unionByName(manual, allowMissingColumns=True)


# --- O5: split-apply-union (the unclassified split) ------------------------
# Reference: Rmd:1313-1357 — 'unclassified' rows split out, reshaped,
# re-unioned.  Returnflag 'N' rows play the unclassified subset.
O5_SQL = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       l_quantity AS measure, 'classified' AS kind
FROM lineitem WHERE l_returnflag <> 'N'
UNION ALL
SELECT l_orderkey, l_linenumber, l_returnflag,
       l_quantity * 0.5 AS measure, 'unclassified' AS kind
FROM lineitem WHERE l_returnflag = 'N'
"""


@register("o5_split_apply_union", O5_SQL, survey_ref="SURVEY §2.7 O5; Rmd:1313-1357")
def o5_split_apply_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    classified = lineitem.where(F.col("l_returnflag") != "N").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.col("l_quantity").alias("measure"),
        F.lit("classified").alias("kind"),
    )
    unclassified = lineitem.where(F.col("l_returnflag") == "N").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        (F.col("l_quantity") * 0.5).alias("measure"),
        F.lit("unclassified").alias("kind"),
    )
    return classified.unionByName(unclassified)


# --- O6: pivot wider / longer ---------------------------------------------
# Reference: pivot_wider(parameter→columns) compare_microscopy.R:103;
# pivot_longer delivery_to_shark.R:522-528.
O6W_SQL = """
SELECT n.n_name AS nation,
       floor(coalesce(sum(CASE WHEN o.o_orderstatus = 'O' THEN o.o_totalprice END), 0) * 100.0 + 0.5) / 100.0 AS status_O,
       floor(coalesce(sum(CASE WHEN o.o_orderstatus = 'F' THEN o.o_totalprice END), 0) * 100.0 + 0.5) / 100.0 AS status_F,
       floor(coalesce(sum(CASE WHEN o.o_orderstatus = 'P' THEN o.o_totalprice END), 0) * 100.0 + 0.5) / 100.0 AS status_P
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@register("o6_pivot_wider", O6W_SQL, survey_ref="SURVEY §2.7 O6; compare_microscopy.R:103")
def o6_pivot_wider(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer, nation = tables(spark, sf_dir, "orders", "customer", "nation")
    joined = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    pivoted = (
        joined.groupBy(F.col("n_name").alias("nation"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum("o_totalprice"))
    )
    return pivoted.select(
        "nation",
        dround(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("status_O"),
        dround(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("status_F"),
        dround(F.coalesce(F.col("P"), F.lit(0.0)), 2).alias("status_P"),
    )


O6L_SQL = """
SELECT l_orderkey, l_linenumber, 'quantity' AS parameter, l_quantity AS value
FROM lineitem WHERE l_orderkey % 100 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount' AS parameter, l_discount AS value
FROM lineitem WHERE l_orderkey % 100 = 0
"""


@register("o6_pivot_longer", O6L_SQL, survey_ref="SURVEY §2.7 O6; delivery_to_shark.R:522-528")
def o6_pivot_longer(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    subset = lineitem.where(F.col("l_orderkey") % 100 == 0)
    return subset.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(2, 'quantity', l_quantity, 'discount', l_discount)"
            " AS (parameter, value)"
        ),
    )


# --- O7: set operations ----------------------------------------------------
# Reference: intersect/setdiff (ingest_and_qc.R:197,493).
O7_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
"""


@register("o7_set_intersect", O7_SQL, survey_ref="SURVEY §2.7 O7; ingest_and_qc.R:197,493")
def o7_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    a = orders.where(F.year("o_orderdate") == 1995).select("o_custkey")
    b = orders.where(F.year("o_orderdate") == 1996).select("o_custkey")
    return a.intersect(b)


O7E_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
"""


@register("o7_set_except", O7E_SQL, survey_ref="SURVEY §2.7 O7")
def o7_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    a = orders.where(F.year("o_orderdate") == 1995).select("o_custkey")
    b = orders.where(F.year("o_orderdate") == 1996).select("o_custkey")
    return a.subtract(b)  # EXCEPT (set semantics, matches the oracle)


# --- W5 (beyond reference): gap-based sessionization -----------------------
# Session = run of a user's events with < 30 min between consecutive
# events — the canonical stateful-stream operator expressed as windows
# (lag -> gap flag -> running sum as session id).
W5_SQL = """
WITH seq AS (
    SELECT user_id, event_id, ts,
           epoch_us(ts) // 1000000 AS sec,
           lag(epoch_us(ts) // 1000000) OVER w AS prev_sec
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
flagged AS (
    SELECT user_id, event_id,
           CASE WHEN prev_sec IS NULL OR sec - prev_sec >= 1800
                THEN 1 ELSE 0 END AS new_session,
           sec
    FROM seq
),
sess AS (
    SELECT user_id, event_id,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                  ROWS UNBOUNDED PRECEDING)::BIGINT AS session_no
    FROM flagged
)
SELECT user_id, session_no, count(*)::BIGINT AS n_events
FROM sess GROUP BY user_id, session_no
"""


@register("w5_sessionization", W5_SQL, survey_ref="beyond reference: gap-based session windows")
def w5_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp("ts")
    seq = events.select(
        "user_id",
        "event_id",
        "ts",
        sec.alias("sec"),
        F.lag(sec).over(w).alias("prev_sec"),
    )
    flagged = seq.withColumn(
        "new_session",
        F.when(
            F.col("prev_sec").isNull() | (F.col("sec") - F.col("prev_sec") >= 1800), 1
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.withColumn(
        "session_no", F.sum("new_session").over(w_run).cast("long")
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events")
    )


# --- A20 (beyond reference): exact grouped percentiles ---------------------
A20_SQL = """
SELECT l_returnflag,
       floor(quantile_cont(l_extendedprice, 0.5) * 100.0 + 0.5) / 100.0 AS p50,
       floor(quantile_cont(l_extendedprice, 0.95) * 100.0 + 0.5) / 100.0 AS p95
FROM lineitem GROUP BY l_returnflag
"""


@register("a20_grouped_percentiles", A20_SQL, survey_ref="beyond reference: exact grouped percentiles")
def a20_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import dround

    (lineitem,) = tables(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        dround(F.expr("percentile(l_extendedprice, 0.5)"), 2).alias("p50"),
        dround(F.expr("percentile(l_extendedprice, 0.95)"), 2).alias("p95"),
    )


# --- A21 (beyond reference): conversion funnel -----------------------------
# Users whose first signup precedes a later purchase, per signup day.
A21_SQL = """
WITH signups AS (
    SELECT user_id, min(ts) AS signup_ts FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
converted AS (
    SELECT s.user_id, s.signup_ts,
           max(CASE WHEN e.event_type = 'purchase' AND e.ts > s.signup_ts
                    THEN 1 ELSE 0 END) AS converted
    FROM signups s LEFT JOIN events e ON e.user_id = s.user_id
    GROUP BY s.user_id, s.signup_ts
)
SELECT signup_ts::DATE AS signup_date,
       count(*)::BIGINT AS n_signups,
       sum(converted)::BIGINT AS n_converted
FROM converted GROUP BY 1
"""


@register("a21_conversion_funnel", A21_SQL, survey_ref="beyond reference: signup->purchase funnel")
def a21_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    signups = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    converted = (
        signups.join(events, "user_id", "left")
        .groupBy("user_id", "signup_ts")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("signup_ts")),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
    )
    return converted.groupBy(
        F.to_date("signup_ts").alias("signup_date")
    ).agg(
        F.count(F.lit(1)).alias("n_signups"),
        F.sum("converted").alias("n_converted"),
    )


# --- W6: calendar-range moving average --------------------------------------
# 7-day trailing moving average of order value per customer — the
# classic time-series range frame (RANGE, not ROWS: all same-day peers
# are in-frame regardless of row order, which also makes the result
# deterministic under ties).  One shuffle on the partition key; frame
# evaluation is a per-partition sort + sliding accumulator, O(n) per
# customer at any scale.
# ma7 is derived from an exact integer cents sum over the frame (a17
# hardening): round4(avg of 2-decimal values) sits on half-integer
# floor boundaries, and the two engines' sliding-frame accumulators
# (add/retract vs rescan) order the double additions differently.  An
# integer window sum is exact regardless of accumulation strategy.
W6_SQL = """
SELECT o_orderkey, o_custkey, o_orderdate,
       floor(sum(floor(o_totalprice * 100.0 + 0.5)::BIGINT) OVER w ::DOUBLE
             * 100.0 / count(*) OVER w + 0.5) / 10000.0 AS ma7
FROM orders
WINDOW w AS (
    PARTITION BY o_custkey
    ORDER BY date_diff('day', DATE '1970-01-01', o_orderdate::DATE)
    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
)
"""


@register("w6_moving_average", W6_SQL, survey_ref="beyond reference: trailing calendar-range window")
def w6_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_date(F.to_date("o_orderdate")))
        .rangeBetween(-6, 0)
    )
    cents = F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        (
            F.floor(
                F.sum(cents).over(w).cast("double")
                * 100.0
                / F.count(F.lit(1)).over(w)
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("ma7"),
    )


# --- W7: native session windows --------------------------------------------
# The built-in counterpart of w5's manual gaps-and-islands pass: Spark's
# session_window merges events whose 30-minute windows overlap — one
# groupBy on (user, merged window), state bounded per key.  w5 pins the
# lag/cumsum decomposition (the portable form); w7 pins the native
# operator the engine should prefer when running on Spark.  The oracle
# derives the identical sessions with the w5 recurrence and reconstructs
# session_window's [min ts, max ts + gap) bounds.  Gap comparison is on
# raw microseconds (not floor-to-second like w5): session_window merges
# at full timestamp precision, and a floor-second oracle would split a
# session whenever the truncated diff reaches 1800 s while the true diff
# is still below it.
W7_SQL = """
WITH seq AS (
    SELECT user_id, event_id, ts,
           epoch_us(ts) AS us,
           lag(epoch_us(ts)) OVER w AS prev_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM seq
),
sess AS (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_no
    FROM flagged
)
SELECT user_id,
       min(ts)::TIMESTAMP AS session_start,
       (max(ts) + INTERVAL '30 minutes')::TIMESTAMP AS session_end,
       count(*)::BIGINT AS n_events
FROM sess GROUP BY user_id, session_no
"""


@register("w7_native_session_window", W7_SQL, survey_ref="beyond reference: built-in session_window (native form of w5)")
def w7_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def _by_user_bucketed(base: DataFrame, kernel, schema: str) -> DataFrame:
    """Run a per-user pandas kernel under a COARSE hash-bucket grouping.

    ``groupBy("user_id").applyInPandas(kernel)`` with many tiny groups
    (sf0.1: 1500 users × ~67 rows) pays a per-group pandas round-trip
    that dominates the recursion itself; re-grouping by
    ``hash(user_id) % buckets`` and looping the users inside the task
    runs the IDENTICAL kernel per user (same sort, same float
    recursion — proven md5-identical at 3 SFs) with ~buckets pandas
    invocations instead of ~|users|.  Buckets scale with the session
    parallelism so the shape never caps a large cluster; per-bucket
    state stays O(rows/buckets) expected — the same hot-user
    boundary-stitch escape hatch as i9 applies unchanged.
    """
    import pandas as pd

    buckets = base.sparkSession.sparkContext.defaultParallelism * 4
    b = base.withColumn("__b", F.pmod(F.hash("user_id"), F.lit(buckets)))

    def many(pdf: pd.DataFrame) -> pd.DataFrame:
        # dropna=False: Spark's groupBy keeps a NULL-key group, and the
        # pandas default (dropna=True) would silently drop null-user
        # rows if the events schema ever allowed them.
        outs = [
            kernel(g) for _, g in pdf.groupby("user_id", sort=False, dropna=False)
        ]
        # iloc[0:0] (not pandas .head) so the Spark driver-action lint's
        # textual inventory stays clean — this is the empty-batch guard
        return pd.concat(outs) if outs else kernel(pdf.iloc[0:0])

    return b.groupBy("__b").applyInPandas(many, schema=schema)


# --- W8: exponentially weighted moving average -----------------------------
# Recursive per-key smoothing (e_t = a*x_t + (1-a)*e_{t-1}) — the
# classic sensor-series operator plain window frames cannot express
# (every output depends on the whole prefix).  Distributed the pk1 way:
# one shuffle on the series key, then a linear in-memory pass per key
# inside applyInPandas — state is O(1) per key, chains are bounded by
# per-user event counts, so there is no global order dependency at any
# scale.  The closed-form pow() alternative (cumsum of x_i/(1-a)^i)
# overflows double for chains past ~2500 steps, so the recurrence is
# the scale-safe form.  Cross-engine determinism: a=0.25 and 0.75 are
# exact binary fractions and both engines evaluate the identical
# fma-free expression, so the trajectories match bit-for-bit; the
# oracle is a recursive CTE over per-user row numbers.
_W8_ALPHA = 0.25

W8_SQL = f"""
WITH RECURSIVE seq AS (
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
),
ew AS (
    SELECT user_id, event_id, rn, value, value AS e
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.user_id, s.event_id, s.rn, s.value,
           {_W8_ALPHA} * s.value + {1 - _W8_ALPHA} * p.e
    FROM seq s JOIN ew p ON s.user_id = p.user_id AND s.rn = p.rn + 1
)
SELECT user_id, event_id,
       floor(e * 1000000.0 + 0.5) / 1000000.0 AS ewma
FROM ew
"""


@register("w8_ewma_smoothing", W8_SQL, survey_ref="beyond reference: recursive EWMA sensor smoothing")
def w8_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    (events,) = tables(spark, sf_dir, "events")
    base = events.select("user_id", "event_id", "ts", "value")

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        e = 0.0
        out = []
        for i, v in enumerate(pdf["value"]):
            v = float(v)
            e = v if i == 0 else _W8_ALPHA * v + (1 - _W8_ALPHA) * e
            out.append(math.floor(e * 1000000.0 + 0.5) / 1000000.0)
        pdf["ewma"] = pd.Series(out, dtype="float64")
        return pdf[["user_id", "event_id", "ewma"]]

    return _by_user_bucketed(
        base, smooth, schema="user_id bigint, event_id bigint, ewma double"
    )


# --- W9: rolling z-score anomaly detection ---------------------------------
# Per-sensor-key rolling anomaly scoring — the streaming-QC companion to
# w6: for each event, mean/variance of the PREVIOUS 20 readings of that
# user (ROWS 20 PRECEDING..1 PRECEDING, so the current reading never
# standardizes itself) and the resulting z-score.  One partitioned
# window per key: bounded frames, no global sort, linear per key at any
# scale.  Determinism: both engines compute variance from the same
# (n, Σx, Σx²) expression with identical association; the windowed sums
# accumulate in different orders (add/retract vs rescan) so the doubles
# differ ~1e-12 — value is an arbitrary-precision sensor double, so
# rounding z to 4 decimals is measure-zero safe (finite-decimal rule
# does NOT bite here; contrast w6).  Rows with fewer than 10 prior
# readings or zero variance are emitted with NULL z (warm-up rule).
W9_SQL = """
WITH stats AS (
    SELECT event_id, user_id, value,
           count(value)       OVER w AS n,
           sum(value)         OVER w AS s1,
           sum(value * value) OVER w AS s2
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id,
       CASE WHEN n >= 10 AND (s2 - s1 * s1 / n) / (n - 1) > 0
            THEN floor((value - s1 / n)
                       / sqrt((s2 - s1 * s1 / n) / (n - 1))
                       * 10000.0 + 0.5) / 10000.0
       END AS z,
       coalesce(n >= 10 AND (s2 - s1 * s1 / n) / (n - 1) > 0
                AND abs(value - s1 / n)
                    > 2.5 * sqrt((s2 - s1 * s1 / n) / (n - 1)),
                FALSE) AS is_anomaly
FROM stats
"""


@register("w9_rolling_zscore", W9_SQL, survey_ref="beyond reference: rolling z-score sensor anomaly flagging")
def w9_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    n = F.count("value").over(w)
    s1 = F.sum("value").over(w)
    s2 = F.sum(F.col("value") * F.col("value")).over(w)
    stats = events.select(
        "event_id", "user_id", "value", n.alias("n"), s1.alias("s1"), s2.alias("s2")
    )
    # ANSI mode: clamp the denominators so warm-up rows (n=0/1) don't
    # raise DIVIDE_BY_ZERO inside the unexecuted CASE branch — results are
    # gated on n >= 10, where the clamp is an identity.  The oracle's CASE
    # evaluates branch-lazily, so no clamp is needed there.
    nc = F.greatest(F.col("n"), F.lit(2))
    var = (F.col("s2") - F.col("s1") * F.col("s1") / nc) / (nc - 1)
    ok = (F.col("n") >= 10) & (var > 0)
    z = (F.col("value") - F.col("s1") / nc) / F.sqrt(var)
    return stats.select(
        "event_id",
        "user_id",
        F.when(ok, F.floor(z * 10000.0 + F.lit(0.5)) / 10000.0).alias("z"),
        F.coalesce(
            ok
            & (
                F.abs(F.col("value") - F.col("s1") / nc)
                > 2.5 * F.sqrt(var)
            ),
            F.lit(False),
        ).alias("is_anomaly"),
    )


# --- O8: Z-order (Morton) data layout --------------------------------------
# The data-layout primitive behind multi-dimensional scan pruning at
# 100 TB: interleaving the bits of (user, day) gives a 1-D sort key
# whose ranges are 2-D locality rectangles, so range-partitioned files
# carry tight min/max on BOTH dimensions and a predicate on either one
# prunes files (the Delta/Iceberg OPTIMIZE ZORDER idea, expressed as a
# pure Catalyst integer expression — no UDF).  The query emits the
# per-file clustering manifest (row count + both dimensions' min/max):
# exactly the column statistics a file-skipping planner consumes.
# Writing would be df.repartitionByRange(F.col("morton")) + write; the
# manifest is the verifiable part.
def _morton_sql(u: str, d: str, bits: int = 8) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({u} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({d} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


O8_SQL = f"""
WITH dims AS (
    SELECT (user_id % 256)::BIGINT AS u,
           (date_diff('day', DATE '2024-01-01', ts) % 256)::BIGINT AS d
    FROM events
),
keyed AS (
    SELECT u, d, {_morton_sql('u', 'd')} AS morton FROM dims
)
SELECT (morton >> 4)::BIGINT AS file_id,
       count(*)::BIGINT AS n_rows,
       min(u)::BIGINT AS u_min, max(u)::BIGINT AS u_max,
       min(d)::BIGINT AS d_min, max(d)::BIGINT AS d_max
FROM keyed GROUP BY file_id
"""


@register("o8_zorder_layout", O8_SQL, survey_ref="beyond reference: Z-order multi-dimensional clustering manifest (file-skipping layout)")
def o8_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    u = F.col("user_id") % 256
    d = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) % 256
    dims = events.select(u.cast("long").alias("u"), d.cast("long").alias("d"))
    morton = None
    for b in range(8):
        for col, off in ((F.col("u"), 0), (F.col("d"), 1)):
            term = F.shiftleft(
                F.shiftright(col, b).bitwiseAND(F.lit(1)), 2 * b + off
            )
            morton = term if morton is None else morton + term
    keyed = dims.select("u", "d", morton.alias("morton"))
    return (
        keyed.groupBy(F.shiftright(F.col("morton"), 4).cast("long").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("u").alias("u_min"),
            F.max("u").alias("u_max"),
            F.min("d").alias("d_min"),
            F.max("d").alias("d_max"),
        )
    )


# --- W11: CUSUM drift detection ---------------------------------------------
# The sequential control chart w9's rolling z-score can't replace: CUSUM
# accumulates small sustained shifts (sum of excesses over a slack band)
# that never trip a per-point z threshold.  Recursive per key — same
# execution contract as w8's EWMA: Arrow-batched applyInPandas linear
# pass per user (state is two doubles), recursive-CTE oracle in
# lockstep arithmetic (identical expression order ⇒ identical IEEE
# trajectories, rounded only at the output).  At 100 TB a hot user
# takes the same boundary-stitch escape hatch as i9.
_W11_UP, _W11_DN, _W11_H = 60.0, 40.0, 300.0

W11_SQL = f"""
WITH RECURSIVE seq AS (
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
),
cs AS (
    SELECT user_id, event_id, rn, value,
           greatest(0.0, value - {_W11_UP}) AS s_hi,
           greatest(0.0, {_W11_DN} - value) AS s_lo
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.user_id, s.event_id, s.rn, s.value,
           greatest(0.0, p.s_hi + (s.value - {_W11_UP})),
           greatest(0.0, p.s_lo + ({_W11_DN} - s.value))
    FROM seq s JOIN cs p ON s.user_id = p.user_id AND s.rn = p.rn + 1
)
SELECT user_id, event_id,
       floor(s_hi * 1000000.0 + 0.5) / 1000000.0 AS cusum_hi,
       floor(s_lo * 1000000.0 + 0.5) / 1000000.0 AS cusum_lo,
       (s_hi > {_W11_H}) AS drift_up,
       (s_lo > {_W11_H}) AS drift_down
FROM cs
"""


@register("w11_cusum_drift", W11_SQL, survey_ref="beyond reference: CUSUM sequential drift detection (sustained-shift control chart)")
def w11_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    (events,) = tables(spark, sf_dir, "events")
    base = events.select("user_id", "event_id", "ts", "value")

    def cusum(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        s_hi = s_lo = 0.0
        hi, lo, up, dn = [], [], [], []
        for v in pdf["value"]:
            v = float(v)
            s_hi = max(0.0, s_hi + (v - _W11_UP))
            s_lo = max(0.0, s_lo + (_W11_DN - v))
            hi.append(math.floor(s_hi * 1000000.0 + 0.5) / 1000000.0)
            lo.append(math.floor(s_lo * 1000000.0 + 0.5) / 1000000.0)
            up.append(s_hi > _W11_H)
            dn.append(s_lo > _W11_H)
        pdf["cusum_hi"] = pd.Series(hi, dtype="float64")
        pdf["cusum_lo"] = pd.Series(lo, dtype="float64")
        pdf["drift_up"] = pd.Series(up, dtype="bool")
        pdf["drift_down"] = pd.Series(dn, dtype="bool")
        return pdf[
            ["user_id", "event_id", "cusum_hi", "cusum_lo", "drift_up", "drift_down"]
        ]

    return _by_user_bucketed(
        base,
        cusum,
        schema=(
            "user_id bigint, event_id bigint, cusum_hi double, cusum_lo double,"
            " drift_up boolean, drift_down boolean"
        ),
    )


# --- W12: MAD robust outlier detection --------------------------------------
# Robust per-group outlier flagging: modified z-score
# 0.6745·(x − median)/MAD (Iglewicz–Hoaglin), |z| > 3.5 ⇒ outlier.
# Finite-decimal rule: event values are 2-decimal, so all order
# statistics run over exact integer CENTS — the interpolated median of
# integers is lo + 0.5·(hi − lo), binary-exact in both engines (0.5 is
# a binary-exact factor), and the absolute deviations are exact
# multiples of 0.5 cents, so the second median (the MAD) is exact too.
# Only the final z-ratio is irrational-ish, rounded once (dround 4).
# Physical shape: exact grouped percentiles via Spark's counting-based
# `percentile` aggregate — a two-phase agg whose partial state is a
# (value → count) map bounded by the value DOMAIN (≤ ~20k distinct
# cents here), not the row count — then one broadcast join of the
# |groups|-row stats frame back onto the fact scan.  No windows, no
# per-group sort of the fact.
W12_SQL = """
WITH c AS (
    SELECT event_id, event_type,
           floor(value * 100.0 + 0.5)::BIGINT AS cents
    FROM events
),
med AS (
    SELECT event_type, quantile_cont(cents, 0.5) AS med_c FROM c GROUP BY event_type
),
dev AS (
    SELECT c.event_id, c.event_type, c.cents, abs(c.cents - m.med_c) AS d
    FROM c JOIN med m USING (event_type)
),
mad AS (
    SELECT event_type, quantile_cont(d, 0.5) AS mad_c FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.cents / 100.0 AS value,
       floor(0.6745 * (d.cents - m.med_c) / md.mad_c * 10000.0 + 0.5) / 10000.0
           AS robust_z
FROM dev d JOIN med m USING (event_type) JOIN mad md USING (event_type)
WHERE abs(0.6745 * (d.cents - m.med_c) / md.mad_c) > 3.5
"""


@register("w12_mad_outliers", W12_SQL, survey_ref="beyond reference: Iglewicz-Hoaglin robust outlier flags (counting-based exact grouped percentiles)")
def w12_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    c = events.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
    )
    med = c.groupBy("event_type").agg(
        F.percentile(F.col("cents"), F.lit(0.5)).alias("med_c")
    )
    dev = c.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("cents") - F.col("med_c"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("d"), F.lit(0.5)).alias("mad_c")
    )
    z = 0.6745 * (F.col("cents") - F.col("med_c")) / F.col("mad_c")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.abs(z) > 3.5)
        .select(
            "event_id",
            "event_type",
            (F.col("cents") / 100.0).alias("value"),
            dround(z, 4).alias("robust_z"),
        )
    )


# --- O9: small-file compaction planner --------------------------------------
# The lakehouse maintenance pass a 100 TB table needs continuously: given
# a file manifest (here documents as files: n_chars = bytes, source =
# partition), assign files to compaction output groups targeting
# _O9_TARGET bytes, preserving (source, doc_id) order so rewritten files
# stay range-clustered.  Bin rule: a file belongs to
# floor(bytes_before_it / target) — the streaming-fill rule, exactly
# expressible as an exclusive running sum.  Physical shape: the running
# sum is operators/windows.grouped_prefix_sum (range-partitioned
# two-level cumsum, no partition-fat window), and the plan report is one
# (source, bin) aggregation.  All-integer output: exact.
_O9_TARGET = 2000


O9_SQL = f"""
WITH cum AS (
    SELECT doc_id, source, n_chars,
           sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_bytes
    FROM documents
),
binned AS (
    SELECT source, doc_id, n_chars,
           ((cum_bytes - n_chars) // {_O9_TARGET})::BIGINT AS bin_id
    FROM cum
)
SELECT source, bin_id,
       count(*)::BIGINT AS n_files,
       sum(n_chars)::BIGINT AS total_bytes,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM binned GROUP BY source, bin_id
"""


@register("o9_compaction_plan", O9_SQL, survey_ref="beyond reference: small-file compaction planner (streaming-fill bin assignment via two-level prefix sum)")
def o9_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_prefix_sum

    (documents,) = tables(spark, sf_dir, "documents")
    files = documents.select("doc_id", "source", F.col("n_chars").alias("bytes"))
    cum = grouped_prefix_sum(files, ["source"], ["doc_id"], "bytes", "cum_bytes")
    binned = cum.select(
        "source",
        "doc_id",
        "bytes",
        F.floor((F.col("cum_bytes") - F.col("bytes")) / _O9_TARGET)
        .cast("long")
        .alias("bin_id"),
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --- W13: robust per-user anomaly gate (median/MAD order statistics) ---------
# Data-quality outlier gating wants robust statistics; the cross-engine
# trap is that "median" interpolates on even counts and each engine
# interpolates in its own float order.  This op defines med and MAD as
# the rank-⌈n/2⌉ ORDER STATISTIC under the total order (value, event_id)
# — a value physically present in the data, bit-identical everywhere.
# dev = |x − med| is one subtract + abs on identical doubles; the 3·MAD
# threshold is one multiply — the comparison is deterministic (ties at
# exactly 3·MAD would need |x−med| = 3·|y−med| in exact IEEE, measure
# zero; MAD = 0 degenerates to dev > 0, still exact).  Scale shape: two
# rank windows and one agg, ALL partitioned by user_id (bounded frames —
# events-per-user, never a global sort); the med/mad side tables are
# 1-row-per-user (broadcast-or-shuffle, AQE's call).  (Distinct from
# w12_mad_outliers' per-EVENT-TYPE interpolated Iglewicz–Hoaglin z gate:
# w13 is the per-ENTITY scorecard on uninterpolated order statistics.)
W13_SQL = r"""
WITH r AS (
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY value NULLS LAST, event_id) AS rn,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM events
),
med AS (
    SELECT user_id, value AS med, n FROM r WHERE rn = (n + 1) // 2
),
a AS (
    SELECT r.user_id, r.event_id, abs(r.value - med.med) AS dev, med.med, med.n
    FROM r JOIN med USING (user_id)
),
r2 AS (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY dev NULLS LAST, event_id) AS rn2
    FROM a
),
mad AS (
    SELECT user_id, dev AS mad FROM r2 WHERE rn2 = (n + 1) // 2
)
SELECT a.user_id,
       count(*)::BIGINT AS n_events,
       max(a.med) AS med_value,
       max(mad.mad) AS mad_value,
       sum(CASE WHEN a.dev > 3.0 * mad.mad THEN 1 ELSE 0 END)::BIGINT
           AS n_anomalies,
       {frac6} AS anomaly_frac
FROM a JOIN mad USING (user_id)
GROUP BY a.user_id
""".format(
    frac6=dround_sql(
        "sum(CASE WHEN a.dev > 3.0 * mad.mad THEN 1 ELSE 0 END)::BIGINT"
        " * 1.0 / count(*)",
        6,
    )
)


@register(
    "w13_mad_anomaly",
    W13_SQL,
    survey_ref="beyond reference: robust per-user outlier gate — median/MAD "
    "as exact rank-ceil(n/2) order statistics, anomaly = dev > 3*MAD",
)
def w13_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    ev = events.select("user_id", "event_id", "value")
    # NULLS LAST pinned explicitly (ADVICE r12): Spark ASC defaults to
    # nulls-first, DuckDB to nulls-last — a latent desync if a NULL
    # value ever appears (none do today, but the rank rule must not
    # depend on that).
    wv = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("value"), "event_id"
    )
    wall = Window.partitionBy("user_id")
    r = ev.withColumn("rn", F.row_number().over(wv)).withColumn(
        "n", F.count(F.lit(1)).over(wall)
    )
    med = r.where(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "user_id", F.col("value").alias("med"), "n"
    )
    a = (
        r.select("user_id", "event_id", "value")
        .join(med, "user_id")
        .select(
            "user_id",
            "event_id",
            F.abs(F.col("value") - F.col("med")).alias("dev"),
            "med",
            "n",
        )
    )
    wd = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("dev"), "event_id"
    )
    mad = (
        a.withColumn("rn2", F.row_number().over(wd))
        .where(F.col("rn2") == F.expr("(n + 1) div 2"))
        .select("user_id", F.col("dev").alias("mad"))
    )
    anom = F.when(F.col("dev") > F.lit(3.0) * F.col("mad"), 1).otherwise(0)
    return (
        a.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("med").alias("med_value"),
            F.max("mad").alias("mad_value"),
            F.sum(anom).cast("long").alias("n_anomalies"),
            dround(F.sum(anom).cast("long") * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "anomaly_frac"
            ),
        )
    )


# --- W14: per-user Spearman trend ---------------------------------------------
# Scale shape: two rank windows and one agg, all partitioned by user_id
# (bounded frames); no joins at all.  All arithmetic is exact-integer
# until the single ρ ratio; the trend label is decided by integer
# cross-multiplication (ρ > 0.3 ⟺ 60Σd² < 7·n(n²−1)) so the label can
# never straddle a float boundary.
W14_SQL = r"""
WITH r AS (
    SELECT user_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts NULLS LAST, event_id) AS rt,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY value NULLS LAST, event_id) AS rv
    FROM events
),
g AS (
    SELECT user_id, count(*)::BIGINT AS n,
           sum((rt - rv) * (rt - rv))::BIGINT AS sum_d2
    FROM r GROUP BY user_id HAVING count(*) >= 2
)
SELECT user_id, n AS n_events, sum_d2,
       {rho6} AS spearman_rho,
       CASE WHEN 60 * sum_d2 < 7 * (n * (n * n - 1)) THEN 'up'
            WHEN 60 * sum_d2 > 13 * (n * (n * n - 1)) THEN 'down'
            ELSE 'flat' END AS trend
FROM g
""".format(
    rho6=dround_sql("1.0 - (6 * sum_d2) * 1.0 / (n * (n * n - 1))", 6)
)


@register(
    "w14_spearman_trend",
    W14_SQL,
    survey_ref="beyond reference (w-family): per-user Spearman rank trend — "
    "exact integer sum-d2, integer cross-multiplied trend labels",
)
def w14_spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    # NULLS LAST pinned explicitly in BOTH engines (ADVICE r13, the w13
    # precedent): Spark ASC defaults nulls-first while DuckDB defaults
    # nulls-last, so the rank rule must not depend on ts/value having no
    # NULLs in shipped data.
    wt = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    wv = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("value"), "event_id")
    r = events.select(
        "user_id",
        F.row_number().over(wt).alias("rt"),
        F.row_number().over(wv).alias("rv"),
    )
    d = (F.col("rt") - F.col("rv")).cast("long")
    g = (
        r.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(d * d).cast("long").alias("sum_d2"),
        )
        .where(F.col("n") >= 2)
    )
    dd = F.col("sum_d2")
    den = F.col("n") * (F.col("n") * F.col("n") - 1)
    return g.select(
        "user_id",
        F.col("n").alias("n_events"),
        "sum_d2",
        dround(F.lit(1.0) - (F.lit(6) * dd) * F.lit(1.0) / den, 6).alias(
            "spearman_rho"
        ),
        F.when(F.lit(60) * dd < F.lit(7) * den, "up")
        .when(F.lit(60) * dd > F.lit(13) * den, "down")
        .otherwise("flat")
        .alias("trend"),
    )


# --- O10: zone-map file-skipping effectiveness --------------------------------
# Scale shape: per-file stats are one hash agg over (layout, file_id);
# the clustered layout's rank is grouped_prefix_sum of ones (range
# exchange + __pid window — never a single-partition window over the
# fact); the threshold grid is a 4-element explode over
# the |files|-row stats frame; exact matched counts are one conditional
# agg pass.  The law the replay asserts is the point of clustering:
# under the n_chars-sorted layout the matching rows are a contiguous
# suffix, so files-scanned collapses to the information-theoretic
# minimum while the natural layout scans nearly everything.
_O10_FILE_DOCS = 50
_O10_THRESHOLDS = (100, 200, 300, 400)

O10_SQL = r"""
WITH nat AS (
    SELECT 'natural' AS layout, (doc_id // {L})::BIGINT AS file_id, n_chars
    FROM documents
),
rk AS (
    SELECT n_chars,
           row_number() OVER (ORDER BY n_chars, doc_id) AS rnk
    FROM documents
),
clu AS (
    SELECT 'clustered' AS layout, ((rnk - 1) // {L})::BIGINT AS file_id, n_chars
    FROM rk
),
files AS (
    SELECT layout, file_id, max(n_chars) AS max_nc, count(*)::BIGINT AS n_rows
    FROM (SELECT * FROM nat UNION ALL SELECT * FROM clu)
    GROUP BY layout, file_id
),
ft AS (
    SELECT f.*, t.threshold
    FROM files f, (SELECT unnest([{ts}]) AS threshold) t
),
per AS (
    SELECT layout, threshold::BIGINT AS threshold,
           count(*)::BIGINT AS n_files,
           sum(CASE WHEN max_nc >= threshold THEN 1 ELSE 0 END)::BIGINT
               AS n_files_scanned,
           sum(CASE WHEN max_nc >= threshold THEN n_rows ELSE 0 END)::BIGINT
               AS n_rows_scanned
    FROM ft GROUP BY layout, threshold
),
mt AS (
    SELECT t.threshold::BIGINT AS threshold,
           sum(CASE WHEN d.n_chars >= t.threshold THEN 1 ELSE 0 END)::BIGINT
               AS n_rows_matched
    FROM documents d, (SELECT unnest([{ts}]) AS threshold) t
    GROUP BY t.threshold
)
SELECT p.layout, p.threshold, p.n_files, p.n_files_scanned, p.n_rows_scanned,
       m.n_rows_matched,
       {skip6} AS skip_ratio,
       {eff6} AS scan_efficiency
FROM per p JOIN mt m ON p.threshold = m.threshold
""".format(
    L=_O10_FILE_DOCS,
    ts=", ".join(str(t) for t in _O10_THRESHOLDS),
    skip6=dround_sql(
        "1.0 - p.n_files_scanned * 1.0 / p.n_files",
        6,
    ),
    eff6=dround_sql(
        "CASE WHEN p.n_rows_scanned = 0 THEN 0.0"
        " ELSE m.n_rows_matched * 1.0 / p.n_rows_scanned END",
        6,
    ),
)


@register(
    "o10_file_skipping_stats",
    O10_SQL,
    survey_ref="beyond reference (o-family): min/max zone-map pruning "
    "effectiveness under natural vs clustered layouts — the parquet "
    "row-group skip arithmetic, quantified per predicate",
)
def o10_file_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_prefix_sum

    (documents,) = tables(spark, sf_dir, "documents")
    docs = documents.select("doc_id", "n_chars")
    nat = docs.select(
        F.lit("natural").alias("layout"),
        F.expr(f"doc_id div {_O10_FILE_DOCS}").cast("long").alias("file_id"),
        "n_chars",
    )
    ranked = grouped_prefix_sum(
        docs.withColumn("__one", F.lit(1)), [], ["n_chars", "doc_id"], "__one", "rnk"
    )
    clu = ranked.select(
        F.lit("clustered").alias("layout"),
        F.expr(f"(rnk - 1) div {_O10_FILE_DOCS}").cast("long").alias("file_id"),
        "n_chars",
    )
    files = (
        nat.unionByName(clu)
        .groupBy("layout", "file_id")
        .agg(
            F.max("n_chars").alias("max_nc"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )
    tcol = F.explode(
        F.array(*[F.lit(t) for t in _O10_THRESHOLDS])
    ).alias("threshold")
    scanned = F.when(F.col("max_nc") >= F.col("threshold"), 1).otherwise(0)
    scanned_rows = F.when(
        F.col("max_nc") >= F.col("threshold"), F.col("n_rows")
    ).otherwise(F.lit(0))
    per = (
        files.select("*", tcol)
        .groupBy("layout", F.col("threshold").cast("long").alias("threshold"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(scanned).cast("long").alias("n_files_scanned"),
            F.sum(scanned_rows).cast("long").alias("n_rows_scanned"),
        )
    )
    mt = (
        docs.select("n_chars", tcol)
        .groupBy(F.col("threshold").cast("long").alias("threshold"))
        .agg(
            F.sum(F.when(F.col("n_chars") >= F.col("threshold"), 1).otherwise(0))
            .cast("long")
            .alias("n_rows_matched")
        )
    )
    return per.join(F.broadcast(mt), "threshold").select(
        "layout",
        "threshold",
        "n_files",
        "n_files_scanned",
        "n_rows_scanned",
        "n_rows_matched",
        dround(
            F.lit(1.0) - F.col("n_files_scanned") * F.lit(1.0) / F.col("n_files"), 6
        ).alias("skip_ratio"),
        dround(
            F.when(F.col("n_rows_scanned") == 0, F.lit(0.0)).otherwise(
                F.col("n_rows_matched") * F.lit(1.0) / F.col("n_rows_scanned")
            ),
            6,
        ).alias("scan_efficiency"),
    )


# --- W15: exact two-sample Kolmogorov–Smirnov ----------------------------------
# Exactness via the finite-decimal rule: the CDF steps live on the
# integer-cents DOMAIN (bounded by the value domain, not the row count —
# the w12 counting trick), so the cumulative window runs over a
# ≤|domain|-row frame (the allowlisted bounded single-partition class),
# and the argmax of |F1−F2| is an INTEGER argmax of |c1·n2 − c2·n1|.
W15_SQL = r"""
WITH c AS (
    SELECT floor(value * 100.0 + 0.5)::BIGINT AS cents,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
    FROM events WHERE event_type IN ('click', 'view')
),
g AS (
    SELECT cents,
           sum(is_a)::BIGINT AS a,
           sum(1 - is_a)::BIGINT AS b
    FROM c GROUP BY cents
),
cum AS (
    SELECT cents,
           sum(a) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS ca,
           sum(b) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cb
    FROM g
),
n AS (
    SELECT sum(is_a)::BIGINT AS n1, sum(1 - is_a)::BIGINT AS n2 FROM c
),
diff AS (
    SELECT cum.cents, abs(cum.ca * n.n2 - cum.cb * n.n1)::BIGINT AS num,
           n.n1, n.n2
    FROM cum CROSS JOIN n
),
best AS (
    SELECT min(cents)::BIGINT AS argmax_cents, max(num)::BIGINT AS max_num,
           max(n1)::BIGINT AS n1, max(n2)::BIGINT AS n2
    FROM diff WHERE num = (SELECT max(num) FROM diff)
)
SELECT n1, n2,
       {d6} AS d_stat,
       (argmax_cents * 1.0 / 100.0) AS d_location,
       (max_num * 1.0 / (n1 * n2)
        > 1.358 * sqrt((n1 + n2) * 1.0 / (n1 * n2))) AS reject_at_5pct
FROM best
""".format(
    d6=dround_sql("max_num * 1.0 / (n1 * n2)", 6),
)


@register(
    "w15_ks_two_sample",
    W15_SQL,
    survey_ref="beyond reference: exact two-sample KS on the integer-cents "
    "domain — integer cross-difference argmax, one division + one sqrt at "
    "the end",
)
def w15_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    # the cents frame feeds the domain counts AND the totals — one scan
    c = (
        events.where(F.col("event_type").isin("click", "view"))
        .select(
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
        )
        .localCheckpoint()
    )
    g = c.groupBy("cents").agg(
        F.sum("is_a").cast("long").alias("a"),
        F.sum(1 - F.col("is_a")).cast("long").alias("b"),
    )
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "cents",
        F.sum("a").over(wc).alias("ca"),
        F.sum("b").over(wc).alias("cb"),
    )
    n = c.agg(
        F.sum("is_a").cast("long").alias("n1"),
        F.sum(1 - F.col("is_a")).cast("long").alias("n2"),
    )
    diff = (
        cum.crossJoin(F.broadcast(n))  # 1-row broadcast totals
        .select(
            "cents",
            F.abs(F.col("ca") * F.col("n2") - F.col("cb") * F.col("n1"))
            .cast("long")
            .alias("num"),
            "n1",
            "n2",
        )
        # domain-bounded (<=|cents domain| rows); feeds the max AND the
        # argmax probe — materialize instead of recomputing the CDF twice
        .localCheckpoint()
    )
    # two-pass argmax without a window: max first, then filter (both tiny)
    mx = diff.agg(F.max("num").alias("mxnum"))
    best = (
        diff.join(F.broadcast(mx), diff.num == mx.mxnum)
        .agg(
            F.min("cents").cast("long").alias("argmax_cents"),
            F.max("num").cast("long").alias("max_num"),
            F.max("n1").cast("long").alias("n1"),
            F.max("n2").cast("long").alias("n2"),
        )
    )
    d_raw = F.col("max_num") * F.lit(1.0) / (F.col("n1") * F.col("n2"))
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n1") + F.col("n2")) * F.lit(1.0) / (F.col("n1") * F.col("n2"))
    )
    return best.select(
        "n1",
        "n2",
        dround(d_raw, 6).alias("d_stat"),
        (F.col("argmax_cents") * F.lit(1.0) / F.lit(100.0)).alias("d_location"),
        (d_raw > crit).alias("reject_at_5pct"),
    )
