"""Data-profiling / cleaning query family (training-pipeline operators).

dp1 is the schema-profile pass every ingest runs first (null counts,
ranges, cardinalities — one scan, all aggregates fused); dp2 is
percentile winsorization (outlier clipping) with the clip bounds
computed per group in the same job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import register
from ._util import HASH32_SQL, dround, dround_sql, tables

# --- DP1: column profile ---------------------------------------------------
DP1_SQL = """
SELECT 'l_quantity' AS column_name,
       count(*)::BIGINT AS n,
       sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       floor(min(l_quantity) * 100.0 + 0.5) / 100.0 AS min_val,
       floor(max(l_quantity) * 100.0 + 0.5) / 100.0 AS max_val,
       count(DISTINCT l_quantity)::BIGINT AS n_distinct
FROM lineitem
UNION ALL
SELECT 'l_discount', count(*)::BIGINT,
       sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)::BIGINT,
       floor(min(l_discount) * 100.0 + 0.5) / 100.0,
       floor(max(l_discount) * 100.0 + 0.5) / 100.0,
       count(DISTINCT l_discount)::BIGINT
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(*)::BIGINT,
       sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
       floor(min(l_extendedprice) * 100.0 + 0.5) / 100.0,
       floor(max(l_extendedprice) * 100.0 + 0.5) / 100.0,
       count(DISTINCT l_extendedprice)::BIGINT
FROM lineitem
"""


@register("dp1_column_profile", DP1_SQL, survey_ref="north-star: ingest data-profiling pass")
def dp1_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three column profiles in ONE scan: a single wide ``agg`` (the
    distinct counts share one Expand pass), then ``stack`` unpivots the
    18 scalars into the 3-row profile shape.  Never one scan per column."""
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_discount", "l_extendedprice"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.sum(F.col(c).isNull().cast("int")).cast("long").alias(f"__null_{c}"),
            dround(F.min(c), 2).alias(f"__min_{c}"),
            dround(F.max(c), 2).alias(f"__max_{c}"),
            F.countDistinct(c).alias(f"__dist_{c}"),
        ]
    wide = lineitem.agg(*aggs)
    stack_fields = ", ".join(
        f"'{c}', __n_{c}, __null_{c}, __min_{c}, __max_{c}, __dist_{c}" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_fields})"
            " AS (column_name, n, n_null, min_val, max_val, n_distinct)"
        )
    )


# --- DP2: percentile winsorization -----------------------------------------
# winsorized_mean hardening (the a17 rule): prices are 2-decimal and the
# interpolated percentile bounds sit at index 0.01*(n-1), so every
# clipped value times 1e4 is within fp noise of an exact integer —
# snap per-row to exact 1e-4 units, sum as order-insensitive BIGINT,
# and derive the rounded mean once from the exact total.
DP2_SQL = """
WITH bounds AS (
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.01) AS lo,
           quantile_cont(l_extendedprice, 0.99) AS hi
    FROM lineitem GROUP BY l_returnflag
),
clipped AS (
    SELECT l.l_returnflag,
           floor(greatest(b.lo, least(b.hi, l.l_extendedprice)) * 10000.0 + 0.5)::BIGINT AS v_e4,
           (l.l_extendedprice < b.lo OR l.l_extendedprice > b.hi) AS was_clipped
    FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
)
SELECT l_returnflag,
       floor(sum(v_e4)::DOUBLE / (100.0 * count(*)) + 0.5) / 100.0 AS winsorized_mean,
       sum(was_clipped::INT)::BIGINT AS n_clipped,
       count(*)::BIGINT AS n
FROM clipped GROUP BY l_returnflag
"""


@register("dp2_winsorize", DP2_SQL, survey_ref="north-star: percentile outlier clipping")
def dp2_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    bounds = lineitem.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("hi"),
    )
    clipped = lineitem.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        F.floor(
            F.greatest("lo", F.least("hi", F.col("l_extendedprice"))) * 10000.0
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v_e4"),
        (
            (F.col("l_extendedprice") < F.col("lo"))
            | (F.col("l_extendedprice") > F.col("hi"))
        ).alias("was_clipped"),
    )
    return clipped.groupBy("l_returnflag").agg(
        (
            F.floor(
                F.sum("v_e4").cast("double") / (100.0 * F.count(F.lit(1)))
                + F.lit(0.5)
            )
            / 100.0
        ).alias("winsorized_mean"),
        F.sum(F.col("was_clipped").cast("int")).cast("long").alias("n_clipped"),
        F.count(F.lit(1)).alias("n"),
    )


# --- DP3: categorical profile (null rate / cardinality / mode) --------------
# The string-column twin of dp1 for training-data ingest QC: one fused
# unpivot scan -> per-(column, value) counts -> per-column distinct
# count, mode (smallest value among tied maxima — deterministic) and
# its frequency.  ONE scan + one shuffle for any number of columns.
DP3_SQL = """
WITH unpivoted AS (
    SELECT col, val FROM (
        SELECT o_orderstatus AS s, o_orderpriority AS p FROM orders
    ) t
    CROSS JOIN (SELECT unnest(['o_orderstatus', 'o_orderpriority']) AS col) c
    CROSS JOIN LATERAL (
        SELECT CASE col WHEN 'o_orderstatus' THEN t.s ELSE t.p END AS val
    ) v
),
counts AS (
    SELECT col, val, count(*)::BIGINT AS c
    FROM unpivoted WHERE val IS NOT NULL GROUP BY col, val
),
totals AS (
    SELECT col,
           count(*)::BIGINT AS n,
           sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null
    FROM unpivoted GROUP BY col
),
modes AS (
    SELECT col, min(val) AS top_value, max_c AS top_freq FROM (
        SELECT col, val, c, max(c) OVER (PARTITION BY col) AS max_c
        FROM counts
    ) WHERE c = max_c GROUP BY col, max_c
)
SELECT t.col AS column_name, t.n, t.n_null,
       floor((t.n_null::DOUBLE / t.n) * 1000000.0 + 0.5) / 1000000.0 AS null_frac,
       (SELECT count(*) FROM counts c WHERE c.col = t.col)::BIGINT AS n_distinct,
       m.top_value, m.top_freq
FROM totals t JOIN modes m ON t.col = m.col
"""


@register("dp3_categorical_profile", DP3_SQL, survey_ref="north-star: categorical ingest profiling")
def dp3_categorical_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = tables(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_orderpriority"]
    stack_expr = ", ".join(f"'{c}', {c}" for c in cols)
    unpivoted = orders.select(
        F.expr(f"stack({len(cols)}, {stack_expr}) AS (col, val)")
    )
    counts = (
        unpivoted.where(F.col("val").isNotNull())
        .groupBy("col", "val")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = unpivoted.groupBy("col").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("val").isNull().cast("int")).cast("long").alias("n_null"),
    )
    w = Window.partitionBy("col")
    modes = (
        counts.withColumn("max_c", F.max("c").over(w))
        .where(F.col("c") == F.col("max_c"))
        .groupBy("col", "max_c")
        .agg(F.min("val").alias("top_value"))
        .select("col", "top_value", F.col("max_c").alias("top_freq"))
    )
    dist = counts.groupBy("col").agg(F.count(F.lit(1)).alias("n_distinct"))
    return (
        totals.join(modes, "col")
        .join(dist, "col")
        .select(
            F.col("col").alias("column_name"),
            "n",
            "n_null",
            dround(F.col("n_null").cast("double") / F.col("n"), 6).alias("null_frac"),
            "n_distinct",
            "top_value",
            "top_freq",
        )
    )


# --- DP4: domain-mixture weights -------------------------------------------
# The sampling-ratio computation behind training-mixture design: per
# source, token mass and actual corpus share, a uniform target share,
# and the resulting sample weight (target/actual, upsampling capped at
# 4x — the standard guard against tiny domains dominating by repeat).
# Two tiny aggregates over one corpus scan; the per-source table is
# bounded by |sources|, never by corpus size.
DP4_SQL = """
WITH per_src AS (
    SELECT source, count(*)::BIGINT AS n_docs,
           sum(len(string_split_regex(trim(text), '\\s+')))::BIGINT AS n_tokens
    FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens)::DOUBLE AS total, count(*)::DOUBLE AS n_src FROM per_src)
SELECT source, n_docs, n_tokens,
       floor((n_tokens / total) * 1000000.0 + 0.5) / 1000000.0 AS actual_share,
       floor((1.0 / n_src) * 1000000.0 + 0.5) / 1000000.0 AS target_share,
       floor(least((total / n_src) / n_tokens, 4.0) * 1000000.0 + 0.5) / 1000000.0
           AS sample_weight
FROM per_src CROSS JOIN tot
"""


@register("dp4_domain_mixture", DP4_SQL, survey_ref="north-star: domain-mixture sampling weights")
def dp4_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_count_ws

    (documents,) = tables(spark, sf_dir, "documents")
    per_src = documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws(F.col("text")).cast("long")).alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("n_src"),
    )
    j = per_src.crossJoin(F.broadcast(tot))
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        dround(F.col("n_tokens") / F.col("total"), 6).alias("actual_share"),
        dround(F.lit(1.0) / F.col("n_src"), 6).alias("target_share"),
        dround(
            F.least(
                (F.col("total") / F.col("n_src")) / F.col("n_tokens"), F.lit(4.0)
            ),
            6,
        ).alias("sample_weight"),
    )


# --- SP4: materialize the mixture ------------------------------------------
# Applies dp4's sampling weights to actually build the resampled corpus:
# every doc appears floor(w) times, plus one more copy gated on a
# deterministic per-doc hash against the fractional part — so the
# realized corpus hits the target mixture in expectation with zero
# randomness.  Scale shape: the weight table is bounded by |sources| and
# broadcast; the repeat is a per-row `explode(sequence(...))` with
# fan-out ≤ ceil(w) ≤ 4 — no shuffle at all beyond dp4's two tiny
# aggregates over the corpus scan.
SP4_SQL = f"""
WITH per_src AS (
    SELECT source, sum(len(string_split_regex(trim(text), '\\s+')))::BIGINT AS n_tokens
    FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens)::DOUBLE AS total, count(*)::DOUBLE AS n_src FROM per_src),
wt AS (
    SELECT source, least((total / n_src) / n_tokens, 4.0) AS w
    FROM per_src CROSS JOIN tot
),
expanded AS (
    SELECT d.doc_id, d.source, u.copy_idx::INT AS copy_idx, wt.w
    FROM documents d
    JOIN wt USING (source),
    unnest(range(1, ceil(wt.w)::BIGINT + 1)) AS u(copy_idx)
)
SELECT doc_id, source, copy_idx
FROM expanded
WHERE copy_idx <= floor(w)
   OR (copy_idx = ceil(w) AND
       {HASH32_SQL.format(x="doc_id::VARCHAR")} % 1000000
           < floor((w - floor(w)) * 1000000.0 + 0.5))
"""


@register("sp4_mixture_materialize", SP4_SQL, survey_ref="north-star: deterministic mixture resampling (dp4 weights applied)")
def sp4_mixture_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_count_ws
    from ._util import hash32

    (documents,) = tables(spark, sf_dir, "documents")
    per_src = documents.groupBy("source").agg(
        F.sum(token_count_ws(F.col("text")).cast("long")).alias("n_tokens")
    )
    tot = per_src.agg(
        F.sum("n_tokens").cast("double").alias("total"),
        F.count(F.lit(1)).cast("double").alias("n_src"),
    )
    wt = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            (F.col("total") / F.col("n_src")) / F.col("n_tokens"), F.lit(4.0)
        ).alias("w"),
    )
    frac_gate = hash32(F.col("doc_id").cast("string")) % 1000000 < F.floor(
        (F.col("w") - F.floor("w")) * 1000000.0 + 0.5
    )
    return (
        documents.join(F.broadcast(wt), "source")
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(F.lit(1), F.ceil("w").cast("int"))
            ).alias("copy_idx"),
            "w",
        )
        .where(
            (F.col("copy_idx") <= F.floor("w"))
            | ((F.col("copy_idx") == F.ceil("w")) & frac_gate)
        )
        .select("doc_id", "source", "copy_idx")
    )


# --- DP5: pairwise correlation matrix (single scan) ------------------------
# The feature-correlation pass of a data card: Pearson r for every pair
# of numeric columns, all six pairs fused into ONE wide aggregate over
# ONE scan (the dp1 rule) and unpivoted to tidy (col_a, col_b, r) rows.
# At 100 TB this is a pure map-side pass + one 1-row reduce — a
# correlation matrix never justifies per-pair jobs.
_DP5_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_DP5_PAIRS = [
    (a, b) for i, a in enumerate(_DP5_COLS) for b in _DP5_COLS[i + 1 :]
]

DP5_SQL = "\nUNION ALL\n".join(
    f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
    f" floor(corr({a}, {b}) * 1000000.0 + 0.5) / 1000000.0 AS r"
    " FROM lineitem"
    for a, b in _DP5_PAIRS
)


@register("dp5_correlation_matrix", DP5_SQL, survey_ref="north-star: feature-correlation profile (single scan)")
def dp5_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    wide = lineitem.agg(
        *[
            dround(F.corr(a, b), 6).alias(f"__r_{i}")
            for i, (a, b) in enumerate(_DP5_PAIRS)
        ]
    )
    stack = ", ".join(
        f"'{a}', '{b}', __r_{i}" for i, (a, b) in enumerate(_DP5_PAIRS)
    )
    return wide.selectExpr(
        f"stack({len(_DP5_PAIRS)}, {stack}) AS (col_a, col_b, r)"
    )


# --- SP5: temperature-scaled domain resampling ------------------------------
# The temperature-mixing schedule of multilingual / multi-domain
# pretraining: rare domains are upweighted by share^(1/tau - 1) (tau=2
# here, i.e. inverse-sqrt of the domain share), so the realized mixture
# follows share^(1/tau) — flatter than natural, without sp4's hard
# uniform target.  The replication factor is deliberately UNnormalized
# (w = c/sqrt(share), capped at 4): normalizing would divide by a
# sum of doubles whose value depends on reduction order, while this
# form touches only exact BIGINT counts, one division, and sqrt —
# every step bit-identical across engines.  Scale shape identical to
# sp4: |domains|-sized weight table broadcast, per-row bounded explode,
# no corpus shuffle beyond one tiny count aggregate.
SP5_SQL = f"""
WITH per_src AS (
    SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT sum(n_docs)::DOUBLE AS total FROM per_src),
wt AS (
    SELECT source, least(0.5 / sqrt(n_docs / total), 4.0) AS w
    FROM per_src CROSS JOIN tot
),
expanded AS (
    SELECT d.doc_id, d.source, u.copy_idx::INT AS copy_idx, wt.w
    FROM documents d
    JOIN wt USING (source),
    unnest(range(1, ceil(wt.w)::BIGINT + 1)) AS u(copy_idx)
)
SELECT doc_id, source, copy_idx,
       floor(w * 1000000.0 + 0.5) / 1000000.0 AS w
FROM expanded
WHERE copy_idx <= floor(w)
   OR (copy_idx = ceil(w) AND
       {HASH32_SQL.format(x="doc_id::VARCHAR")} % 1000000
           < floor((w - floor(w)) * 1000000.0 + 0.5))
"""


@register("sp5_temperature_resampling", SP5_SQL, survey_ref="north-star: temperature-scaled domain mixing (tau=2)")
def sp5_temperature_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import hash32

    (documents,) = tables(spark, sf_dir, "documents")
    per_src = documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = per_src.agg(F.sum("n_docs").cast("double").alias("total"))
    wt = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            0.5 / F.sqrt(F.col("n_docs") / F.col("total")), F.lit(4.0)
        ).alias("w"),
    )
    frac_gate = hash32(F.col("doc_id").cast("string")) % 1000000 < F.floor(
        (F.col("w") - F.floor("w")) * 1000000.0 + 0.5
    )
    return (
        documents.join(F.broadcast(wt), "source")
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(F.lit(1), F.ceil("w").cast("int"))
            ).alias("copy_idx"),
            "w",
        )
        .where(
            (F.col("copy_idx") <= F.floor("w"))
            | ((F.col("copy_idx") == F.ceil("w")) & frac_gate)
        )
        .select("doc_id", "source", "copy_idx", dround(F.col("w"), 6).alias("w"))
    )


# --- DP6: two-period drift profile -----------------------------------------
# Dataset-drift detection between two ingest periods (first vs second
# half of the month): per event_type, row counts, distinct users, and
# mean value of each period plus the deltas — the refresh-gate check a
# training pipeline runs before accepting a new crawl snapshot.  Both
# periods come out of ONE scan: each metric is a conditional aggregate
# over the period flag (no self-join, no second pass; same single-scan
# discipline as dp1, pinned by test_dp6_drift_single_scan).  Means are
# derived from exact integer cents sums (finite-decimal rule: value is
# 2-decimal, and a round4(mean) of those sits on floor boundaries), so
# the result is independent of per-engine accumulation order.
DP6_SQL = """
WITH flagged AS (
    SELECT event_type, user_id,
           (ts < TIMESTAMP '2024-01-16 00:00:00') AS p1,
           floor(value * 100.0 + 0.5)::BIGINT AS cents
    FROM events
)
SELECT event_type,
       count(*) FILTER (p1)::BIGINT       AS n_a,
       count(*) FILTER (NOT p1)::BIGINT   AS n_b,
       count(DISTINCT user_id) FILTER (p1)::BIGINT     AS users_a,
       count(DISTINCT user_id) FILTER (NOT p1)::BIGINT AS users_b,
       floor(sum(cents) FILTER (p1)::DOUBLE
             / count(*) FILTER (p1) * 100.0 + 0.5) / 10000.0 AS mean_a,
       floor(sum(cents) FILTER (NOT p1)::DOUBLE
             / count(*) FILTER (NOT p1) * 100.0 + 0.5) / 10000.0 AS mean_b,
       (count(*) FILTER (NOT p1) - count(*) FILTER (p1))::BIGINT AS n_drift
FROM flagged GROUP BY event_type
"""


@register("dp6_drift_profile", DP6_SQL, survey_ref="beyond reference: two-period ingest drift profile")
def dp6_drift_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    p1 = F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    flagged = events.select("event_type", "user_id", p1.alias("p1"), cents.alias("cents"))

    def cnt(cond):
        return F.count(F.when(cond, 1))

    def mean_c(cond):
        return (
            F.floor(
                F.sum(F.when(cond, F.col("cents"))).cast("double")
                / cnt(cond)
                * 100.0
                + F.lit(0.5)
            )
            / 10000.0
        )

    a, b = F.col("p1"), ~F.col("p1")
    return flagged.groupBy("event_type").agg(
        cnt(a).alias("n_a"),
        cnt(b).alias("n_b"),
        F.countDistinct(F.when(a, F.col("user_id"))).alias("users_a"),
        F.countDistinct(F.when(b, F.col("user_id"))).alias("users_b"),
        mean_c(a).alias("mean_a"),
        mean_c(b).alias("mean_b"),
        (cnt(b) - cnt(a)).cast("long").alias("n_drift"),
    )


# --- DP7: binned quantile estimation ---------------------------------------
# Percentiles the way they are actually computed at 100 TB: not by a
# global sort (a20's exact path — fine per-group, wrong for a corpus
# scan) but from a fixed-width histogram built map-side in one pass.
# value ∈ [0, 500) is binned into 1000 half-unit bins; the p50/p95/p99
# estimate is the LOWER EDGE of the first bin whose cumulative count
# reaches ceil(p·n) — a deterministic integer rule, so both engines
# agree exactly with no float comparisons anywhere.  Per event_type the
# histogram is |bins|-bounded regardless of row count: the shuffle
# carries ≤ types×1000 rows, and the cumulative scan runs inside each
# type's ≤1000-row partition.
DP7_SQL = """
WITH binned AS (
    SELECT event_type,
           least(floor(value / 0.5)::BIGINT, 999) AS bin,
           count(*)::BIGINT AS n
    FROM events GROUP BY event_type, bin
),
cum AS (
    SELECT event_type, bin, n,
           sum(n) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cn,
           sum(n) OVER (PARTITION BY event_type) AS total
    FROM binned
),
hits AS (
    SELECT event_type, p.p,
           min(CASE WHEN cn >= ceil(p.p * total) THEN bin END) AS qbin
    FROM cum CROSS JOIN (SELECT unnest([0.50, 0.95, 0.99]::DOUBLE[]) AS p) p
    GROUP BY event_type, p.p
)
SELECT event_type, p AS quantile, (qbin * 0.5)::DOUBLE AS est_value
FROM hits
"""


@register("dp7_binned_quantiles", DP7_SQL, survey_ref="beyond reference: one-pass histogram quantiles (corpus-scan scale path)")
def dp7_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    binned = (
        events.select(
            "event_type",
            F.least(F.floor(F.col("value") / 0.5).cast("long"), F.lit(999)).alias(
                "bin"
            ),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("event_type")
    cum = binned.select(
        "event_type",
        "bin",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("n").over(wtot).alias("total"),
    )
    ps = F.explode(F.array(F.lit(0.50), F.lit(0.95), F.lit(0.99))).alias("p")
    return (
        cum.select("event_type", "bin", "cn", "total", ps)
        .groupBy("event_type", "p")
        .agg(
            F.min(
                F.when(F.col("cn") >= F.ceil(F.col("p") * F.col("total")), F.col("bin"))
            ).alias("qbin")
        )
        .select(
            "event_type",
            F.col("p").alias("quantile"),
            (F.col("qbin") * 0.5).alias("est_value"),
        )
    )


# --- DP8: exact global quantiles (distributed rank) -------------------------
# dp7's histogram quantiles are the one-pass approximate path; dp8 is its
# exact twin, and the reason it can exist at 100 TB is the o1 machinery:
# a range-partition exchange gives a total order, global position =
# within-partition row_number + broadcast offset cumsum, and the three
# interpolation targets are picked out by a broadcast equi-join on the
# global rank — the fact table is never windowed on a single partition
# and never collected.  Interpolation stays bit-identical across engines
# because the probe points are quarter-exact: cents are exact integers,
# (n-1)*p is an exact double for p ∈ {.25,.5,.75}, so lo + frac*(hi-lo)
# has no rounding at all (finite-decimal rule, queries.__init__).
DP8_SQL = """
WITH c AS (
    SELECT floor(l_extendedprice * 100.0 + 0.5)::BIGINT AS cents FROM lineitem
),
nn AS (SELECT count(*)::BIGINT AS n FROM c),
s AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c),
t AS (
    SELECT p,
           (n - 1) * p AS rf,
           floor((n - 1) * p)::BIGINT + 1 AS lo_idx,
           least(floor((n - 1) * p)::BIGINT + 2, n) AS hi_idx
    FROM (SELECT unnest([0.25, 0.5, 0.75]::DOUBLE[]) AS p) q CROSS JOIN nn
)
SELECT t.p AS quantile,
       (lo.cents + (t.rf - floor(t.rf)) * (hi.cents - lo.cents)) / 100.0
           AS q_value
FROM t
JOIN s lo ON lo.rn = t.lo_idx
JOIN s hi ON hi.rn = t.hi_idx
"""


@register("dp8_exact_quantiles", DP8_SQL, survey_ref="beyond reference: exact global quantiles via distributed rank (dp7's exact twin)")
def dp8_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_prefix_sum

    (lineitem,) = tables(spark, sf_dir, "lineitem")
    cents = lineitem.select(
        F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    )
    # Histogram-first (r18, guide §2.3 "aggregate before you shuffle"):
    # an order statistic only needs to know WHERE in the total order each
    # distinct value's run of equal rows sits, so collapse the fact frame
    # to (cents, cnt) with a hash aggregation (map-side partial combine)
    # BEFORE any ordering machinery.  The range exchange + prefix sum
    # then operate on |distinct cents| rows — bounded by the VALUE DOMAIN
    # (part price × quantity), not the row count — and nothing
    # fact-sized is ever localCheckpoint-ed.  A probe at global rank k selects the distinct
    # value whose cumulative count first reaches k (cum − cnt < k ≤ cum),
    # which is exactly the row rank-k machinery would have selected:
    # equal cents are interchangeable under any tie order, so the result
    # is identical to the oracle's row_number() form.
    # The checkpoint is load-bearing even though only grouped_prefix_sum
    # consumes hist: repartitionByRange SAMPLES its input to pick range
    # boundaries, so an unmaterialized hist would execute the scan + hash
    # aggregation twice (once for the sample pass, once for the real
    # exchange) — A/B-measured 4.3 s vs 2.2 s at sf0.1.
    hist = (
        cents.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    cum = grouped_prefix_sum(hist, [], ["cents"], "cnt", out_col="cum")
    # total from the checkpointed histogram — one fact scan serves both
    # the total and the prefix-sum branches.
    total = hist.agg(F.sum("cnt").cast("long").alias("n"))
    # 6 probe positions (3 quantiles × lo/hi), derived from the 1-row
    # total — broadcast-scale by construction.
    probes = (
        total.select(
            F.explode(F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("p"), "n"
        )
        .select(
            "p",
            ((F.col("n") - 1) * F.col("p")).alias("rf"),
            (F.floor((F.col("n") - 1) * F.col("p")).cast("long") + 1).alias("lo_idx"),
            F.least(
                F.floor((F.col("n") - 1) * F.col("p")).cast("long") + 2, F.col("n")
            ).alias("hi_idx"),
        )
        .select(
            "p",
            "rf",
            F.explode(
                F.array(
                    F.struct(F.col("lo_idx").alias("rn"), F.lit("lo").alias("side")),
                    F.struct(F.col("hi_idx").alias("rn"), F.lit("hi").alias("side")),
                )
            ).alias("pr"),
        )
        .select("p", "rf", F.col("pr.rn").alias("rn"), F.col("pr.side").alias("side"))
    )
    # Each probe rank lands in exactly one histogram run; the 6-row probe
    # frame is broadcast and the range predicate evaluated map-side over
    # the bounded histogram (BroadcastNestedLoopJoin over |distinct| × 6).
    hit = cum.join(
        F.broadcast(probes),
        (F.col("rn") > F.col("cum") - F.col("cnt")) & (F.col("rn") <= F.col("cum")),
    )
    return (
        hit.groupBy("p", "rf")
        .agg(
            F.max(F.when(F.col("side") == "lo", F.col("cents"))).alias("lo"),
            F.max(F.when(F.col("side") == "hi", F.col("cents"))).alias("hi"),
        )
        .select(
            F.col("p").alias("quantile"),
            (
                (
                    F.col("lo")
                    + (F.col("rf") - F.floor(F.col("rf"))) * (F.col("hi") - F.col("lo"))
                )
                / 100.0
            ).alias("q_value"),
        )
    )


# --- DP9: categorical mutual information -------------------------------------
# Feature-relevance profiling for mixture design: how much does knowing a
# document's source tell you about its language (and vice versa)?  One
# corpus scan builds the (lang, source) joint contingency table; the
# marginals, entropies, MI and normalized MI all derive from that tiny
# joint frame — |langs| × |sources| rows — with no second pass.  At
# 100 TB this is the only shape that works: the corpus is touched once
# (a two-column groupBy with map-side partial aggregation) and every
# information-theoretic quantity is algebra over the contingency table.
# ln-based quantities are irrational-ish, so dround(6) is boundary-safe.
DP9_SQL = """
WITH joint AS (
    SELECT lang, source, count(*)::DOUBLE AS c
    FROM documents GROUP BY lang, source
),
tot AS (SELECT sum(c) AS n FROM joint),
px AS (SELECT lang, sum(c) AS cx FROM joint GROUP BY lang),
py AS (SELECT source, sum(c) AS cy FROM joint GROUP BY source),
terms AS (
    SELECT floor((j.c / t.n) * ln((j.c * t.n) / (px.cx * py.cy))
                 * 1000000000000.0 + 0.5)::BIGINT AS mi_u
    FROM joint j
    JOIN px USING (lang) JOIN py USING (source) CROSS JOIN tot t
),
hx AS (
    SELECT -sum(floor((cx / t.n) * ln(cx / t.n)
                      * 1000000000000.0 + 0.5)::BIGINT)::BIGINT AS h_u
    FROM px CROSS JOIN tot t
),
hy AS (
    SELECT -sum(floor((cy / t.n) * ln(cy / t.n)
                      * 1000000000000.0 + 0.5)::BIGINT)::BIGINT AS h_u
    FROM py CROSS JOIN tot t
),
mi AS (SELECT sum(mi_u)::BIGINT AS mi_u FROM terms)
SELECT floor(mi.mi_u / 1e12 * 1000000.0 + 0.5) / 1000000.0 AS mi_nats,
       floor(hx.h_u / 1e12 * 1000000.0 + 0.5) / 1000000.0 AS h_lang,
       floor(hy.h_u / 1e12 * 1000000.0 + 0.5) / 1000000.0 AS h_source,
       floor((mi.mi_u / 1e12) / sqrt((hx.h_u / 1e12) * (hy.h_u / 1e12))
             * 1000000.0 + 0.5) / 1000000.0 AS nmi
FROM mi CROSS JOIN hx CROSS JOIN hy
"""


@register("dp9_mutual_information", DP9_SQL, survey_ref="beyond reference: categorical MI / entropy profile (single-scan contingency table)")
def dp9_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    joint = documents.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    # everything below operates on the tiny contingency frame
    joint = joint.localCheckpoint()
    tot = joint.agg(F.sum("c").alias("n"))
    px = joint.groupBy("lang").agg(F.sum("c").alias("cx"))
    py = joint.groupBy("source").agg(F.sum("c").alias("cy"))
    # Each information term is quantized to integer pico-units
    # (floor(x*1e12+0.5) BIGINT) BEFORE the sum: the contingency frame's
    # partial-merge order then cannot drift the totals (ADVICE r6 — the
    # same order-dependent-double-sum class as the r5 a17 flip).
    def _q12(col):
        return F.floor(col * 1e12 + F.lit(0.5)).cast("long")

    terms = (
        joint.join(px, "lang")
        .join(py, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            _q12(
                (F.col("c") / F.col("n"))
                * F.log((F.col("c") * F.col("n")) / (F.col("cx") * F.col("cy")))
            ).alias("mi_u")
        )
    )
    mi = terms.agg(F.sum("mi_u").alias("mi_u"))
    hx = px.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(_q12((F.col("cx") / F.col("n")) * F.log(F.col("cx") / F.col("n"))))).alias(
            "h_u"
        )
    )
    hy = py.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(_q12((F.col("cy") / F.col("n")) * F.log(F.col("cy") / F.col("n"))))).alias(
            "h_u"
        )
    )
    hx = hx.select(F.col("h_u").alias("hx_u"))
    hy = hy.select(F.col("h_u").alias("hy_u"))
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            dround(F.col("mi_u") / 1e12, 6).alias("mi_nats"),
            dround(F.col("hx_u") / 1e12, 6).alias("h_lang"),
            dround(F.col("hy_u") / 1e12, 6).alias("h_source"),
            dround(
                (F.col("mi_u") / 1e12)
                / F.sqrt((F.col("hx_u") / 1e12) * (F.col("hy_u") / 1e12)),
                6,
            ).alias("nmi"),
        )
    )


# --- DP10: ANOVA effect size (does the category explain the metric?) --------
# dp9 quantifies categorical↔categorical association (MI); dp10 is the
# categorical↔numeric counterpart: one-way ANOVA decomposition of
# value by event_type — between/within sum-of-squares, η² effect size,
# and the F statistic.  One corpus scan produces per-group
# (n, Σcents, Σcents²) — exact BIGINTs (2-decimal values ⇒ integer
# cents; squares stay < 2^63) — and every statistic is algebra over the
# |groups|-row frame, derived IDENTICALLY in both engines from the same
# exact integers.  Zero further scans (plan-pinned like dp9).
DP10_SQL = """
WITH c AS (
    SELECT event_type, floor(value * 100.0 + 0.5)::BIGINT AS cents FROM events
),
g AS (
    SELECT event_type, count(*)::BIGINT AS n,
           sum(cents)::BIGINT AS s, sum(cents * cents)::BIGINT AS ss
    FROM c GROUP BY event_type
),
tot AS (
    SELECT sum(n)::BIGINT AS n, sum(s)::BIGINT AS s, sum(ss)::BIGINT AS ss,
           count(*)::BIGINT AS k
    FROM g
),
parts AS (
    SELECT (SELECT sum(floor(s::DOUBLE * s / n * 10000.0 + 0.5)::HUGEINT)
            FROM g)::DOUBLE / 10000.0 AS sum_gsq,
           t.n, t.s, t.ss, t.k
    FROM tot t
),
d AS (
    SELECT (sum_gsq - (s::DOUBLE * s) / n) / 10000.0 AS ss_between,
           (ss - sum_gsq) / 10000.0 AS ss_within,
           k, n
    FROM parts
)
SELECT floor(ss_between * 1000000.0 + 0.5) / 1000000.0 AS ss_between,
       floor(ss_within * 1000000.0 + 0.5) / 1000000.0 AS ss_within,
       floor(ss_between / (ss_between + ss_within) * 1000000.0 + 0.5) / 1000000.0
           AS eta_squared,
       floor((ss_between / (k - 1)) / (ss_within / (n - k)) * 1000000.0 + 0.5)
           / 1000000.0 AS f_stat
FROM d
"""


@register("dp10_anova_eta", DP10_SQL, survey_ref="beyond reference: one-way ANOVA effect-size profile (categorical vs numeric; single-scan exact-integer moments)")
def dp10_anova_eta(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    g = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).cast("long").alias("s"),
        F.sum(cents * cents).cast("long").alias("ss"),
    )
    g = g.localCheckpoint()
    # s²/n is the one non-integer term; quantize each group's value to
    # 1e-4 cents² (floor-form, identical IEEE ops in both engines) and
    # sum the exact integers — the |groups|-row aggregation can then
    # never drift with merge order (ADVICE r6).  Sum as decimal so the
    # quantized units keep headroom beyond BIGINT at larger scales; the
    # oracle mirrors with ::HUGEINT per term (ADVICE r7 — a ::BIGINT
    # per-term cast would ERROR above ~9.2e18 rather than mirror).
    # Exactness caveat: once a per-term double s²/n·1e4 exceeds 2^53 the
    # +0.5 quantization is vacuous (floor of a >2^53 double is that
    # double) — still cross-engine CONSISTENT, since both engines run
    # identical IEEE ops on identical exact-integer inputs.
    agg = g.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("long").alias("s"),
        F.sum("ss").cast("long").alias("ss"),
        F.count(F.lit(1)).cast("long").alias("k"),
        (
            F.sum(
                F.floor(
                    F.col("s").cast("double") * F.col("s") / F.col("n") * 1e4
                    + F.lit(0.5)
                ).cast("decimal(38,0)")
            ).cast("double")
            / 1e4
        ).alias("sum_gsq"),
    )
    ss_between = (
        F.col("sum_gsq") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / 10000.0
    ss_within = (F.col("ss") - F.col("sum_gsq")) / 10000.0
    return agg.select(
        dround(ss_between, 6).alias("ss_between"),
        dround(ss_within, 6).alias("ss_within"),
        dround(ss_between / (ss_between + ss_within), 6).alias("eta_squared"),
        dround(
            (ss_between / (F.col("k") - 1)) / (ss_within / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


# --- DP11: PSI drift between ingest periods ----------------------------------
# dp6 compares the two January halves on scalar summaries (counts,
# means); dp11 is the DISTRIBUTIONAL drift gate a refresh pipeline runs
# before accepting a new snapshot: the Population Stability Index
# Σ (p_i − q_i)·ln(p_i / q_i) over a fixed 10-bin histogram of value,
# per event_type, early (Jan 1–15) vs late (Jan 16–31) window.  Natural
# data is stationary, so the drifted>=0.1 branch would be vacuous; a
# deterministic modulo-style plant (the f8/w3/j6 pattern) shifts the
# late-window 'click' values by +40 — one bin width of mass moves and
# exactly that event_type must flag.  Cross-engine exactness: bin
# counts are exact integers; Laplace-smoothed p, q and p/q are fixed
# short chains of IEEE ops on those integers (identical both engines);
# the one transcendental (ln) is handled by quantizing EACH term to
# integer pico-units before the 10-term sum (the dp9/a25/tx13 recipe),
# so neither a 1-ulp ln() divergence below 1e-12 nor partial-merge
# order can move the result.  Scale shape: ONE corpus scan → the
# (event_type, bin) conditional-count groupBy (map-side partials);
# everything after operates on the ≤ |types|·10-row frame (grid
# completion via a broadcast 10-row bin list so empty bins exist for
# smoothing).  The plan never rescans and never windows.
_DP11_NBINS = 10
_DP11_BINW = 50.0
_DP11_SHIFT = 40.0

DP11_SQL = f"""
WITH binned AS (
    SELECT event_type,
           (ts < TIMESTAMP '2024-01-16 00:00:00') AS p1,
           least(greatest(floor((value + CASE WHEN event_type = 'click'
                                      AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                                     THEN {_DP11_SHIFT!r} ELSE 0.0 END)
                       / {_DP11_BINW!r})::INT, 0), {_DP11_NBINS - 1}) AS bin
    FROM events
),
counts AS (
    SELECT event_type, bin,
           count(*) FILTER (p1)::BIGINT AS ce,
           count(*) FILTER (NOT p1)::BIGINT AS cl
    FROM binned GROUP BY event_type, bin
),
tot AS (
    SELECT event_type, sum(ce)::BIGINT AS te, sum(cl)::BIGINT AS tl
    FROM counts GROUP BY event_type
),
grid AS (
    SELECT t.event_type, b.bin, t.te, t.tl,
           coalesce(c.ce, 0) AS ce, coalesce(c.cl, 0) AS cl
    FROM tot t
    CROSS JOIN (SELECT unnest(range({_DP11_NBINS})) AS bin) b
    LEFT JOIN counts c ON c.event_type = t.event_type AND c.bin = b.bin
),
terms AS (
    SELECT event_type, te, tl,
           floor((((ce + 1.0) / (te + {_DP11_NBINS}.0))
                  - ((cl + 1.0) / (tl + {_DP11_NBINS}.0)))
                 * ln(((ce + 1.0) / (te + {_DP11_NBINS}.0))
                      / ((cl + 1.0) / (tl + {_DP11_NBINS}.0)))
                 * 1000000000000.0 + 0.5)::BIGINT AS t_u
    FROM grid
)
SELECT event_type,
       max(te)::BIGINT AS n_early,
       max(tl)::BIGINT AS n_late,
       floor(sum(t_u)::BIGINT / 1000000000000.0 * 1000000.0 + 0.5) / 1000000.0
           AS psi,
       (sum(t_u)::BIGINT >= 100000000000) AS drifted
FROM terms GROUP BY event_type
"""


@register("dp11_psi_drift", DP11_SQL, survey_ref="beyond reference: PSI distribution-drift gate (dp6's distributional twin; refresh-acceptance check)")
def dp11_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    p1 = F.col("ts") < cut
    v_adj = F.col("value") + F.when(
        (F.col("event_type") == "click") & (F.col("ts") >= cut),
        F.lit(_DP11_SHIFT),
    ).otherwise(F.lit(0.0))
    binned = events.select(
        "event_type",
        p1.alias("p1"),
        # ADVICE r9: greatest(0, ...) lower clamp so a (currently
        # unreachable) negative value can't produce a bin outside the
        # 0..NBINS-1 PSI grid while still counting toward te/tl —
        # the invariant holds by construction, not by data.  Mirrored
        # in DP11_SQL and the pure-Python law anchor.
        F.least(
            F.greatest(F.floor(v_adj / F.lit(_DP11_BINW)).cast("int"), F.lit(0)),
            F.lit(_DP11_NBINS - 1),
        ).alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("p1"), 1).otherwise(0)).cast("long").alias("ce"),
        F.sum(F.when(~F.col("p1"), 1).otherwise(0)).cast("long").alias("cl"),
    )
    # single scan ends here; the rest is algebra on the ≤ |types|·10 frame
    counts = counts.localCheckpoint()
    tot = counts.groupBy("event_type").agg(
        F.sum("ce").cast("long").alias("te"), F.sum("cl").cast("long").alias("tl")
    )
    bins = spark.range(_DP11_NBINS).select(F.col("id").cast("int").alias("bin"))
    grid = (
        tot.crossJoin(F.broadcast(bins))
        .join(counts, ["event_type", "bin"], "left")
        .select(
            "event_type",
            "te",
            "tl",
            F.coalesce(F.col("ce"), F.lit(0)).alias("ce"),
            F.coalesce(F.col("cl"), F.lit(0)).alias("cl"),
        )
    )
    nb = float(_DP11_NBINS)
    p = (F.col("ce") + 1.0) / (F.col("te") + nb)
    q = (F.col("cl") + 1.0) / (F.col("tl") + nb)
    t_u = F.floor((p - q) * F.log(p / q) * 1e12 + F.lit(0.5)).cast("long")
    terms = grid.select("event_type", "te", "tl", t_u.alias("t_u"))
    return terms.groupBy("event_type").agg(
        F.max("te").cast("long").alias("n_early"),
        F.max("tl").cast("long").alias("n_late"),
        dround(F.sum("t_u").cast("long") / 1e12, 6).alias("psi"),
        (F.sum("t_u").cast("long") >= F.lit(100000000000)).alias("drifted"),
    )


# --- DP12: decile drift gate (dp11's quantile-space twin) --------------------
# PSI (dp11) measures drift as histogram-mass movement and is blind to
# WHERE in the distribution the movement happened; the decile gate a
# refresh pipeline pairs with it asks "how far did each order statistic
# move".  Per event_type, the 9 inner deciles of value are computed
# EXACTLY (discrete lower order statistic at rank floor((n-1)k/10)+1)
# for the early (Jan 1-15) and late (Jan 16-31) windows, and the gate
# flags when any decile moved >= 25 units (half a dp11 bin).  The same
# deterministic plant as dp11 (+40 on late-window 'click' values)
# exercises the drifted branch: order statistics are translation-
# equivariant, so click's deciles move by exactly 40, stationary types
# by sampling noise ≪ 25.  Cross-engine exactness: decile values are
# DATA doubles selected by integer rank (no interpolation, no
# arithmetic), shifts are single IEEE subtractions of identical doubles
# — bit-identical with no quantization needed.  Scale shape: the
# per-(type, period) rank comes from grouped_prefix_sum of ones (the
# sp11/o1 distributed-rank machinery: one range exchange + broadcast
# per-(group, partition) offsets) — NEVER a per-type window a fat
# event_type would serialize through; the 90-row probe frame (|types| ×
# 2 periods × 9 deciles) derives from the count aggregate and joins
# broadcast.  One corpus scan, one range exchange, two tiny broadcasts.
DP12_SQL = f"""
WITH e AS (
    SELECT event_type,
           (ts < TIMESTAMP '2024-01-16 00:00:00') AS p1,
           value + CASE WHEN event_type = 'click'
                         AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN {_DP11_SHIFT!r} ELSE 0.0 END AS v
    FROM events
),
s AS (
    SELECT event_type, p1, v,
           row_number() OVER (PARTITION BY event_type, p1 ORDER BY v)::BIGINT
               AS rn
    FROM e
),
n AS (
    SELECT event_type, p1, count(*)::BIGINT AS n
    FROM e GROUP BY event_type, p1
),
probes AS (
    SELECT event_type, p1, n, k::BIGINT AS k,
           ((n - 1) * k) // 10 + 1 AS idx
    FROM n CROSS JOIN (SELECT unnest(range(1, 10)) AS k) kk
),
hit AS (
    SELECT p.event_type, p.k, p.p1, s.v
    FROM probes p
    JOIN s ON s.event_type = p.event_type AND s.p1 = p.p1 AND s.rn = p.idx
),
per_k AS (
    SELECT event_type, k,
           max(CASE WHEN p1 THEN v END) AS ve,
           max(CASE WHEN NOT p1 THEN v END) AS vl
    FROM hit GROUP BY event_type, k
),
nn AS (
    SELECT event_type,
           max(CASE WHEN p1 THEN n END)::BIGINT AS n_early,
           max(CASE WHEN NOT p1 THEN n END)::BIGINT AS n_late
    FROM n GROUP BY event_type
)
SELECT p.event_type, nn.n_early, nn.n_late,
       max(abs(p.vl - p.ve)) AS max_decile_shift,
       (max(abs(p.vl - p.ve)) >= 25.0) AS drifted
FROM per_k p JOIN nn ON nn.event_type = p.event_type
GROUP BY p.event_type, nn.n_early, nn.n_late
"""


@register("dp12_quantile_drift_gate", DP12_SQL, survey_ref="beyond reference: exact decile drift gate (dp11's quantile-space twin; dp8 machinery per group)")
def dp12_quantile_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import grouped_prefix_sum

    (events,) = tables(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    v = F.col("value") + F.when(
        (F.col("event_type") == "click") & (F.col("ts") >= cut),
        F.lit(_DP11_SHIFT),
    ).otherwise(F.lit(0.0))
    e = events.select(
        "event_type", (F.col("ts") < cut).alias("p1"), v.alias("v"), F.lit(1).alias("one")
    )
    ranked = grouped_prefix_sum(e, ["event_type", "p1"], ["v"], "one", "rn")
    counts = e.groupBy("event_type", "p1").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # deciles unrolled by explode over the bounded counts frame (no
    # crossJoin — even a broadcast nested-loop over 10 rows is a plan
    # node the pin forbids); probe columns renamed so the self-derived
    # join resolves on plain attribute equality (no reliance on
    # dataset-id disambiguation — ranked and counts both descend from e)
    probes = counts.withColumn(
        "k", F.explode(F.array(*[F.lit(k).cast("long") for k in range(1, 10)]))
    ).select(
        F.col("event_type").alias("p_et"),
        F.col("p1").alias("p_p1"),
        "k",
        (F.floor((F.col("n") - 1) * F.col("k") / 10).cast("long") + 1).alias("idx"),
    )
    hit = ranked.join(
        F.broadcast(probes),
        (F.col("rn") == F.col("idx"))
        & (F.col("event_type") == F.col("p_et"))
        & (F.col("p1") == F.col("p_p1")),
    ).select("event_type", "k", "p1", "v")
    per_k = hit.groupBy("event_type", "k").agg(
        F.max(F.when(F.col("p1"), F.col("v"))).alias("ve"),
        F.max(F.when(~F.col("p1"), F.col("v"))).alias("vl"),
    )
    nn = counts.groupBy("event_type").agg(
        F.max(F.when(F.col("p1"), F.col("n"))).cast("long").alias("n_early"),
        F.max(F.when(~F.col("p1"), F.col("n"))).cast("long").alias("n_late"),
    )
    return (
        per_k.groupBy("event_type")
        .agg(F.max(F.abs(F.col("vl") - F.col("ve"))).alias("max_decile_shift"))
        .join(F.broadcast(nn), "event_type")
        .select(
            "event_type",
            "n_early",
            "n_late",
            "max_decile_shift",
            (F.col("max_decile_shift") >= F.lit(25.0)).alias("drifted"),
        )
    )


# --- DP13: Benford-style leading-digit audit -----------------------------------
# Scale shape: one corpus scan into the checkpointed digit frame, then
# two hash aggs and a <=|types|-row broadcast join.  Per-digit ROWS (no
# cross-digit float sum), so every float is a short deterministic chain
# on exact integers; the log10((d+1)/d) family (d in 1..9) is a FINITE
# transcendental domain, certified bit-for-bit across Spark/DuckDB/
# CPython in tests/test_semantic_laws.py (the a28 ln-parity lesson).
DP13_SQL = r"""
WITH c AS (
    SELECT event_type, floor(value * 100.0 + 0.5)::BIGINT AS cents
    FROM events
),
d AS (
    -- zero-cent rows have no leading digit (Benford is a law about
    -- nonzero magnitudes); sf0.1 contains value = 0.00 events
    SELECT event_type, substr(cents::VARCHAR, 1, 1)::BIGINT AS digit
    FROM c WHERE cents > 0
),
g AS (
    SELECT event_type, digit, count(*)::BIGINT AS observed FROM d
    GROUP BY event_type, digit
),
n AS (SELECT event_type, count(*)::BIGINT AS n FROM d GROUP BY event_type)
SELECT g.event_type, g.digit, g.observed,
       {share6} AS observed_share,
       {exp6} AS benford_expected,
       {chi4} AS chi2_contribution
FROM g JOIN n ON g.event_type = n.event_type
""".format(
    share6=dround_sql("g.observed * 1.0 / n.n", 6),
    exp6=dround_sql("log10((g.digit + 1) * 1.0 / g.digit)", 6),
    chi4=dround_sql(
        "(g.observed - n.n * log10((g.digit + 1) * 1.0 / g.digit))"
        " * (g.observed - n.n * log10((g.digit + 1) * 1.0 / g.digit))"
        " / (n.n * log10((g.digit + 1) * 1.0 / g.digit))",
        4,
    ),
)


@register(
    "dp13_leading_digit_audit",
    DP13_SQL,
    survey_ref="beyond reference (dp-family): Benford leading-digit profile "
    "of integer cents per event type — per-digit rows, no cross-digit float "
    "sum, fabrication screen",
)
def dp13_leading_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = tables(spark, sf_dir, "events")
    d = (
        events.select(
            "event_type",
            F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .where(F.col("cents") > 0)  # zero magnitudes carry no leading digit
        .select(
            "event_type",
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("long")
            .alias("digit"),
        )
        # the digit frame feeds both the (type, digit) counts and the
        # per-type totals — one corpus scan, not two
        .localCheckpoint()
    )
    g = d.groupBy("event_type", "digit").agg(
        F.count(F.lit(1)).cast("long").alias("observed")
    )
    n = d.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    exp_p = F.log10((F.col("digit") + 1) * F.lit(1.0) / F.col("digit"))
    dev = F.col("observed") - F.col("n") * exp_p
    return g.join(F.broadcast(n), "event_type").select(
        "event_type",
        "digit",
        "observed",
        dround(F.col("observed") * F.lit(1.0) / F.col("n"), 6).alias(
            "observed_share"
        ),
        dround(exp_p, 6).alias("benford_expected"),
        dround(dev * dev / (F.col("n") * exp_p), 4).alias("chi2_contribution"),
    )
