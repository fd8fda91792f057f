"""Window-function combinators — SURVEY §2.6 W1/W3 and §2.3 F5.

The reference's bubble-adjacency removal operates on implicit row order of
an aggregated in-memory frame (``ifcb-data-pipeline.Rmd:1270-1297``) —
Spark has no implicit order, so :func:`adjacency_flag_filter` defines the
ordering explicitly (sample timestamp) as SURVEY §7.3 prescribes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def adjacency_flag_filter(
    df: DataFrame,
    flag_col: str,
    flag_value: str,
    order_by: list[str],
    partition_by: list[str] | None = None,
    reach: int = 1,
) -> DataFrame:
    """Drop rows whose flag contains ``flag_value`` **and** their ±reach
    neighbors in the defined ordering (F5: bubbles kill the previous and
    next sample too, ``ifcb_delivery_data_to_shark.R:412-440``)."""
    w = Window.partitionBy(*(partition_by or [F.lit(1)])).orderBy(
        *[F.col(c) for c in order_by]
    )
    hit = F.coalesce(
        F.lower(F.col(flag_col)).contains(flag_value.lower()), F.lit(False)
    )
    cond = hit
    for i in range(1, reach + 1):
        cond = cond | F.coalesce(
            F.lag(hit, i).over(w), F.lit(False)
        ) | F.coalesce(F.lead(hit, i).over(w), F.lit(False))
    return df.withColumn("__drop", cond).where(~F.col("__drop")).drop("__drop")


def stitched_adjacency_flag(
    df: DataFrame,
    hit: Column,
    bucket_col: str,
    order_by: list[str],
    out_col: str = "__adj",
) -> DataFrame:
    """Global ``hit | lag(hit) | lead(hit)`` over ``order_by`` — computed
    WITHOUT a single-partition window.

    The 100 TB-safe form of F5 bubble adjacency (``Rmd:1270-1297``): a
    global ``Window.orderBy`` funnels every row through one task, so
    instead the window is partitioned by ``bucket_col`` (which must be a
    monotone function of the ``order_by`` prefix — e.g. the sample date
    when ordering by (date, key)) and the ±1-row information that crosses
    bucket edges is stitched from a second window over ONLY the per-bucket
    boundary rows (2 per bucket — bounded by the calendar, broadcastable).

    ``order_by`` must be a unique key of ``df``.
    """
    order = [F.col(c) for c in order_by]
    resid = [c for c in order_by if c != bucket_col]
    wp = Window.partitionBy(bucket_col).orderBy(*order)
    x = (
        df.withColumn("__hit", F.coalesce(hit, F.lit(False)))
        .withColumn("__lag", F.lag("__hit").over(wp))
        .withColumn("__lead", F.lead("__hit").over(wp))
    )
    # Boundary information per bucket — the first/last row's key and hit
    # — comes from a partial-aggregating groupBy over ``df``, NOT from a
    # second pass over the windowed frame (r18, guide §2.3): the old
    # form re-ran the bucket window machinery (full-data exchange + sort
    # + row_number + count) on a second copy of the input that column
    # pruning kept from being exchange-reused.  min_by/max_by combine
    # map-side to one row per bucket BEFORE any exchange, so the patch
    # branch now shuffles |buckets| rows instead of |df| rows (plan:
    # 4 Window execs -> 2, second full-data Exchange+Sort gone).
    # Determinism: ``order_by`` is a unique key of df (docstring
    # contract), so first/last per bucket are well-defined.
    hitc = F.coalesce(hit, F.lit(False))
    rkey = F.struct(*[F.col(c) for c in resid]) if len(resid) > 1 else F.col(resid[0])
    b = df.groupBy(bucket_col).agg(
        F.min(rkey).alias("__first_key"),
        F.min_by(hitc, rkey).alias("__first_hit"),
        F.max(rkey).alias("__last_key"),
        F.max_by(hitc, rkey).alias("__last_hit"),
    )
    # One row per bucket — bounded by the bucket domain (the calendar for
    # date buckets), the same bounded-window exception the old 2-rows-
    # per-bucket global window relied on.  In bucket order, the previous
    # bucket's last row is the global predecessor of this bucket's first
    # row, and the next bucket's first row the successor of its last.
    wb = Window.orderBy(F.col(bucket_col))
    b2 = b.select(
        bucket_col,
        "__first_key",
        "__last_key",
        F.lag("__last_hit").over(wb).alias("__prev_last"),
        F.lead("__first_hit").over(wb).alias("__next_first"),
    )
    single = F.col("__first_key") == F.col("__last_key")
    first_row = F.struct(
        F.col("__first_key").alias("k"),
        F.col("__prev_last").alias("__ext_lag"),
        # A single-row bucket's one row is both first and last: it takes
        # the successor patch too (the old form's rn==1 AND rnd==1 row).
        F.when(single, F.col("__next_first")).alias("__ext_lead"),
    )
    last_row = F.struct(
        F.col("__last_key").alias("k"),
        F.lit(None).cast("boolean").alias("__ext_lag"),
        F.col("__next_first").alias("__ext_lead"),
    )
    key_cols = (
        [F.col(f"pr.k.{c}").alias(c) for c in resid]
        if len(resid) > 1
        else [F.col("pr.k").alias(resid[0])]
    )
    patch = b2.select(
        bucket_col,
        F.explode(
            F.when(single, F.array(first_row)).otherwise(
                F.array(first_row, last_row)
            )
        ).alias("pr"),
    ).select(
        bucket_col,
        *key_cols,
        F.col("pr.__ext_lag").alias("__ext_lag"),
        F.col("pr.__ext_lead").alias("__ext_lead"),
    )
    stitched = x.join(F.broadcast(patch), order_by, "left").withColumn(
        out_col,
        F.col("__hit")
        | F.coalesce(F.col("__lag"), F.col("__ext_lag"), F.lit(False))
        | F.coalesce(F.col("__lead"), F.col("__ext_lead"), F.lit(False)),
    )
    return stitched.drop("__hit", "__lag", "__lead", "__ext_lag", "__ext_lead")


def gap_fill(
    df: DataFrame,
    cols: list[str],
    partition_by: list[str],
    order_by: list[str],
    direction: str = "downup",
) -> DataFrame:
    """tidyr ``fill(..., .direction="downup")`` (W3,
    ``compare_microscopy.R:127-129``): forward-fill nulls from the last
    non-null value, then backward-fill leading nulls from the next one."""
    order = [F.col(c) for c in order_by]
    w_down = (
        Window.partitionBy(*partition_by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_up = (
        Window.partitionBy(*partition_by)
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    out = df
    for c in cols:
        filled = F.col(c)
        if "down" in direction:
            filled = F.coalesce(filled, F.last(c, ignorenulls=True).over(w_down))
        if "up" in direction:
            filled = F.coalesce(filled, F.first(c, ignorenulls=True).over(w_up))
        out = out.withColumn(c, filled)
    return out


def pid_stamped_range(df: DataFrame, cols: list) -> DataFrame:
    """Range-partition ``df`` on ``cols`` and stamp each row with its
    partition id — the first stage of :func:`grouped_prefix_sum`,
    exposed un-checkpointed so the plan tests can pin the
    ``rangepartitioning`` exchange that the combinator's eager
    ``localCheckpoint`` hides from downstream plans."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(n_part, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str | Column],
    value_col: str,
    out_col: str = "cum",
) -> DataFrame:
    """Inclusive per-group running sum of ``value_col`` in ``order_cols``
    order — WITHOUT a group-fat window.

    The naive ``sum().over(Window.partitionBy(group).orderBy(order))``
    funnels each group through one task; a hot group (one domain holding
    half the corpus) serializes.  Instead: range-partition by (group,
    order) so each task holds a contiguous slice, per-(group, partition)
    subtotals feed a broadcast offset cumsum over the bounded
    |groups|×|partitions| frame, and the within-partition window runs
    partitioned by (partition, group).  Every stage is balanced
    regardless of group skew.

    This is also the package's distributed total-order rank: with no
    group columns and a column of ones as ``value_col``, ``out_col`` is
    the 1-based row rank in ``order_cols`` order (the running frame is
    ROWS, so ties get distinct consecutive ranks, as ``row_number``
    does).  The only unsplittable frame is then the ≤ |partitions|-row
    offsets table; the fact side is never windowed on one partition.

    ``order_cols`` are column names or Columns (``desc()`` keys
    included).  Caller contract (the w13/w14 NULL-ordering class): every
    order key must be structurally non-null (PK, hash, pid) OR carry an
    explicit ``asc_nulls_last``/``desc_nulls_last`` matched by ``NULLS
    LAST`` in the oracle — Spark defaults NULLS FIRST, DuckDB NULLS
    LAST."""
    # The pid-stamped frame is consumed by TWO plan branches (offsets
    # aggregate + within-partition window, joined on __pid).  Range
    # boundaries are SAMPLED per exchange, so if the two exchanges are
    # not de-duplicated (AQE re-planning / column pruning can change
    # their canonical forms), each branch sees different boundaries and
    # __pid disagrees between them — silently wrong sums.  One eager
    # localCheckpoint pins a single boundary sample for both branches;
    # the range exchange runs at construction time.
    ranged = pid_stamped_range(df, [*group_cols, *order_cols]).localCheckpoint()
    part_sums = ranged.groupBy(*group_cols, "__pid").agg(
        F.sum(value_col).alias("__sum")
    )
    offsets = part_sums.select(
        *group_cols,
        "__pid",
        F.coalesce(
            F.sum("__sum").over(
                Window.partitionBy(*group_cols)
                .orderBy("__pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__offset"),
    )
    within = (
        Window.partitionBy("__pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ranged.withColumn("__cum", F.sum(value_col).over(within))
        .join(F.broadcast(offsets), group_cols + ["__pid"])
        .withColumn(out_col, F.col("__cum") + F.col("__offset"))
        .drop("__pid", "__cum", "__offset")
    )
