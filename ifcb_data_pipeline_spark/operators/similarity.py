"""Similarity-search operators over embedding columns.

* :func:`cosine_topk` — brute-force top-k (the exactness baseline).  At
  scale: broadcast the (small) query set, scan the corpus once, then a
  TWO-PHASE top-k (local per-(query, source-partition) heads, bounded
  final rank) so no corpus-sized partition is ever sorted on one task.

Dot products use ``zip_with`` + ``aggregate`` — JVM-side higher-order
functions, no Python UDF in the hot path.  (Measured round 15: HOFs are
NOT whole-stage-codegen'd — they evaluate interpreted per element — but
they still beat a literal-index unrolled sum 2–4×, because the unrolled
expression tree blows past the codegen method-size limits and falls
back to interpreted eval of a much deeper tree.  See the SCALE.md
round-15 negative-result note before "optimizing" this.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a, b) -> Column:
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (excluding self)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    # Two-phase top-k (the sp2b local-heads discipline): a single-phase
    # row_number() over (partition by query_id) would materialize and
    # sort a corpus-sized partition per query on ONE task — fine at
    # sf0.1, a scale-killer at 100×.  Phase 1 ranks within each
    # (query, source-partition) slice — the window key includes
    # spark_partition_id(), so no post-shuffle partition is larger than
    # one corpus split's contribution to one query — and keeps the
    # local top-k heads.  Phase 2 ranks only the ≤ k × n_partitions
    # survivors per query: bounded by construction, not by data.  The
    # heads are a superset of the global top-k for ANY partitioning,
    # so the result is partitioning-invariant (pinned by
    # tests/test_invariants.py's repartition law).
    local = scored.withColumn("__pid", F.spark_partition_id())
    w_local = Window.partitionBy("query_id", "__pid").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    heads = (
        local.withColumn("__lrk", F.row_number().over(w_local))
        .where(F.col("__lrk") <= k)
        .drop("__lrk", "__pid")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        heads.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _cells_one_row(centroid_arrays: DataFrame) -> DataFrame:
    """Collapse the (bounded, |cells|-row) coarse quantizer to ONE row
    holding ``array<struct<label, cv>>`` — the broadcastable shape the
    map-only assignment below consumes."""
    return centroid_arrays.agg(
        F.collect_list(F.struct("label", "cv")).alias("__cells")
    )


def _cell_scores() -> "Column":
    """Per-row (d2, cell) struct array over the collected cell array:
    the same ``v·v − 2·v·c + c·c`` expression an exploded (vector, cell)
    ROW form evaluates, so the doubles agree bit-for-bit; struct
    comparison is field-lexicographic, so min/sort over these structs IS
    a ``row_number() ORDER BY d2, cell`` selection."""
    return F.transform(
        F.col("__cells"),
        lambda c: F.struct(
            (
                dot(F.col("v"), F.col("v"))
                - 2 * dot(F.col("v"), c["cv"])
                + dot(c["cv"], c["cv"])
            ).alias("d2"),
            c["label"].alias("cell"),
        ),
    )


def ivf_assign(vectors: DataFrame, centroid_arrays: DataFrame) -> DataFrame:
    """Assign every ``(vec_id, v)`` vector to its nearest centroid cell
    (squared euclidean, expanded as ``v·v − 2·v·c + c·c`` so both
    engines evaluate the identical expression; ties break on cell id).

    ``centroid_arrays``: (label, cv array<double>) — the IVF coarse
    quantizer, always broadcast-sized (|cells| ≪ |vectors|).  The output
    keeps (id, vec, cell); downstream search is an equi-join on cell —
    the inverted-file property that makes ANN linear at 100 TB.

    Scale shape (remove shuffles outright): an exploded form — the
    corpus crossJoined ×|cells| against the broadcast quantizer —
    shuffles that expanded frame, full vectors included, through a
    per-id ``row_number`` window just to take the argmin: an exchange of
    |cells|× corpus bytes at any scale, plus an Exchange+Sort pair per
    assign call locally (×3 inside sim8's Lloyd loop).  Assignment is a pure per-row decision once every centroid
    is visible to the row, so the quantizer is collapsed to ONE
    ``array<struct<label, cv>>`` row (bounded by construction),
    broadcast, and the argmin runs as ``array_min`` over the per-row
    (d2, cell) structs — a map-only stage with ZERO shuffle.  Result-
    identical: same d2 expression tree per (vector, cell), and
    lexicographic struct-min == ORDER BY d2, cell (pinned by
    tests/test_physical_plans.py::test_ivf_assign_is_map_only and the
    tie-break unit test)."""
    best = F.array_min(_cell_scores())
    return (
        vectors.crossJoin(F.broadcast(_cells_one_row(centroid_arrays)))
        # empty quantizer → zero rows (the old exploded form's contract).
        # Guarded BEFORE the argmin on the cheap array size: the
        # earlier `.where(best.isNotNull())` form made Catalyst evaluate
        # the whole interpreted HOF argmin TWICE per row — once in the
        # collapsed Filter, once in the Project (HOFs are CodegenFallback,
        # so no codegen subexpression elimination saves it) — measured
        # ~1.2× on sim8's Lloyd loop.
        .where(F.size(F.col("__cells")) > 0)
        .select(F.col("vec_id").alias("id"), "v", best["cell"].alias("cell"))
    )


def ivf_assign_probes(
    vectors: DataFrame,
    centroid_arrays: DataFrame,
    nprobe: int,
) -> DataFrame:
    """Like :func:`ivf_assign` but keeps each vector's ``nprobe``
    nearest cells with their rank (probe 1 = the primary cell).  The
    corpus is indexed under probe 1 only; queries probe all ``nprobe``
    cells — the standard IVF recall/latency dial.

    Same map-only shape as :func:`ivf_assign`: ``array_sort``
    over the per-row (d2, cell) structs is lexicographic — exactly the
    old window's ``ORDER BY d2, cell`` — so slicing the first
    ``nprobe`` and posexploding reproduces the ``row_number <= nprobe``
    rows (probe = position + 1) with zero shuffle; an empty quantizer
    posexplodes to zero rows, matching the old empty crossJoin."""
    top = F.slice(F.array_sort(_cell_scores()), 1, nprobe)
    return (
        vectors.crossJoin(F.broadcast(_cells_one_row(centroid_arrays)))
        .select("vec_id", "v", F.posexplode(top).alias("__pos", "__sc"))
        .select(
            F.col("vec_id").alias("id"),
            "v",
            F.col("__sc")["cell"].alias("cell"),
            (F.col("__pos") + 1).alias("probe"),
        )
    )


def ivf_topk_nprobe(
    probes: DataFrame,
    queries_filter,
    k: int = 3,
) -> DataFrame:
    """IVF search: queries scan all their probed cells, the corpus is
    indexed under its primary cell only (so no neighbor appears twice).
    Input is :func:`ivf_assign_probes`; at ``nprobe=1`` each query scans
    only its own cell (the first element of the lexicographic
    ``(d2, cell)`` sort is :func:`ivf_assign`'s ``array_min``)."""
    q = probes.where(queries_filter).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"), "cell"
    )
    c = probes.where(F.col("probe") == 1).select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv_"), "cell"
    )
    scored = (
        q.join(c, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("cv_")).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_raw")
    )


def label_centroids(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "v",
) -> DataFrame:
    """Per-label centroid, one row per (label, dim) — posexplode +
    two-phase average; the IVF coarse-quantizer building block."""
    exploded = vectors.select(
        F.col(label_col).alias("label"), F.posexplode(vec_col).alias("dim", "x")
    )
    return exploded.groupBy("label", "dim").agg(F.avg("x").alias("centroid"))
