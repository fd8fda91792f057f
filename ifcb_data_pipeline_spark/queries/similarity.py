"""Similarity-search query family (BASELINE.json north-star operators).

Anchors for the LSH variant are the embeddings of vec_id 0..7, derived
from the table itself in both engines (no out-of-band literals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import cosine, cosine_topk, dot, label_centroids
from . import register
from ._util import dround, dround_sql, fan_out, sign_lsh_coded_sql, tables

_COS_SQL = (
    "(list_inner_product({a}, {b})"
    " / sqrt(list_inner_product({a}, {a}) * list_inner_product({b}, {b})))"
)

# --- SIM1: brute-force cosine top-k ---------------------------------------
SIM1_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS MATERIALIZED (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_COS_SQL.format(a="q.v", b="c.v")} AS cos_raw
    FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_raw DESC, neighbor_id)::BIGINT AS rank,
           floor(cos_raw * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM scored
)
SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 5
"""


@register("sim1_cosine_topk", SIM1_SQL, survey_ref="north-star ANN: brute-force cosine top-k baseline")
def sim1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    out = cosine_topk(e.where(F.col("vec_id") < 10), e, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        dround(F.col("cos_sim"), 6).alias("cos_sim"),
    )


# --- SIM2: banded multi-table sign-LSH ANN ---------------------------------
# Hashing every vector with 8 *global* anchor bits gives 256 buckets
# total, so one hot region of embedding space degenerates to a quadratic
# within-bucket all-pairs.  The candidate generator is therefore dd5's
# banded machinery (operators/dedup.sign_lsh_bands): 4 independent
# tables × 8-bit signatures.  Each table has 256 buckets but a
# candidate needs agreement on all 8 bits OF THAT TABLE — per-table
# bucket occupancy is the binomial tail of 8 hyperplane cuts, so bucket
# sizes stay bounded under skew while the 4 tables recover the recall a
# single sharper table would lose.  Candidate pairs = agree on ≥1 table, deduped
# BEFORE the exact-cosine verify; rank ≤ 3 per query.
# tests/test_invariants.py::test_sim2_buckets_bounded pins occupancy.
from ..operators.dedup import sign_lsh_bands  # noqa: E402

_SIM2_DIM, _SIM2_BANDS, _SIM2_ROWS = 64, 4, 8


def sim2_coded(e: DataFrame) -> DataFrame:
    """(vec_id, band, sig): one row per vector per LSH table."""
    return e.select(
        "vec_id",
        F.explode(sign_lsh_bands("v", _SIM2_DIM, _SIM2_BANDS, _SIM2_ROWS)).alias("bs"),
    ).select("vec_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


SIM2_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
coded AS (
    {sign_lsh_coded_sql("vec_id", "e", _SIM2_DIM, _SIM2_BANDS, _SIM2_ROWS)}
),
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
    FROM coded q JOIN coded c
      ON q.band = c.band AND q.sig = c.sig AND q.vec_id <> c.vec_id
),
scored AS MATERIALIZED (
    SELECT cand.query_id, cand.neighbor_id,
           {_COS_SQL.format(a="qe.v", b="ce.v")} AS cos_raw
    FROM cand
    JOIN e qe ON qe.vec_id = cand.query_id
    JOIN e ce ON ce.vec_id = cand.neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_raw DESC, neighbor_id)::BIGINT AS rank,
           floor(cos_raw * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM scored
)
SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 3
"""


@register("sim2_signlsh_ann", SIM2_SQL, survey_ref="north-star ANN: banded multi-table sign-LSH")
def sim2_signlsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    # Signature projection + the exact-cosine verify both re-derive `e`
    # from the scan; a single-row-group source serializes those narrow
    # stages onto one task (fan_out is a no-op whenever the scan already
    # has ≥ cores splits; candidate keys drive the joins downstream,
    # partitioning-invariant).
    e = fan_out(
        embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    coded = sim2_coded(e)
    q = coded.select(F.col("vec_id").alias("query_id"), "band", "sig")
    c = coded.select(F.col("vec_id").alias("neighbor_id"), "band", "sig")
    cand = (
        q.join(c, ["band", "sig"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates()  # a pair may collide in several tables — verify once
    )
    # Self-norms on the vector sides (|corpus| rows) instead of per
    # candidate pair — one dim-length fold per pair instead of three in
    # the verify; float-identical to the inline cosine (same folds, same
    # multiply order).  Same pattern as operators/dedup.embedding_lsh_pairs.
    qe = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        dot(F.col("v"), F.col("v")).alias("nq"),
    )
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        dot(F.col("v"), F.col("v")).alias("nc"),
    )
    scored = (
        cand.join(qe, "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qv"), F.col("cv"))
                / F.sqrt(F.col("nq") * F.col("nc"))
            ).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", dround(F.col("cos_raw"), 6).alias("cos_sim"))
    )


# --- SIM3: per-label centroids (IVF coarse quantizer) ----------------------
SIM3_SQL = """
WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT label, (t.i - 1)::INT AS dim,
       floor(avg(v[t.i]) * 1000000.0 + 0.5) / 1000000.0 AS centroid
FROM e, unnest(range(1, len(v) + 1)) AS t(i)
GROUP BY label, t.i
"""


@register("sim3_label_centroids", SIM3_SQL, survey_ref="north-star ANN: IVF centroid build")
def sim3_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("label", F.col("embedding").cast("array<double>").alias("v"))
    out = label_centroids(e)
    return out.select(
        "label", F.col("dim").cast("int").alias("dim"), dround(F.col("centroid"), 6).alias("centroid")
    )


# --- SIM4: IVF search (assign to nearest cell, probe own cell only) --------
# The scale path sim3's quantizer exists for: cells are broadcast-sized,
# the search is an equi-join on cell id — never an all-pairs scan.
# Centroids are rounded to 6 decimals in BOTH engines before use so the
# assignment argmin sees identical inputs.
SIM4_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
el AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
cent0 AS (
    SELECT label, (t.i - 1)::INT AS dim,
           floor(avg(v[t.i]) * 1000000.0 + 0.5) / 1000000.0 AS c
    FROM el, unnest(range(1, len(v) + 1)) AS t(i)
    GROUP BY label, t.i
),
cent AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent0 GROUP BY label),
dists AS (
    SELECT e.vec_id, e.v, cent.label,
           (list_inner_product(e.v, e.v)
            - 2 * list_inner_product(e.v, cent.cv)
            + list_inner_product(cent.cv, cent.cv)) AS d2
    FROM e CROSS JOIN cent
),
assigned AS MATERIALIZED (
    SELECT vec_id, v, label AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
        FROM dists
    ) WHERE rn = 1
),
scored AS MATERIALIZED (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_COS_SQL.format(a="q.v", b="c.v")} AS cos_raw
    FROM assigned q JOIN assigned c
      ON q.cell = c.cell AND q.vec_id < 10 AND q.vec_id <> c.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_raw DESC, neighbor_id)::BIGINT AS rank,
           floor(cos_raw * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM scored
)
SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 3
"""


@register("sim4_ivf_search", SIM4_SQL, survey_ref="north-star ANN: IVF nprobe=1 search over sim3 cells")
def sim4_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_assign_probes, ivf_topk_nprobe

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    el = embeddings.select("label", F.col("embedding").cast("array<double>").alias("v"))
    cent_arr = (
        label_centroids(el)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("dim", dround(F.col("centroid"), 6).alias("c"))
                    )
                ),
                lambda s: s.getField("c"),
            ).alias("cv")
        )
    )
    probes = ivf_assign_probes(e, cent_arr, nprobe=1)
    out = ivf_topk_nprobe(probes, F.col("id") < 10, k=3)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        dround(F.col("cos_raw"), 6).alias("cos_sim"),
    )


# --- SIM5: IVF search with nprobe=2 ----------------------------------------
# The recall dial of sim4: queries probe their TWO nearest cells, the
# corpus stays indexed under its primary cell — recall rises, per-query
# work stays |2 cells|, never the full corpus.
SIM5_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
el AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
cent0 AS (
    SELECT label, (t.i - 1)::INT AS dim,
           floor(avg(v[t.i]) * 1000000.0 + 0.5) / 1000000.0 AS c
    FROM el, unnest(range(1, len(v) + 1)) AS t(i)
    GROUP BY label, t.i
),
cent AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent0 GROUP BY label),
dists AS (
    SELECT e.vec_id, e.v, cent.label,
           (list_inner_product(e.v, e.v)
            - 2 * list_inner_product(e.v, cent.cv)
            + list_inner_product(cent.cv, cent.cv)) AS d2
    FROM e CROSS JOIN cent
),
probes AS MATERIALIZED (
    SELECT vec_id, v, label AS cell, rn AS probe FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
        FROM dists
    ) WHERE rn <= 2
),
scored AS MATERIALIZED (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {cos} AS cos_raw
    FROM probes q JOIN probes c
      ON q.cell = c.cell AND c.probe = 1 AND q.vec_id < 10 AND q.vec_id <> c.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_raw DESC, neighbor_id)::BIGINT AS rank,
           floor(cos_raw * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM scored
)
SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 3
""".format(cos=_COS_SQL.format(a="q.v", b="c.v"))


@register("sim5_ivf_nprobe2", SIM5_SQL, survey_ref="north-star ANN: IVF nprobe=2 recall dial")
def sim5_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_assign_probes, ivf_topk_nprobe

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    el = embeddings.select("label", F.col("embedding").cast("array<double>").alias("v"))
    cent_arr = (
        label_centroids(el)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("dim", dround(F.col("centroid"), 6).alias("c"))
                    )
                ),
                lambda s: s.getField("c"),
            ).alias("cv")
        )
    )
    probes = ivf_assign_probes(e, cent_arr, nprobe=2)
    out = ivf_topk_nprobe(probes, F.col("id") < 10, k=3)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        dround(F.col("cos_raw"), 6).alias("cos_sim"),
    )


# --- SIM6: int8 embedding quantization -------------------------------------
# Scalar symmetric int8 quantization — the storage/ANN compression pass:
# per-vector scale = max|x|/127, q_i = round(x_i/scale) clamped to
# [-127,127], plus the reconstruction MSE.  Entirely map-side HOF
# arithmetic (transform/aggregate): a 100 TB quantization job is a pure
# scan with zero shuffle.  The MSE is expanded as
# (v·v − 2·v·dv + dv·dv)/d with the SAME inner-product association in
# both engines so the doubles agree bit-for-bit before rounding.
SIM6_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
    SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
    FROM e WHERE list_max(list_transform(v, x -> abs(x))) > 0
),
q AS (
    SELECT vec_id, v, scale,
           list_transform(v, x ->
               greatest(least(floor(x / scale + 0.5), 127.0), -127.0) * scale)
               AS dv,
           list_transform(v, x ->
               greatest(least(floor(x / scale + 0.5), 127.0), -127.0)) AS qv
    FROM s
)
SELECT vec_id,
       floor(scale * 1000000000.0 + 0.5) / 1000000000.0 AS scale,
       floor(((list_inner_product(v, v) - 2 * list_inner_product(v, dv)
               + list_inner_product(dv, dv)) / len(v))
             * 1000000000.0 + 0.5) / 1000000000.0 AS mse,
       list_max(qv)::INT AS max_q,
       list_min(qv)::INT AS min_q
FROM q
"""


@register("sim6_embedding_quantize", SIM6_SQL, survey_ref="north-star ANN: int8 scalar quantization + reconstruction error")
def sim6_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    s = embeddings.select(
        "vec_id", v.alias("v"), (amax / 127.0).alias("scale")
    ).where(amax > 0)
    qexpr = lambda x: F.greatest(  # noqa: E731
        F.least(F.floor(x / F.col("scale") + 0.5), F.lit(127.0)), F.lit(-127.0)
    )
    q = s.select(
        "vec_id",
        "v",
        "scale",
        F.transform("v", lambda x: qexpr(x) * F.col("scale")).alias("dv"),
        F.transform("v", qexpr).alias("qv"),
    )
    mse = (
        dot(F.col("v"), F.col("v"))
        - 2 * dot(F.col("v"), F.col("dv"))
        + dot(F.col("dv"), F.col("dv"))
    ) / F.size("v")
    return q.select(
        "vec_id",
        dround(F.col("scale"), 9).alias("scale"),
        dround(mse, 9).alias("mse"),
        F.array_max("qv").cast("int").alias("max_q"),
        F.array_min("qv").cast("int").alias("min_q"),
    )


# --- SIM7: metadata-prefiltered ANN ----------------------------------------
# Filtered vector search: top-k cosine neighbors restricted to corpus
# vectors whose document metadata passes a predicate (here lang = 'en').
# Pre-filter beats post-filter at scale: the predicate prunes the corpus
# *before* any distance computation (a semi-join on the id key — at
# 100 TB both sides co-partition on the same key, one shuffle each or
# zero if bucketed), so distances are computed only on qualifying rows,
# and top-k cannot come back short the way post-filtering k' > k can.
SIM7_SQL = f"""
WITH en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    WHERE vec_id IN (SELECT doc_id FROM en)
),
q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
scored AS MATERIALIZED (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_COS_SQL.format(a="q.v", b="c.v")} AS cos_raw
    FROM q JOIN e c ON q.vec_id <> c.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_raw DESC, neighbor_id)::BIGINT AS rank,
           floor(cos_raw * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM scored
)
SELECT query_id, neighbor_id, rank, cos_sim FROM ranked WHERE rank <= 5
"""


@register("sim7_filtered_ann", SIM7_SQL, survey_ref="north-star ANN: metadata-prefiltered top-k")
def sim7_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    embeddings, documents = tables(spark, sf_dir, "embeddings", "documents")
    en = documents.where(F.col("lang") == "en").select("doc_id")
    corpus = (
        embeddings.join(en, embeddings.vec_id == en.doc_id, "semi")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    queries = embeddings.where(F.col("vec_id") < 10).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    out = cosine_topk(queries, corpus, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("long").alias("rank"),
        dround(F.col("cos_sim"), 6).alias("cos_sim"),
    )


# --- SIM8: distributed k-means refinement (Lloyd iterations) ---------------
# The learned coarse quantizer the IVF family (sim3-sim5) plugs into:
# two Lloyd iterations from a deterministic seed (the first K corpus
# vectors), each iteration = assign (broadcast centroids, d² in the
# shared expanded form) + per-cell mean (posexplode two-phase avg).
# Per-iteration centroids are floor-rounded to 6 decimals in BOTH
# engines, so the iteration trajectories stay in lockstep and the final
# quantizer is hash-comparable.  The Spark loop is plan composition,
# not driver iteration: 2 shuffles total, centroid frames stay
# broadcast-sized — k-means over 100 TB is ITERS passes over the
# corpus, never corpus² work.
_SIM8_K, _SIM8_ITERS = 8, 2


def _sim8_cent_arrays(cent0: DataFrame) -> DataFrame:
    """(label, dim, c) → (label, cv array) in dim order."""
    return cent0.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", F.col("c")))),
            lambda s: s.getField("c"),
        ).alias("cv")
    )


_SIM8_D2 = (
    "(list_inner_product(e.v, e.v) - 2 * list_inner_product(e.v, c.cv)"
    " + list_inner_product(c.cv, c.cv))"
)


def _sim8_iter_sql(i: int, prev: str) -> str:
    return f"""
d{i} AS (
    SELECT e.vec_id, e.v, c.label, {_SIM8_D2} AS d2
    FROM e CROSS JOIN {prev} c
),
a{i} AS (
    SELECT vec_id, v, label AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, label) AS rn
        FROM d{i}
    ) WHERE rn = 1
),
cent{i}0 AS (
    SELECT cell AS label, (t.i - 1)::INT AS dim,
           floor(avg(v[t.i]) * 1000000.0 + 0.5) / 1000000.0 AS c
    FROM a{i}, unnest(range(1, len(v) + 1)) AS t(i)
    GROUP BY cell, t.i
),
cent{i} AS (SELECT label, list(c ORDER BY dim) AS cv FROM cent{i}0 GROUP BY label)"""


SIM8_SQL = (
    f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent0 AS (SELECT vec_id AS label, v AS cv FROM e WHERE vec_id < {_SIM8_K}),"""
    + ",".join(
        _sim8_iter_sql(i, f"cent{i - 1}" if i > 1 else "cent0")
        for i in range(1, _SIM8_ITERS + 1)
    )
    + f"""
SELECT label AS cell, dim, c AS centroid FROM cent{_SIM8_ITERS}0
"""
)


@register("sim8_kmeans_refine", SIM8_SQL, survey_ref="north-star ANN: learned IVF quantizer (distributed Lloyd iterations)")
def sim8_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_assign

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cent = e.where(F.col("vec_id") < _SIM8_K).select(
        F.col("vec_id").alias("label"), F.col("v").alias("cv")
    )
    cent0 = None
    for _ in range(_SIM8_ITERS):
        assigned = ivf_assign(e, cent)
        exploded = assigned.select(
            F.col("cell").alias("label"), F.posexplode("v").alias("dim", "x")
        )
        cent0 = exploded.groupBy("label", "dim").agg(
            dround(F.avg("x"), 6).alias("c")
        )
        cent = _sim8_cent_arrays(cent0)
    return cent0.select(
        F.col("label").alias("cell"), F.col("dim").cast("int").alias("dim"),
        F.col("c").alias("centroid"),
    )


# --- SIM9: two-stage quantized rerank --------------------------------------
# The production ANN serving shape sim6's quantization exists for:
# stage 1 scores EVERY candidate with the int8 codes (4x less memory
# bandwidth than float32; exact BIGINT dot products, so the coarse
# ranking is bit-identical across engines and reduction orders) and
# keeps the top-25 per query; stage 2 re-scores ONLY those 25 with
# exact float cosine and emits the top-5.  At 100 TB the float vectors
# are touched for 25 rows per query instead of the whole corpus — the
# scan is over the int8 sidecar column.  Query side (10 vectors) is
# broadcast; candidate rerank is an equi-join on neighbor_id.  The
# int8 dots are integers < 2^30, exact in either engine's double or
# BIGINT accumulator, so stage-1 candidate sets agree exactly; stage-2
# rounds the cosine to 6 decimals under the measure-zero rule.
SIM9_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
    SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
    FROM e WHERE list_max(list_transform(v, x -> abs(x))) > 0
),
q8 AS (
    SELECT vec_id, v,
           list_transform(v, x ->
               greatest(least(floor(x / scale + 0.5), 127.0), -127.0)) AS qv
    FROM s
),
coarse AS MATERIALIZED (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_inner_product(q.qv, c.qv)::BIGINT AS coarse_dot
    FROM q8 q JOIN q8 c ON q.vec_id < 10 AND q.vec_id <> c.vec_id
),
cand AS (
    SELECT query_id, neighbor_id, coarse_dot FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY coarse_dot DESC, neighbor_id) AS crn
        FROM coarse
    ) WHERE crn <= 25
),
rerank AS (
    SELECT cand.query_id, cand.neighbor_id, cand.coarse_dot,
           {_COS_SQL.format(a="qe.v", b="ce.v")} AS cos_raw
    FROM cand
    JOIN e qe ON qe.vec_id = cand.query_id
    JOIN e ce ON ce.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, rank, coarse_dot, cos_sim FROM (
    SELECT query_id, neighbor_id, coarse_dot,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_raw DESC, neighbor_id)::BIGINT AS rank,
           floor(cos_raw * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM rerank
) WHERE rank <= 5
"""


@register("sim9_quantized_rerank", SIM9_SQL, survey_ref="beyond reference: int8-coarse + float-rerank ANN serving")
def sim9_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    amax = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    scale = (amax / 127.0).alias("scale")
    s = e.select("vec_id", "v", scale).where(amax > 0)
    qv = F.transform(
        F.col("v"),
        lambda x: F.greatest(
            F.least(F.floor(x / F.col("scale") + 0.5), F.lit(127.0)),
            F.lit(-127.0),
        ),
    )
    # int8 codes as doubles: every dot term is an integer < 2^30, exact.
    q8 = s.select("vec_id", "v", qv.alias("qv"))
    queries = q8.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv")
    )
    coarse = (
        F.broadcast(queries)
        .crossJoin(q8.select(F.col("vec_id").alias("neighbor_id"), "qv"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("q_qv"), F.col("qv")).cast("long").alias("coarse_dot"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("coarse_dot").desc(), F.col("neighbor_id")
    )
    cand = (
        coarse.withColumn("crn", F.row_number().over(wc))
        .where(F.col("crn") <= 25)
        .drop("crn")
    )
    qe = e.select(F.col("vec_id").alias("query_id"), F.col("v").alias("q_v"))
    ce = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("c_v"))
    rerank = (
        cand.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "coarse_dot",
            cosine(F.col("q_v"), F.col("c_v")).alias("cos_raw"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id")
    )
    return (
        rerank.withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            "coarse_dot",
            dround(F.col("cos_raw"), 6).alias("cos_sim"),
        )
    )


# --- SIM10: product quantization + ADC top-k --------------------------------
# The memory-bound ANN scale path: at 100 TB the corpus' 64 doubles/row
# cannot live in RAM, but 4 one-byte codes can (128× compression).  The
# operator has the three classic stages, each broadcast-shaped:
#   1. codebook — M=4 subspaces × K=4 centroids (deterministic init from
#      the table itself: centroid j of subspace m = vec_id j's m-th
#      16-dim slice), a 16-row broadcast frame;
#   2. encode — one corpus scan × broadcast codebook, argmin L2² per
#      subspace, pivoted to a wide (code0..code3) codes table;
#   3. ADC search — per query a 16-entry distance lookup table (query
#      slice vs every centroid), joined onto the codes by 4 broadcast
#      equi-joins; the approximate distance is the fixed-order sum
#      d0+d1+d2+d3, so it is bit-identical across engines.
# Ranking happens on raw doubles with id tie-breaks (the sim1
# precedent); brute-force over CODES is the point — compute per row
# drops from 64 mul-adds to 4 lookups.  Combine with sim5's IVF cells
# to also cut the scanned row count.
_PQ_M, _PQ_K, _PQ_SUB = 4, 4, 16
_PQ_L2 = (
    "((list_inner_product({a}, {a})"
    " - (2 * list_inner_product({a}, {b})))"
    " + list_inner_product({b}, {b}))"
)


SIM10_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
codebook AS (
    SELECT e.vec_id::BIGINT AS j, m.m,
           list_slice(e.v, m.m * {_PQ_SUB} + 1, (m.m + 1) * {_PQ_SUB}) AS c
    FROM e, (SELECT unnest(range({_PQ_M})) AS m) m
    WHERE e.vec_id < {_PQ_K}
),
enc AS (
    SELECT x.vec_id, cb.m, cb.j,
           row_number() OVER (
               PARTITION BY x.vec_id, cb.m
               ORDER BY {_PQ_L2.format(a='list_slice(x.v, cb.m * ' + str(_PQ_SUB) + ' + 1, (cb.m + 1) * ' + str(_PQ_SUB) + ')', b='cb.c')}, cb.j
           ) AS rn
    FROM e x CROSS JOIN codebook cb
),
codes AS (
    SELECT vec_id,
           max(CASE WHEN m = 0 THEN j END) AS code0,
           max(CASE WHEN m = 1 THEN j END) AS code1,
           max(CASE WHEN m = 2 THEN j END) AS code2,
           max(CASE WHEN m = 3 THEN j END) AS code3
    FROM enc WHERE rn = 1 GROUP BY vec_id
),
lut AS MATERIALIZED (
    SELECT q.vec_id AS query_id, cb.m, cb.j,
           {_PQ_L2.format(a='list_slice(q.v, cb.m * ' + str(_PQ_SUB) + ' + 1, (cb.m + 1) * ' + str(_PQ_SUB) + ')', b='cb.c')} AS d
    FROM e q CROSS JOIN codebook cb
    WHERE q.vec_id < 10
),
adc AS MATERIALIZED (
    SELECT l0.query_id, c.vec_id AS neighbor_id,
           ((l0.d + l1.d) + (l2.d + l3.d)) AS dist
    FROM codes c
    JOIN lut l0 ON l0.m = 0 AND l0.j = c.code0
    JOIN lut l1 ON l1.m = 1 AND l1.j = c.code1 AND l1.query_id = l0.query_id
    JOIN lut l2 ON l2.m = 2 AND l2.j = c.code2 AND l2.query_id = l0.query_id
    JOIN lut l3 ON l3.m = 3 AND l3.j = c.code3 AND l3.query_id = l0.query_id
    WHERE c.vec_id <> l0.query_id
)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY dist, neighbor_id)::BIGINT AS rank,
       floor(dist * 1000000.0 + 0.5) / 1000000.0 AS adc_dist
FROM adc
QUALIFY rank <= 5
"""


def _pq_l2(a, b):
    return (dot(a, a) - (2 * dot(a, b))) + dot(b, b)


@register("sim10_pq_adc", SIM10_SQL, survey_ref="beyond reference: product quantization + ADC lookup search (memory-bound ANN scale path)")
def sim10_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))

    def sub(col, m):
        return F.slice(col, m * _PQ_SUB + 1, _PQ_SUB)

    ms = F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)])).alias("m")
    codebook = (
        e.where(F.col("vec_id") < _PQ_K)
        .select(F.col("vec_id").alias("j"), "v", ms)
        .select("j", "m", F.slice("v", F.col("m") * _PQ_SUB + 1, F.lit(_PQ_SUB)).alias("c"))
    )
    # r19 (guide §2.4, the sim4 quantizer-collapse precedent): the old
    # encoding exploded the corpus ×(M·K) against the broadcast codebook
    # — FULL 64-dim vectors included — and shuffled that frame through a
    # per-(vec_id, m) row_number window plus a pivot groupBy just to take
    # the per-subspace argmin.  The codebook is bounded (M·K = 16 rows by
    # construction), so collapse it to ONE sorted array<struct<m, j, c>>
    # row, broadcast it, and take each subspace's argmin per row as
    # array_min over (d, j) structs: lexicographic struct-min IS the old
    # ORDER BY d, j selection, and the d expression tree is unchanged —
    # every double agrees bit-for-bit.  Encoding is now map-only: zero
    # exchange, zero window over anything corpus-sized.
    # bounded (ONE row) multiply-consumed frame — localCheckpoint per the
    # tx6/sim12 doctrine so the two broadcast builds below don't each
    # re-derive the scan→explode→collapse chain
    cb_one = codebook.agg(
        F.array_sort(F.collect_list(F.struct("m", "j", "c"))).alias("__cb")
    ).localCheckpoint()

    def sub_d(s):
        # identical _pq_l2 tree over the same slice as the old enc/lut
        return _pq_l2(
            F.slice("v", s["m"] * _PQ_SUB + 1, F.lit(_PQ_SUB)), s["c"]
        )

    def code_at(m: int):
        cands = F.filter(F.col("__cb"), lambda s: s["m"] == F.lit(m))
        return F.array_min(
            F.transform(cands, lambda s: F.struct(sub_d(s).alias("d"), s["j"].alias("j")))
        )["j"]

    codes = (
        e.crossJoin(F.broadcast(cb_one))
        # empty codebook → zero rows (the old exploded form's contract).
        # Guarded on the cheap array size BEFORE the argmin projection:
        # a `code0.isNotNull()` guard gets pushed into the BNLJ join
        # condition and re-evaluates the interpreted HOF argmin per row
        # (the ivf_assign duplicate-evaluation lesson, r19).
        .where(F.size(F.col("__cb")) > 0)
        .select(
            "vec_id", *[code_at(m).alias(f"code{m}") for m in range(_PQ_M)]
        )
    )
    # Query-side ADC lookup tables (queries bounded at 10 by
    # construction): one 16-entry distance array per query, indexed by
    # m·K + j (__cb is array_sorted by (m, j), so position IS that
    # index).  The old form materialized a 160-row LUT frame and
    # re-attached it with FOUR broadcast hash joins; one bounded
    # 10-row broadcast + element_at lookups computes the same doubles
    # (identical _pq_l2 tree) with a single join.
    qlut = (
        e.where(F.col("vec_id") < 10)
        .crossJoin(F.broadcast(cb_one))
        .select(
            F.col("vec_id").alias("query_id"),
            F.transform(F.col("__cb"), sub_d).alias("__lut"),
        )
    )
    adc = codes.crossJoin(F.broadcast(qlut))
    dm = [
        F.element_at(
            "__lut", (F.lit(m * _PQ_K) + F.col(f"code{m}") + 1).cast("int")
        )
        for m in range(_PQ_M)
    ]
    dist = (dm[0] + dm[1]) + (dm[2] + dm[3])
    scored = adc.where(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dist.alias("dist"),
    )
    wr = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", dround(F.col("dist"), 6).alias("adc_dist"))
    )


# --- SIM11: maximum inner-product search via norm augmentation --------------
# Recommendation/retrieval scoring wants argmax ⟨q, x⟩, not cosine — and
# MIPS is not an LSH-able metric directly (inner product violates the
# triangle inequality).  The published reduction (Shrivastava & Li,
# NeurIPS'14; Neyshabur & Srebro, ICML'15): append one coordinate,
#   x' = [x / M, sqrt(1 − |x|²/M²)]   (M = max corpus norm ⇒ |x'| = 1)
#   q' = [q, 0]
# then cos(q', x') = ⟨q, x⟩ / (M·|q|) — cosine order over the augmented
# vectors IS inner-product order, so the ENTIRE cosine ANN stack
# (sim1/sim2/sim4's machinery) serves MIPS unchanged.  The Spark side
# genuinely routes through the augmentation + cosine_topk; the oracle
# ranks by raw list_inner_product — a mismatch anywhere means the
# reduction (or its max-norm scaling) broke.  Scale: one extra corpus
# pass for M (1-row broadcast); augmentation is a shuffle-free
# projection.  Final scores are re-derived as exact dots of the
# ORIGINAL vectors (not back-scaled cosines), rounded once.
SIM11_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS MATERIALIZED (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_inner_product(q.v, c.v) AS dot_raw
    FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id <> c.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot_raw DESC, neighbor_id)::BIGINT AS rank,
           floor(dot_raw * 1000000.0 + 0.5) / 1000000.0 AS dot_product
    FROM scored
)
SELECT query_id, neighbor_id, rank, dot_product FROM ranked WHERE rank <= 5
"""


@register("sim11_mips_topk", SIM11_SQL, survey_ref="north-star ANN: MIPS via norm-augmentation reduction to cosine (Shrivastava-Li / Neyshabur-Srebro)")
def sim11_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    nsq = e.select("vec_id", "v", dot(F.col("v"), F.col("v")).alias("nsq"))
    msq = nsq.agg(F.max("nsq").alias("msq"))
    aug = nsq.crossJoin(F.broadcast(msq)).select(
        "vec_id",
        "v",
        F.concat(
            F.transform(F.col("v"), lambda x: x / F.sqrt("msq")),
            F.array(
                F.sqrt(F.greatest(F.lit(0.0), 1 - F.col("nsq") / F.col("msq")))
            ),
        ).alias("va"),
    )
    qaug = aug.where(F.col("vec_id") < 5).select(
        "vec_id", F.concat(F.col("v"), F.array(F.lit(0.0))).alias("va")
    )
    top = cosine_topk(qaug, aug.select("vec_id", "va"), k=5, vec_col="va")
    # exact dot of the ORIGINAL vectors for the emitted score
    qv = e.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    cv = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    return (
        top.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            dround(dot(F.col("qv"), F.col("cv")), 6).alias("dot_product"),
        )
    )


# --- SIM12: approximate kNN-graph construction ------------------------------
# The batch artifact semantic-dedup and clustering pipelines consume
# (SemDeDup-style): for EVERY corpus vector, its top-3 neighbors among
# its sign-LSH candidates — a kNN edge list, not a per-query search.
# Candidate generation reuses dd5's banded machinery (equi-join on
# (band, signature), linear in corpus size, never all-pairs);
# symmetrized candidates then rank per source node.  At 100 TB: one
# signature shuffle + one candidate join + a per-node top-k window —
# every stage keyed and balanced; graph consumers (dd13's star
# contraction) take the edge list as-is.  Nodes whose buckets hold no
# other vector emit no edges (documented ANN recall trade-off — the
# oracle agrees exactly because it replays the same bands).
# sim12 uses a LONGER signature than dd5: 8 bands × 8 rows instead of
# 4 × 4.  4-bit bands collide for ~(1/2)^4 of RANDOM vector pairs per
# band — ~23% of ALL pairs become candidates (measured: 462k pairs from
# 2k vectors), which is morally quadratic at corpus scale.  8-bit bands
# cut the random-collision mass to ~8·(1/2)^8 ≈ 3% while 8 bands keep
# near-dup recall high (S-curve: 1-(1-(1-θ/π)^8)^8 — see dd15's
# parameter-sweep tooling for the framing).  dd5 keeps 4×4: its 0.95
# cosine threshold prunes after verification and its driver rows stand.
_SIM12_BANDS, _SIM12_ROWS = 8, 8


SIM12_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
coded AS (
    {sign_lsh_coded_sql("vec_id", "e", 64, _SIM12_BANDS, _SIM12_ROWS)}
),
cand AS (
    SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
    FROM coded a JOIN coded b
      ON a.band = b.band AND a.sig = b.sig AND a.vec_id <> b.vec_id
),
scored AS MATERIALIZED (
    SELECT c.src, c.dst,
           floor((list_inner_product(ea.v, eb.v)
                  / sqrt(list_inner_product(ea.v, ea.v)
                         * list_inner_product(eb.v, eb.v)))
                 * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM cand c
    JOIN e ea ON ea.vec_id = c.src
    JOIN e eb ON eb.vec_id = c.dst
),
ranked AS (
    SELECT src, dst, cos_sim,
           row_number() OVER (PARTITION BY src
                              ORDER BY cos_sim DESC, dst)::INT AS rank
    FROM scored
)
SELECT src, dst, rank, cos_sim FROM ranked WHERE rank <= 3
"""


@register("sim12_knn_graph", SIM12_SQL, survey_ref="north-star ANN: approximate kNN-graph construction (SemDeDup-style edge list; dd5's banded candidates + per-node top-k)")
def sim12_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import embedding_lsh_pairs

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    # Same fan_out as dd5/sim2: the 16-plane signature projection and the
    # norm precompute are expensive narrow stages that a single-row-group
    # source serializes onto one task (no-op at scale: splits >= cores;
    # band/pair keys drive everything downstream, partitioning-invariant).
    e = fan_out(
        embeddings.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    # The pair frame feeds BOTH branches of the symmetric union below;
    # without materialization each branch re-runs the candidate join AND
    # the exact-cosine verify (profiled: 8 parquet scans, zero
    # ReusedExchange, ~2x cold wall).  Checkpoint once — bit-identical
    # at all 3 SFs.
    pairs = embedding_lsh_pairs(
        e, dim=64, bands=_SIM12_BANDS, rows_per_band=_SIM12_ROWS, threshold=-1.0
    ).localCheckpoint()
    sym = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"), "cos_sim"
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"), "cos_sim"
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), "dst")
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("src", "dst", "rank", "cos_sim")
    )


# --- SIM13: symmetric per-dim int8 quantization fidelity ---------------------
# The standard ANN index compression: per-dimension symmetric int8 with
# scale s_d = max|x_d| over the corpus, q = round_half_up(x·127/s) in
# [-127, 127], reconstruction r = q·s/127.  Reports per-vector
# reconstruction MSE, cosine(x, r), and saturation count — the fidelity
# sheet an ANN deployment reads before switching the index to int8.
# Determinism: every per-dim float term (squared error, x·r, x·x, r·r)
# is floored onto the 1e-12 integer grid INSIDE the array fold, so the
# per-vector sums are exact BIGINTs (quantized-sum rule); MSE and cosine
# are then short identical chains on exact ints (two divisions; one
# sqrt of a product of exact-int doubles), dround'd far from any
# boundary.  Scale shape: the per-dim scale vector is a 64-row agg from
# one narrow posexplode pass, collapsed to ONE row and broadcast (the
# allowlisted 1-row-broadcast BNLJ frame); the corpus side then runs
# zip_with/aggregate entirely inside the row — no explode of the fat
# side, no shuffle besides the final nothing (output is per-vector).
# (Distinct from sim6_embedding_quantize's per-VECTOR scale, which needs
# no corpus pass and can't saturate — sim13 is the shared-codebook
# calibration step.)
SIM13_SQL = r"""
WITH e AS (
    SELECT vec_id, label::BIGINT AS label, i::INTEGER AS dim,
           embedding[i::INTEGER + 1]::DOUBLE AS x,
           len(embedding)::BIGINT AS d
    FROM embeddings, unnest(range(len(embedding))) t(i)
),
s AS (
    SELECT dim, max(abs(x)) AS s FROM e GROUP BY dim
),
q AS (
    SELECT e.vec_id, e.label, e.d, e.x, s.s,
           CASE WHEN s.s > 0
                THEN least(127::BIGINT, greatest((-127)::BIGINT,
                           floor(e.x * 127.0 / s.s + 0.5)::BIGINT))
                ELSE 0::BIGINT END AS qv
    FROM e JOIN s USING (dim)
),
r AS (
    SELECT vec_id, label, d, x, qv, qv * s / 127.0 AS rx FROM q
),
p AS (
    SELECT vec_id, label, d,
           floor((x - rx) * (x - rx) * 1000000000000.0 + 0.5)::BIGINT AS e2p,
           floor(x * rx * 1000000000000.0 + 0.5)::BIGINT AS xrp,
           floor(x * x * 1000000000000.0 + 0.5)::BIGINT AS xxp,
           floor(rx * rx * 1000000000000.0 + 0.5)::BIGINT AS rrp,
           CASE WHEN abs(qv) = 127 THEN 1 ELSE 0 END AS sat
    FROM r
),
g AS (
    SELECT vec_id, label, max(d) AS n_dims,
           sum(e2p)::BIGINT AS se2, sum(xrp)::BIGINT AS sxr,
           sum(xxp)::BIGINT AS sxx, sum(rrp)::BIGINT AS srr,
           sum(sat)::BIGINT AS n_saturated
    FROM p GROUP BY vec_id, label
)
SELECT vec_id, label, n_dims::BIGINT AS n_dims, n_saturated,
       {mse} AS mse_q,
       {cos} AS cos_sim_q
FROM g
""".format(
    mse=dround_sql("se2 * 1.0 / 1000000000000.0 / n_dims", 12),
    cos=dround_sql("sxr / sqrt(sxx::DOUBLE * srr::DOUBLE)", 6),
)

_SIM13_QARR = """
zip_with(embedding, scales, (x, s) ->
    CASE WHEN s > 0D
         THEN least(127L, greatest(-127L,
              cast(floor(cast(x as double) * 127.0D / s + 0.5D) as bigint)))
         ELSE 0L END)
"""

# each lambda floors its term onto the 1e-12 grid, then folds with an
# exact BIGINT accumulator — the quantized-sum rule inside one array op
_SIM13_FOLDS = {
    "se2": (
        "aggregate(zip_with(embedding, rxarr, (x, r) -> "
        "cast(floor((cast(x as double) - r) * (cast(x as double) - r)"
        " * 1000000000000.0D + 0.5D) as bigint)), 0L, (a, v) -> a + v)"
    ),
    "sxr": (
        "aggregate(zip_with(embedding, rxarr, (x, r) -> "
        "cast(floor(cast(x as double) * r * 1000000000000.0D + 0.5D) as bigint)),"
        " 0L, (a, v) -> a + v)"
    ),
    "sxx": (
        "aggregate(transform(embedding, x -> "
        "cast(floor(cast(x as double) * cast(x as double) * 1000000000000.0D"
        " + 0.5D) as bigint)), 0L, (a, v) -> a + v)"
    ),
    "srr": (
        "aggregate(transform(rxarr, r -> "
        "cast(floor(r * r * 1000000000000.0D + 0.5D) as bigint)),"
        " 0L, (a, v) -> a + v)"
    ),
}


@register(
    "sim13_int8_quant_error",
    SIM13_SQL,
    survey_ref="beyond reference: per-dim symmetric int8 embedding "
    "quantization — reconstruction MSE, cosine fidelity, saturation; "
    "zip_with/aggregate, corpus never exploded or joined fat",
)
def sim13_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    # pass 1 (narrow + 64-row agg): per-dimension max|x| scale vector
    dims = embeddings.select(
        F.posexplode("embedding").alias("dim", "xf")
    ).select("dim", F.abs(F.col("xf").cast("double")).alias("ax"))
    s_rows = dims.groupBy("dim").agg(F.max("ax").alias("s"))
    scale_row = s_rows.agg(
        F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("ss")
    ).select(F.expr("transform(ss, x -> x.s)").alias("scales"))
    # pass 2: all per-vector math inside array higher-order functions
    j = embeddings.crossJoin(F.broadcast(scale_row))  # 1-row broadcast side:
    # the allowlisted bounded-frame BNLJ shape, not a data-sized cartesian
    q = j.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.size("embedding").cast("long").alias("n_dims"),
        "embedding",
        F.expr(_SIM13_QARR).alias("qarr"),
        "scales",
    ).select(
        "vec_id",
        "label",
        "n_dims",
        "embedding",
        "qarr",
        F.expr(
            "zip_with(qarr, scales, (q, s) -> cast(q as double) * s / 127.0D)"
        ).alias("rxarr"),
    )
    g = q.select(
        "vec_id",
        "label",
        "n_dims",
        F.expr("cast(size(filter(qarr, q -> abs(q) = 127L)) as bigint)").alias(
            "n_saturated"
        ),
        *[F.expr(sql).alias(k) for k, sql in _SIM13_FOLDS.items()],
    )
    return g.select(
        "vec_id",
        "label",
        "n_dims",
        "n_saturated",
        dround(
            F.col("se2") * F.lit(1.0) / F.lit(1000000000000.0) / F.col("n_dims"), 12
        ).alias("mse_q"),
        dround(
            F.col("sxr")
            / F.sqrt(F.col("sxx").cast("double") * F.col("srr").cast("double")),
            6,
        ).alias("cos_sim_q"),
    )
