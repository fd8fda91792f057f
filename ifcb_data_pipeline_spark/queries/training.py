"""tp1: the composed training-corpus pipeline (flagship for the
LLM-data-pipeline family, the way ``p1_shark_export`` is for the IFCB
side).

Chains the individually-verified stages end to end over the augmented
corpus (``dedup.CORPUS_SQL`` convention — the raw sf tables carry no
duplicates, so every 25th doc gets a deterministic truncated copy):

  1. language gate   — keep labeled-``lang`` 'en' rows (metadata travels
                       with the document; the marker heuristic is its own
                       query, ``tx3``);
  2. quality gate    — token count ≥ 20 and stopword ratio ≥ 0.02
                       (thresholds calibrated to the synthetic corpus so
                       the gate is genuinely selective);
  3. near-dup removal— head-fingerprint (md5 of the first 8 tokens)
                       collapses each truncated copy onto its source;
                       min-doc-id survivor per fingerprint group;
  4. split           — deterministic md5-hash 90/10 train/eval.

Scale shape: stages 1-2 are a single JVM projection pass (no shuffle);
stage 3 is one hash-partitioned groupBy + equi-join on the fingerprint
(the canonical two-phase dedup from ``operators.dedup.exact_dedup``);
stage 4 is shuffle-free.  One shuffle total over a 100 TB corpus, on a
key (md5 prefix) that is uniform by construction — no skew, no
broadcast of anything fact-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import STOPWORDS
from . import register
from ._util import HASH32_SQL, dround, hash32, sign_lsh_coded_sql, tables
from .dedup import variant_offset

_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)

TP1_SQL = f"""
WITH m AS (SELECT greatest(10000, max(doc_id) + 1) AS m FROM documents),
corpus AS (
    SELECT doc_id AS doc, lang, lower(text) AS text FROM documents
    UNION ALL
    SELECT doc_id + m.m, lang,
           array_to_string(string_split(lower(text), ' ')[1:greatest(1,
               (len(string_split(lower(text), ' ')) * 7) // 10)], ' ')
    FROM documents, m WHERE doc_id % 25 = 0
),
scored AS (
    SELECT doc, lang, text,
           len(string_split(text, ' '))::INT AS n_tok,
           len(list_filter(string_split(text, ' '),
                           x -> x IN ({_STOP_LIST}))) * 1.0
               / len(string_split(text, ' ')) AS stop_ratio
    FROM corpus
),
gated AS (
    SELECT * FROM scored
    WHERE lang = 'en' AND n_tok >= 20 AND stop_ratio >= 0.02
),
fp AS (
    SELECT doc, n_tok, stop_ratio,
           md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp_head
    FROM gated
),
canon AS (
    SELECT fp_head, min(doc) AS canonical, count(*)::BIGINT AS n_copies
    FROM fp GROUP BY fp_head
)
SELECT doc, n_tok,
       floor(stop_ratio * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
       n_copies,
       CASE WHEN {HASH32_SQL.format(x="doc::VARCHAR")} % 100 < 90
            THEN 'train' ELSE 'eval' END AS split
FROM fp JOIN canon USING (fp_head)
WHERE doc = canonical
"""


@register(
    "tp1_training_corpus",
    TP1_SQL,
    survey_ref="north-star: composed clean->dedup->split training pipeline",
)
def tp1_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")

    base = documents.select(
        F.col("doc_id").alias("doc"), "lang", F.lower("text").alias("text")
    )
    w = F.split(F.lower(F.col("text")), " ")
    keep = F.greatest(F.floor(F.size(w) * 7 / 10).cast("int"), F.lit(1))
    mutated = documents.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + F.lit(variant_offset(spark, sf_dir))).alias("doc"),
        "lang",
        F.array_join(F.slice(w, 1, keep), " ").alias("text"),
    )
    corpus = base.unionByName(mutated)

    toks = F.split(F.col("text"), " ")
    scored = corpus.select(
        "doc",
        "lang",
        "text",
        F.size(toks).alias("n_tok"),
        (
            F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))) / F.size(toks)
        ).alias("stop_ratio"),
    )
    gated = scored.where(
        (F.col("lang") == "en")
        & (F.col("n_tok") >= 20)
        & (F.col("stop_ratio") >= 0.02)
    )
    fp = gated.select(
        "doc",
        "n_tok",
        "stop_ratio",
        F.md5(F.array_join(F.slice(F.split(F.col("text"), " "), 1, 8), " ")).alias(
            "fp_head"
        ),
    )
    # Survivor selection as a whole-partition window, not groupBy+join:
    # min/count over the fp_head partition need ONE shuffle of the gated
    # corpus; the join form would shuffle it twice (agg + join sides).
    wfp = Window.partitionBy("fp_head")
    return (
        fp.withColumn("canonical", F.min("doc").over(wfp))
        .withColumn("n_copies", F.count(F.lit(1)).over(wfp))
        .where(F.col("doc") == F.col("canonical"))
        .select(
            "doc",
            "n_tok",
            dround(F.col("stop_ratio"), 6).alias("stop_ratio"),
            "n_copies",
            F.when(hash32(F.col("doc").cast("string")) % 100 < 90, "train")
            .otherwise("eval")
            .alias("split"),
        )
    )


# --- TP2: multimodal training-corpus pipeline ------------------------------
# The embedding-side flagship: tp1 cleans TEXT with fingerprints; tp2
# builds a multimodal corpus where dedup runs on the EMBEDDING column —
# the modality-agnostic near-dup path a vision/audio corpus needs.
#
#   1. modality join   — documents ⋈ embeddings on the id key (at scale
#                        both sides co-partition on the key; locally AQE
#                        broadcasts the smaller);
#   2. near-dup removal— banded sign-LSH candidates (dd5's deterministic
#                        hyperplanes) + exact cosine ≥ 0.95 verify; the
#                        larger id of each duplicate pair is dropped.
#                        The sf corpus carries no natural near-dups, so
#                        every 10th doc gets a ×1.5-scaled copy —
#                        cosine-identical, hence guaranteed recall;
#   3. quality gate    — token count ≥ 10;
#   4. split           — deterministic md5-hash 80/20 train/eval.
#
# Scale shape: one equi-join (stage 1), one (band, sig) hash join over
# signatures that are map-side computed (stage 2 candidates), one
# anti-join on the deduped ids, and a shuffle-free gate+split pass.
# Nothing fact-sized is ever broadcast or all-paired.
TP2_SQL = f"""
WITH m AS (SELECT greatest(10000, max(doc_id) + 1) AS m FROM documents),
base AS (
    SELECT d.doc_id AS doc, d.lang, lower(d.text) AS text,
           e.embedding::DOUBLE[] AS v
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
),
corpus AS (
    SELECT * FROM base
    UNION ALL
    SELECT doc + m.m, lang, text, [x * 1.5 FOR x IN v]
    FROM base, m WHERE doc % 10 = 0
),
coded AS (
    {sign_lsh_coded_sql("doc", "corpus", 64, 4, 4)}
),
cand AS (
    SELECT DISTINCT a.doc AS da, b.doc AS db
    FROM coded a JOIN coded b
      ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc
),
dup AS MATERIALIZED (
    SELECT DISTINCT c.db AS doc
    FROM cand c
    JOIN corpus x ON x.doc = c.da
    JOIN corpus y ON y.doc = c.db
    WHERE floor((list_inner_product(x.v, y.v)
                 / sqrt(list_inner_product(x.v, x.v) * list_inner_product(y.v, y.v)))
                * 1000000.0 + 0.5) / 1000000.0 >= 0.95
),
kept AS (
    SELECT doc, lang, len(string_split(text, ' '))::INT AS n_tok
    FROM corpus WHERE doc NOT IN (SELECT doc FROM dup)
)
SELECT doc, lang, n_tok,
       CASE WHEN {HASH32_SQL.format(x="doc::VARCHAR")} % 100 < 80
            THEN 'train' ELSE 'eval' END AS split
FROM kept WHERE n_tok >= 10
"""


@register(
    "tp2_multimodal_corpus",
    TP2_SQL,
    survey_ref="north-star: composed multimodal corpus (modality join -> embedding LSH dedup -> gate -> split)",
)
def tp2_multimodal_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import embedding_lsh_pairs

    documents, embeddings = tables(spark, sf_dir, "documents", "embeddings")
    # n_tok is reduced BEFORE the checkpoint: the only downstream
    # consumer of text is the token gate, so the materialized corpus
    # carries a 4-byte int instead of the full document body — at 100 TB
    # that is the difference between checkpointing the corpus' metadata
    # (ids + 64-dim vectors) and checkpointing the corpus itself.  The
    # scaled variant reuses base's n_tok unchanged (same text).
    base = documents.join(
        embeddings, documents.doc_id == embeddings.vec_id
    ).select(
        F.col("doc_id").alias("doc"),
        "lang",
        F.size(F.split(F.lower("text"), " ")).alias("n_tok"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    scaled = base.where(F.col("doc") % 10 == 0).select(
        (F.col("doc") + F.lit(variant_offset(spark, sf_dir))).alias("doc"),
        "lang",
        "n_tok",
        F.transform("v", lambda x: x * 1.5).alias("v"),
    )
    # The corpus frame feeds five consumers (both coded sides + both
    # exact-verify sides of the LSH dedup, plus the anti-join left side);
    # without materialization each consumer re-derives the doc⋈emb join
    # from its own pair of parquet scans.  localCheckpoint computes the
    # stage once — the I3 stage-materialization pattern, and the same
    # call dd2 makes for its signature frame; its blocks are
    # context-cleaned when the returned plan is dropped.  (A/B round 16:
    # fan_out before this checkpoint measured SLOWER — the doc⋈emb join's
    # exchange already spreads the corpus, so the extra repartition only
    # added a shuffle.  Recorded so nobody retries it.)
    corpus = base.unionByName(scaled).localCheckpoint()
    pairs = embedding_lsh_pairs(
        corpus.select("doc", "v"),
        dim=64,
        bands=4,
        rows_per_band=4,
        threshold=0.95,
        id_col="doc",
        vec_col="v",
    )
    dup = pairs.select(F.col("vec_b").alias("doc")).dropDuplicates()
    kept = corpus.join(dup, "doc", "left_anti")
    return (
        kept.select(
            "doc",
            "lang",
            "n_tok",
            F.when(hash32(F.col("doc").cast("string")) % 100 < 80, "train")
            .otherwise("eval")
            .alias("split"),
        )
        .where(F.col("n_tok") >= 10)
    )


# --- TP3: incremental corpus refresh (flagship) ----------------------------
# The production answer to "a new crawl snapshot arrived" at 100 TB: do
# NOT re-clean the corpus.  The snapshot diff splits v2 into the
# carried majority and the delta (added + changed) — in production
# that classification is i8's id-partitioned hash-diff join; here the
# synthetic snapshot derivation knows the flag by construction, which
# keeps the oracle exact without changing the shape downstream of the
# flag.  Only the delta
# flows through the expensive cleaning gates (language, token floor,
# stopword-ratio HOF), while carried docs are passed through with their
# (deterministic-hash, hence stable) split assignment and zero
# recleaning cost.  At a daily ~1% churn this turns a corpus-sized
# cleaning job into a delta-sized one plus one join.  Snapshot v2 is
# derived like i8: every 30th doc dropped, every 25th rewritten, one
# fresh doc minted per dropped one.
TP3_SQL = f"""
WITH m AS (SELECT greatest(10000, max(doc_id) + 1) AS m FROM documents),
v2 AS (
    SELECT doc_id AS doc, lang,
           CASE WHEN doc_id % 25 = 0 THEN 'rewritten: ' || lower(text)
                ELSE lower(text) END AS text,
           (doc_id % 25 = 0) AS is_delta
    FROM documents WHERE doc_id % 30 <> 0
    UNION ALL
    SELECT doc_id + 3 * m.m, lang, 'fresh copy ' || lower(text), TRUE
    FROM documents, m WHERE doc_id % 30 = 0
),
carried AS (
    SELECT doc, len(string_split(text, ' '))::INT AS n_tok FROM v2
    WHERE NOT is_delta
),
delta_scored AS (
    SELECT doc, lang, len(string_split(text, ' '))::INT AS n_tok,
           len(list_filter(string_split(text, ' '),
                           x -> x IN ({_STOP_LIST}))) * 1.0
               / len(string_split(text, ' ')) AS stop_ratio
    FROM v2 WHERE is_delta
),
cleaned AS (
    SELECT doc, n_tok FROM delta_scored
    WHERE lang = 'en' AND n_tok >= 20 AND stop_ratio >= 0.02
)
SELECT doc, 'carried' AS status, n_tok,
       CASE WHEN {HASH32_SQL.format(x="doc::VARCHAR")} % 100 < 90
            THEN 'train' ELSE 'eval' END AS split
FROM carried
UNION ALL
SELECT doc, 'cleaned', n_tok,
       CASE WHEN {HASH32_SQL.format(x="doc::VARCHAR")} % 100 < 90
            THEN 'train' ELSE 'eval' END
FROM cleaned
"""


@register(
    "tp3_incremental_refresh",
    TP3_SQL,
    survey_ref="north-star: incremental corpus refresh — delta-only cleaning (i8 + tp1 composed)",
)
def tp3_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import STOPWORDS

    (documents,) = tables(spark, sf_dir, "documents")
    kept = documents.where(F.col("doc_id") % 30 != 0).select(
        F.col("doc_id").alias("doc"),
        "lang",
        F.when(
            F.col("doc_id") % 25 == 0,
            F.concat(F.lit("rewritten: "), F.lower("text")),
        )
        .otherwise(F.lower("text"))
        .alias("text"),
        (F.col("doc_id") % 25 == 0).alias("is_delta"),
    )
    minted = documents.where(F.col("doc_id") % 30 == 0).select(
        (F.col("doc_id") + F.lit(3 * variant_offset(spark, sf_dir))).alias("doc"),
        "lang",
        F.concat(F.lit("fresh copy "), F.lower("text")).alias("text"),
        F.lit(True).alias("is_delta"),
    )
    v2 = kept.unionByName(minted)
    toks = F.split(F.col("text"), " ")

    carried = v2.where(~F.col("is_delta")).select(
        "doc", F.size(toks).alias("n_tok")
    )
    delta = v2.where(F.col("is_delta")).select(
        "doc",
        "lang",
        F.size(toks).alias("n_tok"),
        (F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))) / F.size(toks)).alias(
            "stop_ratio"
        ),
    )
    cleaned = delta.where(
        (F.col("lang") == "en")
        & (F.col("n_tok") >= 20)
        & (F.col("stop_ratio") >= 0.02)
    ).select("doc", "n_tok")

    split = (
        F.when(hash32(F.col("doc").cast("string")) % 100 < 90, "train")
        .otherwise("eval")
        .alias("split")
    )
    return carried.select(
        "doc", F.lit("carried").alias("status"), "n_tok", split
    ).unionByName(cleaned.select("doc", F.lit("cleaned").alias("status"), "n_tok", split))


# --- TP4: curriculum ordering (length-staged training order) ----------------
# The write-order pass for curriculum learning: documents ranked
# globally by (length, hash, id) — short/easy first — with a phase
# label and a shard assignment derived from the rank, so the data
# loader can stream phase 0 → 1 → 2 in a reproducible order.  The
# global rank is a prefix sum of ones (operators/windows.
# grouped_prefix_sum, no group columns): one range exchange + broadcast
# offsets, never a single-partition window.  Every ordering key is an
# integer (token count, md5 hash, id) — no float enters the sort.
TP4_SQL = f"""
WITH keyed AS (
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tok,
           {HASH32_SQL.format(x="'cur-' || doc_id::VARCHAR")} AS h
    FROM documents
),
ranked AS (
    SELECT doc_id, n_tok,
           row_number() OVER (ORDER BY n_tok, h, doc_id)::BIGINT AS curriculum_rank
    FROM keyed
)
SELECT doc_id, n_tok,
       CASE WHEN n_tok < 20 THEN 0 WHEN n_tok < 40 THEN 1 ELSE 2 END AS phase,
       curriculum_rank,
       ((curriculum_rank - 1) // 64)::BIGINT AS shard
FROM ranked
"""


@register("tp4_curriculum_order", TP4_SQL, survey_ref="beyond reference: curriculum training order (length-staged, distributed global rank)")
def tp4_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_count_ws
    from ..operators.windows import grouped_prefix_sum

    (documents,) = tables(spark, sf_dir, "documents")
    keyed = documents.select(
        "doc_id",
        token_count_ws(F.col("text")).cast("long").alias("n_tok"),
        hash32(F.concat(F.lit("cur-"), F.col("doc_id").cast("string"))).alias("h"),
        F.lit(1).alias("__one"),
    )
    ranked = grouped_prefix_sum(
        keyed, [], ["n_tok", "h", "doc_id"], "__one", "curriculum_rank"
    )
    return ranked.select(
        "doc_id",
        "n_tok",
        F.when(F.col("n_tok") < 20, 0)
        .when(F.col("n_tok") < 40, 1)
        .otherwise(2)
        .alias("phase"),
        "curriculum_rank",
        F.floor((F.col("curriculum_rank") - 1) / 64).cast("long").alias("shard"),
    )


# --- TP5: pipeline funnel (yield) report ------------------------------------
# The observability twin of tp1: how many documents and tokens survive
# each gate (raw -> lang -> quality -> dedup) — the yield curve a data
# team actually tracks per crawl snapshot.  Physical shape: the gates
# are computed ONCE as boolean flags in a single projection pass, the
# dedup survivor flag reuses tp1's fingerprint shuffle, and the four
# funnel rows come from one conditional aggregation + a 4-row unpivot —
# never four scans of the corpus.  Token counts are exact BIGINTs.
TP5_SQL = f"""
WITH m AS (SELECT greatest(10000, max(doc_id) + 1) AS m FROM documents),
corpus AS (
    SELECT doc_id AS doc, lang, lower(text) AS text FROM documents
    UNION ALL
    SELECT doc_id + m.m, lang,
           array_to_string(string_split(lower(text), ' ')[1:greatest(1,
               (len(string_split(lower(text), ' ')) * 7) // 10)], ' ')
    FROM documents, m WHERE doc_id % 25 = 0
),
scored AS (
    SELECT doc, lang,
           len(string_split(text, ' '))::BIGINT AS n_tok,
           len(list_filter(string_split(text, ' '),
                           x -> x IN ({_STOP_LIST}))) * 1.0
               / len(string_split(text, ' ')) AS stop_ratio,
           md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS fp_head
    FROM corpus
),
flagged AS (
    SELECT doc, n_tok, fp_head,
           (lang = 'en') AS g1,
           (lang = 'en' AND n_tok >= 20 AND stop_ratio >= 0.02) AS g2
    FROM scored
),
canon AS (
    SELECT fp_head, min(doc) AS canonical FROM flagged WHERE g2 GROUP BY fp_head
),
final AS (
    SELECT f.doc, f.n_tok, f.g1, f.g2,
           (f.g2 AND f.doc = c.canonical) AS g3
    FROM flagged f LEFT JOIN canon c ON f.fp_head = c.fp_head
),
agg AS (
    SELECT count(*)::BIGINT AS d0, sum(n_tok)::BIGINT AS t0,
           count(*) FILTER (g1)::BIGINT AS d1, coalesce(sum(n_tok) FILTER (g1), 0)::BIGINT AS t1,
           count(*) FILTER (g2)::BIGINT AS d2, coalesce(sum(n_tok) FILTER (g2), 0)::BIGINT AS t2,
           count(*) FILTER (g3)::BIGINT AS d3, coalesce(sum(n_tok) FILTER (g3), 0)::BIGINT AS t3
    FROM final
)
SELECT s.stage, s.stage_idx,
       CASE s.stage_idx WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2 ELSE d3 END AS n_docs,
       CASE s.stage_idx WHEN 0 THEN t0 WHEN 1 THEN t1 WHEN 2 THEN t2 ELSE t3 END AS n_tokens
FROM agg CROSS JOIN (
    SELECT unnest(['raw', 'lang', 'quality', 'dedup']) AS stage,
           unnest([0, 1, 2, 3])::INT AS stage_idx
) s
"""


@register("tp5_funnel_report", TP5_SQL, survey_ref="beyond reference: per-gate doc/token yield funnel of the tp1 pipeline (single-scan observability)")
def tp5_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    base = documents.select(
        F.col("doc_id").alias("doc"), "lang", F.lower("text").alias("text")
    )
    w = F.split(F.lower(F.col("text")), " ")
    keep = F.greatest(F.floor(F.size(w) * 7 / 10).cast("int"), F.lit(1))
    mutated = documents.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + F.lit(variant_offset(spark, sf_dir))).alias("doc"),
        "lang",
        F.array_join(F.slice(w, 1, keep), " ").alias("text"),
    )
    corpus = base.unionByName(mutated)
    toks = F.split(F.col("text"), " ")
    scored = corpus.select(
        "doc",
        "lang",
        F.size(toks).cast("long").alias("n_tok"),
        (F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))) / F.size(toks)).alias(
            "stop_ratio"
        ),
        F.md5(F.array_join(F.slice(toks, 1, 8), " ")).alias("fp_head"),
    )
    # flagged feeds BOTH the canon aggregation and the final join; the
    # localCheckpoint (I3 stage materialization, the tp2 pattern)
    # computes the corpus scan + gate flags ONCE — and the frame is
    # metadata-sized (ids, counts, hashes, booleans; no text).
    flagged = scored.select(
        "doc",
        "n_tok",
        "fp_head",
        (F.col("lang") == "en").alias("g1"),
        (
            (F.col("lang") == "en")
            & (F.col("n_tok") >= 20)
            & (F.col("stop_ratio") >= 0.02)
        ).alias("g2"),
    ).localCheckpoint()
    canon = (
        flagged.where("g2")
        .groupBy("fp_head")
        .agg(F.min("doc").alias("canonical"))
    )
    final = flagged.join(canon, "fp_head", "left").select(
        "doc",
        "n_tok",
        "g1",
        "g2",
        (F.col("g2") & (F.col("doc") == F.col("canonical"))).alias("g3"),
    )

    def dsum(flag):
        return F.coalesce(F.sum(F.when(flag, F.col("n_tok"))), F.lit(0)).cast("long")

    agg = final.agg(
        F.count(F.lit(1)).alias("d0"),
        F.sum("n_tok").cast("long").alias("t0"),
        F.sum(F.col("g1").cast("long")).alias("d1"),
        dsum(F.col("g1")).alias("t1"),
        F.sum(F.col("g2").cast("long")).alias("d2"),
        dsum(F.col("g2")).alias("t2"),
        F.sum(F.coalesce(F.col("g3"), F.lit(False)).cast("long")).alias("d3"),
        dsum(F.coalesce(F.col("g3"), F.lit(False))).alias("t3"),
    )
    stages = F.explode(
        F.array(
            *[
                F.struct(F.lit(nm).alias("stage"), F.lit(i).alias("stage_idx"))
                for i, nm in enumerate(["raw", "lang", "quality", "dedup"])
            ]
        )
    ).alias("s")
    return agg.select("*", stages).select(
        F.col("s.stage").alias("stage"),
        F.col("s.stage_idx").alias("stage_idx"),
        F.when(F.col("s.stage_idx") == 0, F.col("d0"))
        .when(F.col("s.stage_idx") == 1, F.col("d1"))
        .when(F.col("s.stage_idx") == 2, F.col("d2"))
        .otherwise(F.col("d3"))
        .alias("n_docs"),
        F.when(F.col("s.stage_idx") == 0, F.col("t0"))
        .when(F.col("s.stage_idx") == 1, F.col("t1"))
        .when(F.col("s.stage_idx") == 2, F.col("t2"))
        .otherwise(F.col("t3"))
        .alias("n_tokens"),
    )


# --- TP6: dataset card (length composition of the released corpus) ----------
# The artifact that ships WITH a training corpus: per (split, length
# bucket) document/token counts, the bucket's token share of its split,
# and the cumulative share in bucket order.  tp6 aggregates the ACTUAL
# tp1 flagship output (not a re-derivation), so the card can never
# drift from the corpus it describes; the oracle wraps TP1_SQL the same
# way.  Buckets are a literal integer CASE ladder (exact in both
# engines); shares are ratios of exact BIGINT token sums, so both
# engines divide identical integers — bit-identical doubles into the
# final rounding.  Physical shape: one aggregation of the tp1 result to
# a ≤ |splits|×|buckets| frame; the share/cumshare windows run on that
# tiny frame only.
_TP6_BUCKET_SQL = """CASE WHEN n_tok < 32 THEN 20 WHEN n_tok < 64 THEN 32
           WHEN n_tok < 128 THEN 64 WHEN n_tok < 256 THEN 128
           ELSE 256 END"""

TP6_SQL = f"""
WITH t AS ({TP1_SQL}),
b AS (
    SELECT split, {_TP6_BUCKET_SQL} AS bucket,
           count(*)::BIGINT AS n_docs,
           sum(n_tok::BIGINT)::BIGINT AS n_tokens
    FROM t GROUP BY 1, 2
),
s AS (
    SELECT split, bucket, n_docs, n_tokens,
           n_tokens * 1.0 / sum(n_tokens) OVER (PARTITION BY split)
               AS share,
           sum(n_tokens) OVER (PARTITION BY split ORDER BY bucket
                               ROWS UNBOUNDED PRECEDING) * 1.0
               / sum(n_tokens) OVER (PARTITION BY split) AS cum_share
    FROM b
)
SELECT split, bucket, n_docs, n_tokens,
       floor(share * 1000000.0 + 0.5) / 1000000.0 AS token_share,
       floor(cum_share * 1000000.0 + 0.5) / 1000000.0 AS cum_token_share
FROM s
"""


@register("tp6_dataset_card", TP6_SQL, survey_ref="beyond reference: dataset card — length composition of the tp1 release (aggregates the flagship output itself)")
def tp6_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = tp1_training_corpus(spark, sf_dir)
    bucket = (
        F.when(F.col("n_tok") < 32, 20)
        .when(F.col("n_tok") < 64, 32)
        .when(F.col("n_tok") < 128, 64)
        .when(F.col("n_tok") < 256, 128)
        .otherwise(256)
    )
    b = corpus.groupBy("split", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).cast("long").alias("n_tokens"),
    )
    wsplit = Window.partitionBy("split")
    wcum = (
        Window.partitionBy("split")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = F.sum("n_tokens").over(wsplit)
    return b.select(
        "split",
        "bucket",
        "n_docs",
        "n_tokens",
        dround(F.col("n_tokens") * 1.0 / tot, 6).alias("token_share"),
        dround(F.sum("n_tokens").over(wcum) * 1.0 / tot, 6).alias(
            "cum_token_share"
        ),
    )
