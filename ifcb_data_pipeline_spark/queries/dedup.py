"""Deduplication query family (BASELINE.json north-star operators).

The sf corpus has no natural duplicates, so every query runs on an
*augmented corpus*: ``documents`` plus a deterministic mutated copy of
every 25th doc (id+M with corpus-derived M = greatest(10000, max(doc_id)+1), text truncated to its first 70% of tokens) —
guaranteed true near-duplicate pairs, constructed identically in both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    banded_signatures,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_sets,
    simhash,
)
from ..operators.graph import connected_components
from ..operators.text import STOPWORDS as _TEXT_STOPWORDS
from . import register
from ._util import dround, dround_sql, fan_out, sign_lsh_coded_sql, tables

# --- shared augmented corpus ----------------------------------------------
# Variant ids are CORPUS-DERIVED (VERDICT r10 item 6 / ADVICE r9): the
# planted near-duplicate of doc d gets id d + M with
# M = greatest(10000, max(doc_id) + 1), the dd16 pattern with a floor.
# The floor keeps M == 10000 — and therefore every output, value-hash,
# and physical-plan literal — bit-identical at all shipped SFs (max
# doc_id is 4,999 at sf0.1, so no green driver row is displaced by this
# migration), while a corpus whose ids reach 10,000 now derives a
# collision-free offset instead of silently aliasing variants onto real
# documents.  Both engines and the pure-Python replays compute M from
# the same construction.

CORPUS_SQL = """
m AS (SELECT greatest(10000, max(doc_id) + 1) AS m FROM documents),
corpus AS (
    SELECT doc_id AS doc, lower(text) AS text FROM documents
    UNION ALL
    SELECT doc_id + m.m,
           array_to_string(
               string_split(lower(text), ' ')[1:greatest(1,
                   (len(string_split(lower(text), ' ')) * 7) // 10)],
               ' ')
    FROM documents, m WHERE doc_id % 25 = 0
)
"""

# memoized per (sf_dir, table): the test tables are immutable, so the
# 1-row bounded max(id) action (same adjudicated class as dd16's
# max(doc_id) collect below) runs once per table per process
_VARIANT_M: dict[tuple[str, str], int] = {}


def variant_offset(
    spark: SparkSession, sf_dir: str, table: str = "documents", id_col: str = "doc_id"
) -> int:
    """Corpus-derived planted-variant id offset: greatest(10000, max(id)+1).

    At 100 TB this is a parquet-footer-stats max over one column — a
    bounded 1-row driver action, not a data motion; the result feeds the
    plan as a literal so consumers' physical plans stay collect-free.
    """
    key = (sf_dir, table)
    if key not in _VARIANT_M:
        (tbl,) = tables(spark, sf_dir, table)
        mx = tbl.agg(F.max(id_col)).collect()[0][0]
        _VARIANT_M[key] = max(10000, int(mx) + 1)
    return _VARIANT_M[key]

SHINGLES_SQL = (
    CORPUS_SQL
    + """,
toks AS (SELECT doc, string_split(text, ' ') AS w FROM corpus),
sh AS (
    SELECT DISTINCT doc, shingle FROM (
        SELECT doc, array_to_string(w[i:i+2], ' ') AS shingle
        FROM toks, unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i)
    )
)
"""
)


def corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    m = variant_offset(spark, sf_dir)
    base = documents.select(
        F.col("doc_id").alias("doc"), F.lower("text").alias("text")
    )
    w = F.split(F.lower(F.col("text")), " ")
    keep = F.greatest(F.floor(F.size(w) * 7 / 10).cast("int"), F.lit(1))
    mutated = documents.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + F.lit(m)).alias("doc"),
        F.array_join(F.slice(w, 1, keep), " ").alias("text"),
    )
    return base.unionByName(mutated)


# --- DD1: exact dedup ------------------------------------------------------
DD1_SQL = f"""
WITH {CORPUS_SQL.strip()},
hashed AS (SELECT doc, md5(text) AS text_hash FROM corpus),
groups AS (
    SELECT text_hash, count(*)::BIGINT AS n_copies, min(doc) AS canonical_id
    FROM hashed GROUP BY text_hash
)
SELECT h.doc, h.text_hash, g.n_copies, (h.doc = g.canonical_id) AS is_canonical
FROM hashed h JOIN groups g USING (text_hash)
"""


@register("dd1_exact_dedup", DD1_SQL, survey_ref="SURVEY §2.5 A10 generalized; 01_create_file_index.R:88-101")
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(corpus_df(spark, sf_dir), text_col="text", id_col="doc")


# --- DD2: MinHash + banded LSH ---------------------------------------------
DD2_SQL = f"""
WITH {SHINGLES_SQL.strip()},
hw AS (
    SELECT doc,
           ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
           (('0x' || substr(md5(shingle), 9, 8))::BIGINT | 1) AS h2
    FROM sh
),
mh AS (
    -- Kirsch-Mitzenmacher: seed s hashes to (h1 + s*h2) mod 2^32
    SELECT doc, seed, min((h1 + seed * h2) % 4294967296) AS mh
    FROM hw CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
    GROUP BY doc, seed
),
bands AS (
    SELECT doc, (seed // 2)::INT AS band,
           string_agg(mh::VARCHAR, ',' ORDER BY seed) AS sig
    FROM mh GROUP BY doc, seed // 2
),
cand AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc
),
est AS MATERIALIZED (
    SELECT c.doc_a, c.doc_b,
           (sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / 16.0) AS est_jaccard
    FROM cand c
    JOIN mh x ON x.doc = c.doc_a
    JOIN mh y ON y.doc = c.doc_b AND y.seed = x.seed
    GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
"""


@register("dd2_minhash_lsh", DD2_SQL, survey_ref="north-star dedup: shingle→minhash→band→bucket-join")
def dd2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingle_sets(corpus_df(spark, sf_dir), text_col="text", id_col="doc", k=3)
    sigs = minhash_signatures(sh, num_hashes=16)
    return minhash_lsh_pairs(sigs, bands=8, num_hashes=16, est_threshold=0.5)


# --- DD3: SimHash fingerprints --------------------------------------------
DD3_SQL = f"""
WITH {SHINGLES_SQL.strip()},
th AS (SELECT doc, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh),
bitsum AS (
    SELECT doc, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM th CROSS JOIN (SELECT unnest(range(32)) AS b) bb
    GROUP BY doc, b
)
SELECT doc, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
FROM bitsum GROUP BY doc
"""


@register("dd3_simhash", DD3_SQL, survey_ref="north-star dedup: simhash fingerprint")
def dd3_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingle_sets(corpus_df(spark, sf_dir), text_col="text", id_col="doc", k=3)
    return simhash(sh, bits=32)


# --- DD4: exact n-gram Jaccard via inverted index --------------------------
DD4_SQL = f"""
WITH {SHINGLES_SQL.strip()},
sizes AS (SELECT doc, count(*)::BIGINT AS n FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
),
j AS MATERIALIZED (
    SELECT i.doc_a, i.doc_b, (i.i / (na.n + nb.n - i.i)) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc = i.doc_a
    JOIN sizes nb ON nb.doc = i.doc_b
)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.3
"""


@register("dd4_ngram_jaccard", DD4_SQL, survey_ref="north-star dedup: n-gram Jaccard verification")
def dd4_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingle_sets(corpus_df(spark, sf_dir), text_col="text", id_col="doc", k=3)
    return ngram_jaccard_pairs(sh, threshold=0.3)


# --- DD4b: n-gram Jaccard with document-frequency cut ----------------------
# The 100 TB hardening of dd4: shingles in > max_df docs are dropped
# before the inverted-index self-join (a ubiquitous shingle contributes
# O(df²) candidate pairs); Jaccard computed over the filtered sets.
DD4B_SQL = f"""
WITH {SHINGLES_SQL.strip()},
dfc AS (SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY shingle),
kept AS (
    SELECT s.doc, s.shingle FROM sh s JOIN dfc USING (shingle) WHERE dfc.df <= 50
),
sizes AS (SELECT doc, count(*)::BIGINT AS n FROM kept GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS i
    FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
),
j AS MATERIALIZED (
    SELECT i.doc_a, i.doc_b, (i.i / (na.n + nb.n - i.i)) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc = i.doc_a
    JOIN sizes nb ON nb.doc = i.doc_b
)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.3
"""


@register("dd4b_ngram_jaccard_dfcut", DD4B_SQL, survey_ref="north-star dedup: df-cut inverted index")
def dd4b_ngram_jaccard_dfcut(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingle_sets(corpus_df(spark, sf_dir), text_col="text", id_col="doc", k=3)
    return ngram_jaccard_pairs(sh, threshold=0.3, max_df=50)


# --- DD5: embedding-cosine near-dup ---------------------------------------
# Augmented embeddings: every 50th vector re-appears scaled ×1.5
# (cosine-identical ⇒ guaranteed positives — identical sign pattern in
# every LSH band, so banded candidate generation has recall 1.0 on them).
# Candidates come from a banded sign-LSH equi-join (never an all-pairs
# cross join); exact cosine verifies candidates only.  The oracle mirrors
# the same deterministic ±1 hyperplanes as SQL literals.
from ..operators.dedup import embedding_lsh_pairs  # noqa: E402

_DD5_DIM, _DD5_BANDS, _DD5_ROWS = 64, 4, 4

DD5_SQL = f"""
WITH vm AS (SELECT greatest(10000, max(vec_id) + 1) AS m FROM embeddings),
e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    UNION ALL
    SELECT vec_id + vm.m, [x * 1.5 FOR x IN embedding::DOUBLE[]]
    FROM embeddings, vm WHERE vec_id % 50 = 0
),
coded AS (
    {sign_lsh_coded_sql("vec_id", "e", _DD5_DIM, _DD5_BANDS, _DD5_ROWS)}
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM coded a JOIN coded b
      ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
),
pairs AS MATERIALIZED (
    SELECT c.vec_a, c.vec_b,
           floor((list_inner_product(ea.v, eb.v)
                  / sqrt(list_inner_product(ea.v, ea.v) * list_inner_product(eb.v, eb.v)))
                 * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM cand c
    JOIN e ea ON ea.vec_id = c.vec_a
    JOIN e eb ON eb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cos_sim FROM pairs WHERE cos_sim >= 0.95
"""


@register("dd5_embedding_cosine_dup", DD5_SQL, survey_ref="north-star dedup: embedding-cosine near-dup (sign-LSH candidates + exact verify)")
def dd5_embedding_cosine_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    base = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scaled = embeddings.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(variant_offset(spark, sf_dir, "embeddings", "vec_id"))).alias("vec_id"),
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * 1.5).alias("v"),
    )
    # Sign-LSH signature projection is the expensive narrow stage; a
    # single-row-group source serializes it onto one task (fan_out is a
    # no-op whenever the scan already has ≥ cores splits; band/pair keys
    # drive everything downstream, partitioning-invariant).
    e = fan_out(base.unionByName(scaled))
    return embedding_lsh_pairs(
        e, dim=_DD5_DIM, bands=_DD5_BANDS, rows_per_band=_DD5_ROWS, threshold=0.95
    )


# --- DD6: duplicate-cluster assignment (connected components) --------------
# Near-dup pairs from the LSH stage are edges; each doc gets its
# cluster's min doc id as label.  Spark side: the package's one closure,
# operators/graph.connected_components (star contraction, finished in a
# single task once the edge set fits one partition — pair graphs from
# dedup are tiny relative to the corpus).  Oracle: recursive CTE closure.
DD6_SQL = f"""
WITH {SHINGLES_SQL.strip()},
hw AS (
    SELECT doc,
           ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
           (('0x' || substr(md5(shingle), 9, 8))::BIGINT | 1) AS h2
    FROM sh
),
mh AS (
    -- Kirsch-Mitzenmacher: seed s hashes to (h1 + s*h2) mod 2^32
    SELECT doc, seed, min((h1 + seed * h2) % 4294967296) AS mh
    FROM hw CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
    GROUP BY doc, seed
),
bands AS (
    SELECT doc, (seed // 2)::INT AS band,
           string_agg(mh::VARCHAR, ',' ORDER BY seed) AS sig
    FROM mh GROUP BY doc, seed // 2
),
edges AS (
    SELECT DISTINCT a.doc AS src, b.doc AS dst
    FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc
),
bi AS (
    SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
),
closure AS MATERIALIZED (
    WITH RECURSIVE reach(node, root) AS (
        SELECT DISTINCT src AS node, src AS root FROM bi
        UNION
        SELECT bi.dst, reach.root FROM reach JOIN bi ON bi.src = reach.node
    )
    SELECT node AS doc, min(root) AS cluster FROM reach GROUP BY node
)
SELECT doc, cluster, (SELECT count(*) FROM closure c2 WHERE c2.cluster = closure.cluster)::BIGINT AS cluster_size
FROM closure
"""


def _lsh_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, cluster) min-label connected components of the LSH
    collision graph — shared by dd6 (cluster report) and dd7 (corpus
    materialization)."""
    sh = shingle_sets(corpus_df(spark, sf_dir), text_col="text", id_col="doc", k=3)
    sigs = minhash_signatures(sh, num_hashes=16)
    banded = banded_signatures(sigs, bands=8, num_hashes=16)
    a = banded.select(F.col("doc").alias("src"), "band", "sig")
    b = banded.select(F.col("doc").alias("dst"), "band", "sig")
    edges = a.join(b, ["band", "sig"]).where(F.col("src") < F.col("dst"))
    return connected_components(edges)


@register("dd6_dup_clusters", DD6_SQL, survey_ref="north-star dedup: connected-component cluster labels")
def dd6_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _lsh_cluster_labels(spark, sf_dir)
    sizes = labels.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "cluster").select(
        F.col("node").alias("doc"), "cluster", "cluster_size"
    )


# --- DD7: dedup materialization (keep one doc per cluster) -----------------
# The operator the whole family exists for: the corpus with every
# non-canonical near-duplicate dropped.  Survivors = docs that either
# never collided in LSH or are their cluster's min-id representative.
# The labels side is |collided docs| ≪ |corpus| → broadcast-friendly
# left join, no extra pass over the corpus.
DD7_SQL = f"""
WITH {SHINGLES_SQL.strip()},
hw AS (
    SELECT doc,
           ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
           (('0x' || substr(md5(shingle), 9, 8))::BIGINT | 1) AS h2
    FROM sh
),
mh AS (
    -- Kirsch-Mitzenmacher: seed s hashes to (h1 + s*h2) mod 2^32
    SELECT doc, seed, min((h1 + seed * h2) % 4294967296) AS mh
    FROM hw CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
    GROUP BY doc, seed
),
bands AS (
    SELECT doc, (seed // 2)::INT AS band,
           string_agg(mh::VARCHAR, ',' ORDER BY seed) AS sig
    FROM mh GROUP BY doc, seed // 2
),
edges AS (
    SELECT DISTINCT a.doc AS src, b.doc AS dst
    FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc
),
bi AS (
    SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
),
closure AS MATERIALIZED (
    WITH RECURSIVE reach(node, root) AS (
        SELECT DISTINCT src AS node, src AS root FROM bi
        UNION
        SELECT bi.dst, reach.root FROM reach JOIN bi ON bi.src = reach.node
    )
    SELECT node AS doc, min(root) AS cluster FROM reach GROUP BY node
)
SELECT c.doc,
       coalesce(cl.cluster, c.doc) AS cluster,
       (cl.cluster IS NULL OR cl.cluster = c.doc) AS is_kept
FROM corpus c LEFT JOIN closure cl ON c.doc = cl.doc
"""


@register("dd7_dedup_materialize", DD7_SQL, survey_ref="north-star dedup: canonical-survivor corpus materialization")
def dd7_dedup_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _lsh_cluster_labels(spark, sf_dir).select(
        F.col("node").alias("doc"), "cluster"
    )
    corpus = corpus_df(spark, sf_dir).select("doc")
    return corpus.join(labels, "doc", "left").select(
        "doc",
        F.coalesce(F.col("cluster"), F.col("doc")).alias("cluster"),
        (F.col("cluster").isNull() | (F.col("cluster") == F.col("doc"))).alias(
            "is_kept"
        ),
    )


# --- DD8: benchmark-contamination check ------------------------------------
# Decontamination pass of LLM training pipelines (GPT-3 §2.2 / PaLM
# style): flag training documents sharing any word 4-gram with a
# held-out evaluation set.  Here the eval set is the src0 slice of the
# corpus; the 4-gram choice follows the published 8-13-gram convention
# scaled to the synthetic doc length.  Scale shape: the eval-set gram
# table is bounded by |benchmark| (small, fixed), so it broadcasts; the
# corpus side is one scan + map-side explode + broadcast-hash join —
# NO shuffle keyed by gram, and the corpus never materializes its gram
# table (contrast dd4, which inverted-indexes corpus×corpus).
DD8_SQL = """
WITH toks AS (
    SELECT doc_id, source, string_split(lower(text), ' ') AS w FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, source, array_to_string(w[i:i+3], ' ') AS g
    FROM toks, unnest(range(1, greatest(len(w) - 4, 0) + 2)) AS t(i)
),
bench AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
totals AS (
    SELECT doc_id, count(*)::BIGINT AS n_shingles FROM sh
    WHERE source <> 'src0' GROUP BY doc_id
),
hits AS (
    SELECT s.doc_id, count(*)::BIGINT AS n_contaminated
    FROM sh s JOIN bench USING (g)
    WHERE s.source <> 'src0'
    GROUP BY s.doc_id
)
SELECT h.doc_id, h.n_contaminated, t.n_shingles,
       floor((h.n_contaminated::DOUBLE / t.n_shingles) * 1000000.0 + 0.5)
           / 1000000.0 AS contamination_frac
FROM hits h JOIN totals t USING (doc_id)
"""


@register("dd8_benchmark_contamination", DD8_SQL, survey_ref="north-star dedup: eval-set decontamination (GPT-3 §2.2 style)")
def dd8_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    sh = shingle_sets(documents, text_col="text", id_col="doc_id", k=4)
    src = documents.select(F.col("doc_id").alias("doc"), "source")
    sh = sh.join(src, "doc")
    bench = sh.where(F.col("source") == "src0").select("shingle").distinct()
    corpus = sh.where(F.col("source") != "src0")
    totals = corpus.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    from ._util import dround

    return (
        hits.join(totals, "doc")
        .select(
            F.col("doc").alias("doc_id"),
            "n_contaminated",
            "n_shingles",
            dround(
                F.col("n_contaminated").cast("double") / F.col("n_shingles"), 6
            ).alias("contamination_frac"),
        )
    )


# --- DD9: normalization-canonicalized dedup --------------------------------
# The "fuzzy-exact" dedup pass of C4/CCNet-style pipelines: documents are
# lowercased, stripped of punctuation, and whitespace-collapsed BEFORE
# hashing, so trivially re-formatted copies (case changes, punctuation,
# double spaces) collapse into one group that raw-text hashing (dd1)
# misses.  The variant corpus adds an upper-cased, punctuation-injected
# copy of every 20th document; dd9 must unify each with its original.
# Same two-phase scale shape as dd1: hash groupBy (map-side partial on
# the md5 key), then a key-balanced join back — one shuffle on a
# uniform hash key at any corpus size.
DD9_SQL = """
WITH m AS (SELECT greatest(10000, max(doc_id) + 1) AS m FROM documents),
corpus AS (
    SELECT doc_id AS doc, text FROM documents
    UNION ALL
    SELECT doc_id + 2 * m.m, '  ' || upper(text) || ' !!'
    FROM documents, m WHERE doc_id % 20 = 0
),
normed AS (
    SELECT doc,
           md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS norm_hash
    FROM corpus
),
groups AS (
    SELECT norm_hash, count(*)::BIGINT AS n_copies, min(doc) AS canonical_id
    FROM normed GROUP BY norm_hash
)
SELECT n.doc, n.norm_hash, g.n_copies, (n.doc = g.canonical_id) AS is_canonical
FROM normed n JOIN groups g USING (norm_hash)
"""


@register("dd9_normalized_dedup", DD9_SQL, survey_ref="beyond reference: normalization-canonicalized (fuzzy-exact) dedup")
def dd9_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    base = documents.select(F.col("doc_id").alias("doc"), "text")
    mutated = documents.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(2 * variant_offset(spark, sf_dir))).alias("doc"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" !!")).alias("text"),
    )
    corpus = base.unionByName(mutated)
    norm = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        )
    )
    normed = corpus.select("doc", norm.alias("norm_hash"))
    groups = normed.groupBy("norm_hash").agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("doc").alias("canonical_id")
    )
    return normed.join(groups, "norm_hash").select(
        "doc",
        "norm_hash",
        "n_copies",
        (F.col("doc") == F.col("canonical_id")).alias("is_canonical"),
    )


# --- DD10: fuzzy eval-set decontamination (MinHash cross-set) --------------
# dd8 removes training docs sharing EXACT shingles with the benchmark;
# dd10 is its fuzzy upgrade: MinHash-LSH across the two sets catches
# paraphrased / truncated leaks whose shingle overlap is partial.  The
# eval side here is src0's documents plus a deliberately leaked 70%-
# truncated copy of every 10th training doc — dd10 must flag those
# training docs (est_jaccard >= 0.5) even though no full shingle-set
# identity exists.  Scale shape is ASYMMETRIC by design: benchmark sets
# are tiny next to a 100 TB corpus, so the eval band-signatures and
# signature arrays are broadcast and the training side never shuffles —
# candidate generation and the agreement estimate are both map-side
# joins against broadcast frames (contrast dd2, whose self-join must
# shuffle on the band key).
DD10_SQL = """
WITH m AS (SELECT greatest(10000, max(doc_id) + 1) AS m FROM documents),
train AS (
    SELECT doc_id AS doc, lower(text) AS text FROM documents
    WHERE source <> 'src0'
),
eval AS (
    SELECT doc_id + 5 * m.m AS doc, lower(text) AS text FROM documents, m
    WHERE source = 'src0'
    UNION ALL
    SELECT doc_id + 6 * m.m,
           array_to_string(
               string_split(lower(text), ' ')[1:greatest(1,
                   (len(string_split(lower(text), ' ')) * 7) // 10)], ' ')
    FROM documents, m WHERE source <> 'src0' AND doc_id % 10 = 0
),
both_sides AS (
    SELECT doc, text, FALSE AS is_eval FROM train
    UNION ALL
    SELECT doc, text, TRUE FROM eval
),
toks AS (SELECT doc, is_eval, string_split(text, ' ') AS w FROM both_sides),
sh AS (
    SELECT DISTINCT doc, is_eval, shingle FROM (
        SELECT doc, is_eval, array_to_string(w[i:i+2], ' ') AS shingle
        FROM toks, unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS t(i)
    )
),
hw AS (
    SELECT doc, is_eval,
           ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
           (('0x' || substr(md5(shingle), 9, 8))::BIGINT | 1) AS h2
    FROM sh
),
mh AS (
    SELECT doc, is_eval, seed, min((h1 + seed * h2) % 4294967296) AS mh
    FROM hw CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
    GROUP BY doc, is_eval, seed
),
bands AS (
    SELECT doc, is_eval, (seed // 2)::INT AS band,
           string_agg(mh::VARCHAR, ',' ORDER BY seed) AS sig
    FROM mh GROUP BY doc, is_eval, seed // 2
),
cand AS (
    SELECT DISTINCT t.doc AS train_doc, e.doc AS eval_doc
    FROM bands t JOIN bands e
      ON t.band = e.band AND t.sig = e.sig
     AND NOT t.is_eval AND e.is_eval
),
est AS MATERIALIZED (
    SELECT c.train_doc, c.eval_doc,
           (sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / 16.0) AS est_jaccard
    FROM cand c
    JOIN mh x ON x.doc = c.train_doc
    JOIN mh y ON y.doc = c.eval_doc AND y.seed = x.seed
    GROUP BY c.train_doc, c.eval_doc
)
SELECT train_doc, eval_doc, est_jaccard FROM est WHERE est_jaccard >= 0.5
"""


@register("dd10_fuzzy_decontamination", DD10_SQL, survey_ref="beyond reference: MinHash cross-set eval decontamination (fuzzy dd8)")
def dd10_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import banded_signatures, minhash_signatures, shingle_sets

    (documents,) = tables(spark, sf_dir, "documents")
    train = documents.where(F.col("source") != "src0").select(
        F.col("doc_id").alias("doc"), F.lower("text").alias("text")
    )
    w = F.split(F.lower(F.col("text")), " ")
    keep = F.greatest(F.floor(F.size(w) * 7 / 10).cast("int"), F.lit(1))
    eval_side = (
        documents.where(F.col("source") == "src0")
        .select(
            (F.col("doc_id") + F.lit(5 * variant_offset(spark, sf_dir))).alias("doc"),
            F.lower("text").alias("text"),
        )
        .unionByName(
            documents.where((F.col("source") != "src0") & (F.col("doc_id") % 10 == 0)).select(
                (F.col("doc_id") + F.lit(6 * variant_offset(spark, sf_dir))).alias("doc"),
                F.array_join(F.slice(w, 1, keep), " ").alias("text"),
            )
        )
    )

    def sigs(side: DataFrame) -> DataFrame:
        return minhash_signatures(
            shingle_sets(side, text_col="text", id_col="doc", k=3), num_hashes=16
        )

    t_sig = sigs(train).localCheckpoint()
    e_sig = sigs(eval_side).localCheckpoint()
    t_band = banded_signatures(t_sig, bands=8, num_hashes=16)
    e_band = banded_signatures(e_sig, bands=8, num_hashes=16)
    cand = (
        t_band.join(
            F.broadcast(e_band.select(F.col("doc").alias("eval_doc"), "band", "sig")),
            ["band", "sig"],
        )
        .select(F.col("doc").alias("train_doc"), "eval_doc")
        .dropDuplicates()
    )
    agree = F.size(
        F.filter(F.zip_with("sig_t", "sig_e", lambda x, y: x == y), lambda v: v)
    )
    est = (
        cand.join(
            t_sig.select(F.col("doc").alias("train_doc"), F.col("sig").alias("sig_t")),
            "train_doc",
        )
        .join(
            F.broadcast(
                e_sig.select(F.col("doc").alias("eval_doc"), F.col("sig").alias("sig_e"))
            ),
            "eval_doc",
        )
        .select("train_doc", "eval_doc", (agree / 16).alias("est_jaccard"))
    )
    return est.where(F.col("est_jaccard") >= 0.5).select(
        "train_doc", "eval_doc", "est_jaccard"
    )


# --- DD11: span-level (paragraph) dedup -------------------------------------
# Document-level dedup (dd1-dd10) drops whole documents; the C4/Dolma
# recipe ALSO removes repeated spans — boilerplate shared across
# otherwise-distinct pages.  Spans here are non-overlapping 8-word
# chunks (the corpus has no sentence punctuation); an occurrence
# survives iff it is the (doc_id, pos)-minimal occurrence of its chunk
# text, so exactly one copy of every duplicated span remains, in its
# canonical document.  Shapes: chunk explode (flatMap-like, no
# shuffle), ONE chunk-keyed window (high-cardinality key — balanced),
# and one doc-keyed reassembly aggregation.  Output carries the md5 of
# the rebuilt text, not the text — delta-sized at any scale.
DD11_SQL = """
WITH words AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
chunks AS (
    SELECT doc_id, i::BIGINT AS pos,
           array_to_string(w[i*8+1:(i+1)*8], ' ') AS chunk
    FROM words, unnest(range((len(w) + 7) // 8)) t(i)
),
marked AS (
    SELECT doc_id, pos, chunk,
           row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS occ
    FROM chunks
)
SELECT doc_id,
       count(*)::BIGINT AS n_chunks,
       sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       md5(coalesce(string_agg(CASE WHEN occ = 1 THEN chunk END, ' '
                               ORDER BY pos), '')) AS cleaned_md5
FROM marked GROUP BY doc_id
"""


@register("dd11_span_dedup", DD11_SQL, survey_ref="beyond reference: C4/Dolma span-level dedup (8-word chunks, canonical-occurrence survivor)")
def dd11_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    words = documents.select("doc_id", F.split("text", " ").alias("w"))
    chunks = words.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.floor((F.size("w") + 7) / F.lit(8)).cast("long") - 1,
            )
        ).alias("pos"),
        "w",
    ).select(
        "doc_id",
        "pos",
        F.array_join(
            F.slice("w", (F.col("pos") * 8 + 1).cast("int"), 8), " "
        ).alias("chunk"),
    )
    # Canonical occurrence via two-phase min aggregation + equi-join, NOT
    # a chunk-keyed window: a boilerplate span duplicated across millions
    # of documents would serialize a window's fat partition onto one
    # task, while partial aggregation combines the min map-side and the
    # join fan-out stays splittable (AQE skew-join).  Same survivor rule:
    # an occurrence survives iff it IS its chunk's (doc_id, pos) minimum.
    minima = chunks.groupBy("chunk").agg(
        F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("first_occ")
    )
    marked = chunks.join(minima, "chunk").select(
        "doc_id",
        "pos",
        "chunk",
        (
            (F.col("first_occ.doc_id") == F.col("doc_id"))
            & (F.col("first_occ.pos") == F.col("pos"))
        ).alias("keep"),
    )
    kept_sorted = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("keep"), F.struct(F.col("pos"), F.col("chunk")))
                )
            ),
            lambda s: s.getField("chunk"),
        ),
        " ",
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_dropped"),
        F.md5(kept_sorted).alias("cleaned_md5"),
    )


# --- DD12: asymmetric containment (subset-duplicate) pairs ------------------
# Jaccard (dd4) misses the quote/truncation case: the augmented corpus'
# mutated copies are 70%-prefix truncations, so their shingle sets are
# SUBSETS of the originals — containment in the contained direction is
# exactly 1.0 while Jaccard sits near 0.7 and keeps shrinking as the
# quoted fraction drops.  Same df-cut inverted index as dd4b (a
# ubiquitous shingle is O(df²) pair fan-out), both directions emitted,
# pair kept when either clears 0.9.
DD12_SQL = f"""
WITH {SHINGLES_SQL.strip()},
dfc AS (SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY shingle),
kept AS (
    SELECT s.doc, s.shingle FROM sh s JOIN dfc USING (shingle) WHERE dfc.df <= 50
),
sizes AS (SELECT doc, count(*)::BIGINT AS n FROM kept GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*)::BIGINT AS i
    FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
),
c AS MATERIALIZED (
    SELECT i.doc_a, i.doc_b,
           (i.i / na.n) AS cab, (i.i / nb.n) AS cba
    FROM inter i
    JOIN sizes na ON na.doc = i.doc_a
    JOIN sizes nb ON nb.doc = i.doc_b
)
SELECT doc_a, doc_b,
       floor(cab * 1000000.0 + 0.5) / 1000000.0 AS cont_a_in_b,
       floor(cba * 1000000.0 + 0.5) / 1000000.0 AS cont_b_in_a
FROM c WHERE cab >= 0.9 OR cba >= 0.9
"""


@register("dd12_containment_pairs", DD12_SQL, survey_ref="beyond reference: asymmetric shingle containment (quote/truncation subset-dup detection)")
def dd12_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_pairs

    sh = shingle_sets(corpus_df(spark, sf_dir), text_col="text", id_col="doc", k=3)
    return containment_pairs(sh, threshold=0.9, max_df=50)


# --- DD13: connected components via star contraction -----------------------
# dd6 runs the same closure on LSH-collision graphs — compact components.
# dd13 exercises the opposite regime: a deterministic CHAIN-shaped graph
# (doc i — doc i+1 inside 50-doc blocks, plus sparse +150 bridges merging
# blocks) where min-label propagation would need ~diameter rounds but the
# large-star/small-star contraction (operators/graph.py) converges in
# O(log n).  Oracle: recursive-CTE closure — algorithm-independent.
DD13_SQL = """
WITH nodes AS (SELECT doc_id AS node FROM documents),
chain AS (
    SELECT node AS src, node + 1 AS dst FROM nodes WHERE node % 50 != 49
),
bridge AS (
    SELECT node AS src, node + 150 AS dst FROM nodes WHERE node % 97 = 0
),
edges AS (
    SELECT src, dst FROM chain WHERE dst IN (SELECT node FROM nodes)
    UNION
    SELECT src, dst FROM bridge WHERE dst IN (SELECT node FROM nodes)
),
bi AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
closure AS MATERIALIZED (
    WITH RECURSIVE r(node, root) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT bi.dst, r.root FROM r JOIN bi ON bi.src = r.node
    )
    SELECT node, min(root) AS cluster FROM r GROUP BY node
),
sizes AS (SELECT cluster, count(*)::BIGINT AS cluster_size FROM closure GROUP BY cluster)
SELECT c.node, c.cluster, s.cluster_size
FROM closure c JOIN sizes s USING (cluster)
"""


@register("dd13_star_components", DD13_SQL, survey_ref="beyond reference: O(log n)-round connected components (Kiveris et al. SoCC'14); generalizes 03_delete_duplicates.R:28-60 transitive closure")
def dd13_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    nodes = documents.select(F.col("doc_id").alias("node"))
    chain = nodes.where(F.col("node") % 50 != 49).select(
        F.col("node").alias("src"), (F.col("node") + 1).alias("dst")
    )
    bridge = nodes.where(F.col("node") % 97 == 0).select(
        F.col("node").alias("src"), (F.col("node") + 150).alias("dst")
    )
    present = nodes.select(F.col("node").alias("dst"))
    edges = (
        chain.join(present, "dst", "left_semi")
        .unionByName(bridge.join(present, "dst", "left_semi"))
    )
    labels = connected_components(edges)
    # isolated nodes (no incident edge) are singleton components
    singletons = nodes.join(
        labels.select(F.col("node")), "node", "left_anti"
    ).select("node", F.col("node").alias("cluster"))
    labels = labels.unionByName(singletons)
    sizes = labels.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labels.join(sizes, "cluster").select("node", "cluster", "cluster_size")


# --- G1: PageRank (link-quality signal for crawl curation) ------------------
# Link analysis is the classic crawl-side quality signal a pretraining
# pipeline consumes (harvest prioritization, spam demotion).  The link
# graph is deterministic from the corpus: every doc links to its
# source-group hub (min doc id of the source) and to the next doc in
# its source (chain), so ranks concentrate on hubs with chains feeding
# them.  Fixed 6-iteration simplified PageRank (operators/graph.py
# pagerank) admits an EXACT unrolled SQL twin — the oracle below is
# generated per-iteration (aggregation is not allowed inside a
# recursive CTE, so recursion is unrolled).
_G1_ITERS = 6

_G1_GRAPH_SQL = """
d AS (SELECT doc_id, source FROM documents),
hub AS (SELECT source, min(doc_id) AS h FROM d GROUP BY source),
e1 AS (
    SELECT d.doc_id AS src, hub.h AS dst
    FROM d JOIN hub USING (source) WHERE d.doc_id <> hub.h
),
e2 AS (
    SELECT doc_id AS src,
           lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS dst
    FROM d
),
edges AS (
    SELECT src, dst FROM e1
    UNION
    SELECT src, dst FROM e2 WHERE dst IS NOT NULL
),
nodes AS (
    SELECT src AS node FROM edges UNION SELECT dst FROM edges
),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
deg AS (SELECT src, count(*)::BIGINT AS odeg FROM edges GROUP BY src),
ed AS (SELECT e.src, e.dst, deg.odeg FROM edges e JOIN deg USING (src)),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)
"""


def _g1_oracle() -> str:
    parts = [f"WITH {_G1_GRAPH_SQL.strip()}"]
    for i in range(1, _G1_ITERS + 1):
        parts.append(
            f""",
c{i} AS (
    SELECT ed.dst, sum(r.rank / ed.odeg) AS m
    FROM ed JOIN r{i - 1} r ON r.node = ed.src GROUP BY ed.dst
),
r{i} AS (
    SELECT n.node, 0.15 / nn.n + 0.85 * coalesce(c.m, 0) AS rank
    FROM nodes n CROSS JOIN nn LEFT JOIN c{i} c ON c.dst = n.node
)"""
        )
    parts.append(
        f"""
SELECT node, floor(rank * 1000000.0 + 0.5) / 1000000.0 AS rank
FROM r{_G1_ITERS}"""
    )
    return "".join(parts)


@register("g1_pagerank", _g1_oracle(), survey_ref="beyond reference: fixed-iteration PageRank (crawl-quality link signal; iterative DataFrame plan with O(1) lineage)")
def g1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    (documents,) = tables(spark, sf_dir, "documents")
    d = documents.select("doc_id", "source")
    hub = d.groupBy("source").agg(F.min("doc_id").alias("h"))
    e1 = (
        d.join(hub, "source")
        .where(F.col("doc_id") != F.col("h"))
        .select(F.col("doc_id").alias("src"), F.col("h").alias("dst"))
    )
    from pyspark.sql import Window as W

    e2 = d.select(
        F.col("doc_id").alias("src"),
        F.lead("doc_id")
        .over(W.partitionBy("source").orderBy("doc_id"))
        .alias("dst"),
    ).where(F.col("dst").isNotNull())
    ranks = pagerank(e1.unionByName(e2), iterations=_G1_ITERS, damping=0.85)
    return ranks.select("node", dround(F.col("rank"), 6).alias("rank"))


# --- DD14: LSH recall evaluation against the planted ground truth -----------
# The eval loop every production dedup pipeline needs: the augmented
# corpus PLANTS its near-duplicates (doc d ↔ d+M for d % 25 = 0, M the corpus-derived offset),
# so candidate-generation recall is measurable exactly — what fraction
# of true pairs does dd2/dd6's banded MinHash-LSH (16 hashes × 8 bands)
# surface as candidates?  Output is one audit row: true pairs, hits,
# total candidates, recall.  recall is a ratio of exact BIGINTs —
# bit-identical doubles in both engines.  Scale: the candidate join is
# the same linear banded equi-join the dedup queries run; the truth set
# is a projection of the corpus; metrics are two semi-join counts.
DD14_SQL = f"""
WITH {SHINGLES_SQL.strip()},
hw AS (
    SELECT doc,
           ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
           (('0x' || substr(md5(shingle), 9, 8))::BIGINT | 1) AS h2
    FROM sh
),
mh AS (
    SELECT doc, seed, min((h1 + seed * h2) % 4294967296) AS mh
    FROM hw CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
    GROUP BY doc, seed
),
bands AS (
    SELECT doc, (seed // 2)::INT AS band,
           string_agg(mh::VARCHAR, ',' ORDER BY seed) AS sig
    FROM mh GROUP BY doc, seed // 2
),
cand AS (
    SELECT DISTINCT a.doc AS src, b.doc AS dst
    FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc
),
truth AS (
    SELECT doc_id AS src, doc_id + m.m AS dst
    FROM documents, m WHERE doc_id % 25 = 0
),
hit AS (
    SELECT count(*)::BIGINT AS n_hit
    FROM truth t JOIN cand c ON c.src = t.src AND c.dst = t.dst
),
nt AS (SELECT count(*)::BIGINT AS n_true FROM truth),
nc AS (SELECT count(*)::BIGINT AS n_candidates FROM cand)
SELECT nt.n_true, hit.n_hit, nc.n_candidates,
       floor(hit.n_hit * 1.0 / nt.n_true * 1000000.0 + 0.5) / 1000000.0 AS recall
FROM nt CROSS JOIN hit CROSS JOIN nc
"""


@register("dd14_lsh_recall", DD14_SQL, survey_ref="beyond reference: candidate-generation recall audit of the banded MinHash-LSH against planted duplicates")
def dd14_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    sh = shingle_sets(corpus_df(spark, sf_dir), text_col="text", id_col="doc", k=3)
    sigs = minhash_signatures(sh, num_hashes=16)
    banded = banded_signatures(sigs, bands=8, num_hashes=16)
    a = banded.select(F.col("doc").alias("src"), "band", "sig")
    b = banded.select(F.col("doc").alias("dst"), "band", "sig")
    cand = (
        a.join(b, ["band", "sig"])
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .dropDuplicates()
        .localCheckpoint()
    )
    truth = documents.where(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") + F.lit(variant_offset(spark, sf_dir))).alias("dst"),
    )
    nt = truth.agg(F.count(F.lit(1)).alias("n_true"))
    nh = truth.join(cand, ["src", "dst"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        nt.crossJoin(F.broadcast(nh))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_true",
            "n_hit",
            "n_candidates",
            dround(F.col("n_hit") * 1.0 / F.col("n_true"), 6).alias("recall"),
        )
    )


# --- DD15: LSH parameter-sweep audit (the S-curve tradeoff) -----------------
# dd14 audits ONE configuration; dd15 sweeps the banding of the same 16
# MinHashes — (bands, rows/band) ∈ {(2,8), (4,4), (8,2)} — and reports
# candidate volume vs planted-pair recall per configuration: the exact
# artifact that picks LSH parameters before a 100 TB run.  All three
# configurations re-band the SAME signature frame (one shingle +
# minhash computation, checkpointed), so the sweep costs one corpus
# pass plus three banded equi-joins — never three pipelines.
_DD15_CONFIGS = [(2, 8), (4, 4), (8, 2)]


def _dd15_bands_sql(bands: int, rows: int) -> str:
    return f"""
    SELECT doc, (seed // {rows})::INT AS band,
           string_agg(mh::VARCHAR, ',' ORDER BY seed) AS sig
    FROM mh GROUP BY doc, seed // {rows}
"""


def _dd15_cfg_sql(bands: int, rows: int) -> str:
    return f"""
SELECT {bands} AS bands, {rows} AS rows_per_band,
       (SELECT count(*) FROM (
            SELECT DISTINCT a.doc, b.doc
            FROM b{bands} a JOIN b{bands} b
              ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc
        ))::BIGINT AS n_candidates,
       (SELECT count(*) FROM truth t WHERE EXISTS (
            SELECT 1 FROM b{bands} a JOIN b{bands} b
              ON a.band = b.band AND a.sig = b.sig
             AND a.doc = t.src AND b.doc = t.dst
        ))::BIGINT AS n_hit
"""


DD15_SQL = f"""
WITH {SHINGLES_SQL.strip()},
hw AS (
    SELECT doc,
           ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
           (('0x' || substr(md5(shingle), 9, 8))::BIGINT | 1) AS h2
    FROM sh
),
mh AS (
    SELECT doc, seed, min((h1 + seed * h2) % 4294967296) AS mh
    FROM hw CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
    GROUP BY doc, seed
),
{",".join(f"b{b} AS ({_dd15_bands_sql(b, r)})" for b, r in _DD15_CONFIGS)},
truth AS (
    SELECT doc_id AS src, doc_id + m.m AS dst
    FROM documents, m WHERE doc_id % 25 = 0
),
nt AS (SELECT count(*)::BIGINT AS n_true FROM truth),
cfg AS ({" UNION ALL ".join(_dd15_cfg_sql(b, r) for b, r in _DD15_CONFIGS)})
SELECT cfg.bands, cfg.rows_per_band, cfg.n_candidates, cfg.n_hit, nt.n_true,
       floor(cfg.n_hit * 1.0 / nt.n_true * 1000000.0 + 0.5) / 1000000.0 AS recall
FROM cfg CROSS JOIN nt
"""


@register("dd15_lsh_parameter_sweep", DD15_SQL, survey_ref="beyond reference: LSH S-curve parameter sweep (candidate volume vs recall per banding of one shared signature set)")
def dd15_lsh_parameter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    sh = shingle_sets(corpus_df(spark, sf_dir), text_col="text", id_col="doc", k=3)
    sigs = minhash_signatures(sh, num_hashes=16).localCheckpoint()
    truth = documents.where(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("src"),
        (F.col("doc_id") + F.lit(variant_offset(spark, sf_dir))).alias("dst"),
    )
    nt = truth.agg(F.count(F.lit(1)).alias("n_true"))
    outs = []
    for bands, rows in _DD15_CONFIGS:
        banded = banded_signatures(sigs, bands=bands, num_hashes=16)
        a = banded.select(F.col("doc").alias("src"), "band", "sig")
        b = banded.select(F.col("doc").alias("dst"), "band", "sig")
        cand = (
            a.join(b, ["band", "sig"])
            .where(F.col("src") < F.col("dst"))
            .select("src", "dst")
            .dropDuplicates()
            .localCheckpoint()
        )
        nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        nh = truth.join(cand, ["src", "dst"], "left_semi").agg(
            F.count(F.lit(1)).alias("n_hit")
        )
        outs.append(
            nc.crossJoin(F.broadcast(nh)).select(
                F.lit(bands).alias("bands"),
                F.lit(rows).alias("rows_per_band"),
                "n_candidates",
                "n_hit",
            )
        )
    merged = outs[0]
    for o in outs[1:]:
        merged = merged.unionByName(o)
    return merged.crossJoin(F.broadcast(nt)).select(
        "bands",
        "rows_per_band",
        "n_candidates",
        "n_hit",
        "n_true",
        dround(F.col("n_hit") * 1.0 / F.col("n_true"), 6).alias("recall"),
    )


# --- DD16: quality-aware survivor selection --------------------------------
# dd9 collapses normalization-equivalent duplicates but crowns the
# MIN-id copy; production pipelines (CCNet, RefinedWeb §3.4) instead
# keep the HIGHEST-QUALITY copy of each duplicate group — e.g. among
# several mangled re-crawls of a page whose pristine original is gone,
# keep the cleanest.  The variant corpus models exactly that: every
# 10th document is replaced by TWO re-crawls — a junk-injected copy at
# id+M ('  ' + UPPER + ' !! ??': the leading spaces and junk tokens
# dilute its stopword ratio) and a case-only copy at id+2M (same
# tokens, same ratio as the lost original), with M = max(doc_id)+1
# derived from the corpus itself so variant ids can never collide at
# ANY corpus size (ADVICE r8: the old fixed 30000/60000 offsets
# collided once the id range exceeded ~30009) — so the quality
# survivor is the HIGHER id (+2M), provably diverging from dd9's
# min-id rule inside every multi-copy group with ≥1 stopword.  Quality
# is quantized to integer 1e-6 units (one IEEE division + floor,
# identical in both engines) so the argmax is exact integer
# comparison; tie-break min doc id.  The stopword IN-list is
# interpolated from operators.text.STOPWORDS so both engines share one
# definition (ADVICE r8, HASH32_SQL pattern).  Scale shape: one hash
# groupBy (map-side partial) + two keyed joins back on the same
# norm_hash key, plus one bounded 1-row max(doc_id) action — no
# windows, same single-shuffle class as dd9 at any corpus size.
_DD16_SW_SQL = ",".join(f"'{w}'" for w in _TEXT_STOPWORDS)
DD16_SQL = f"""
WITH m AS (
    SELECT max(doc_id) + 1 AS m FROM documents
),
corpus AS (
    SELECT doc_id AS doc, text FROM documents WHERE doc_id % 10 <> 0
    UNION ALL
    SELECT doc_id + m.m, '  ' || upper(text) || ' !! ??'
    FROM documents, m WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2 * m.m, upper(text)
    FROM documents, m WHERE doc_id % 10 = 0
),
normed AS (
    SELECT doc,
           md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS norm_hash,
           floor((len(list_filter(string_split(lower(text), ' '),
                                  x -> x IN ({_DD16_SW_SQL})))
                  * 1.0 / len(string_split(lower(text), ' ')))
                 * 1000000.0 + 0.5)::BIGINT AS q_u
    FROM corpus
),
g AS (
    SELECT norm_hash, count(*)::BIGINT AS n_copies, max(q_u)::BIGINT AS max_q
    FROM normed GROUP BY norm_hash
),
s AS (
    SELECT n.norm_hash, min(n.doc) AS survivor
    FROM normed n JOIN g USING (norm_hash)
    WHERE n.q_u = g.max_q GROUP BY n.norm_hash
)
SELECT n.doc, n.norm_hash, n.q_u, g.n_copies, (n.doc = s.survivor) AS is_kept
FROM normed n JOIN g USING (norm_hash) JOIN s USING (norm_hash)
"""


@register("dd16_quality_survivor", DD16_SQL, survey_ref="beyond reference: quality-aware dedup survivor selection (CCNet/RefinedWeb style)")
def dd16_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import STOPWORDS

    (documents,) = tables(spark, sf_dir, "documents")
    norm_of = lambda c: F.md5(  # noqa: E731 - shared normalization, both branches
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(c), "[^a-z0-9 ]", ""), " +", " "
            )
        )
    )
    # M = max(doc_id)+1, a bounded 1-row driver action (same approved
    # class as the C4 resolver and graph-fingerprint collects): variant
    # id ranges [M, 2M) and [2M, 3M) can never collide with the
    # originals or each other at any corpus size (ADVICE r8).  A
    # broadcast crossJoin would also work but materializes as a
    # BroadcastNestedLoopJoin, which the dd16 plan pin forbids.
    m = int(documents.agg((F.max("doc_id") + F.lit(1)).alias("m")).collect()[0]["m"])
    tenth = documents.where(F.col("doc_id") % 10 == 0)
    base = documents.where(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("doc"), "text"
    )
    heavy = tenth.select(
        (F.col("doc_id") + F.lit(m)).alias("doc"),
        F.concat(F.lit("  "), F.upper("text"), F.lit(" !! ??")).alias("text"),
    )
    light = tenth.select(
        (F.col("doc_id") + F.lit(2 * m)).alias("doc"),
        F.upper("text").alias("text"),
    )
    corpus = base.unionByName(heavy).unionByName(light)
    toks = F.split(F.lower(F.col("text")), " ")
    q_u = F.floor(
        (
            F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
            * 1.0
            / F.size(toks)
        )
        * 1e6
        + F.lit(0.5)
    ).cast("long")
    normed = corpus.select("doc", norm_of(F.col("text")).alias("norm_hash"), q_u.alias("q_u"))
    g = normed.groupBy("norm_hash").agg(
        F.count(F.lit(1)).alias("n_copies"), F.max("q_u").alias("max_q")
    )
    # survivor per group = min doc among max-quality copies — exact
    # integer argmax via the (max_q, min doc) two-phase, no window
    s = (
        normed.join(g, "norm_hash")
        .where(F.col("q_u") == F.col("max_q"))
        .groupBy("norm_hash")
        .agg(F.min("doc").alias("survivor"))
    )
    return (
        normed.join(g.select("norm_hash", "n_copies"), "norm_hash")
        .join(s, "norm_hash")
        .select(
            "doc",
            "norm_hash",
            "q_u",
            "n_copies",
            (F.col("doc") == F.col("survivor")).alias("is_kept"),
        )
    )


# --- DD17: shingle-containment substring-dedup resolution -------------------
# dd12 DETECTS containment pairs; dd17 closes the loop into the dedup
# DECISION a pipeline actually executes (the dd6→dd7 relationship, for
# the substring case dd9's normalization-equality misses entirely): for
# every document whose 6-gram shingle set is substantially covered by
# an EARLIER document (container id < doc id — re-crawls and quotes
# come later), resolve THE container (max shared shingles, tie-break
# min container id — dd16's exact integer argmax shape, no window) and
# emit a drop verdict at coverage ≥ 0.8.  Runs on the shared augmented
# corpus (every 25th doc gets a 70%-prefix truncated re-crawl at
# id+M), so the drop branch provably fires.  k=6 shingles: long
# enough that natural cross-doc collisions are noise, short enough that
# the 7-token truncation of the shortest (10-token) document still
# yields shingles.  Scale shape: inverted 6-gram index with a df≤20
# document-frequency cut BEFORE the self-join (a ubiquitous shingle is
# O(df²) candidate fan-out — the dd4b discipline), candidates only for
# co-occurring shingle pairs, then two groupBys on the candidate frame.
# Never all-pairs, never a window, no driver state.
DD17_SQL = f"""
WITH {CORPUS_SQL.strip()},
toks AS (SELECT doc, string_split(text, ' ') AS w FROM corpus),
sh AS (
    SELECT DISTINCT doc, shingle FROM (
        SELECT doc, array_to_string(w[i:i+5], ' ') AS shingle
        FROM toks, unnest(range(1, greatest(len(w) - 5, 1) + 1)) AS t(i)
    )
),
dfc AS (SELECT shingle, count(*)::BIGINT AS df FROM sh GROUP BY shingle),
kept AS (
    SELECT s.doc, s.shingle FROM sh s JOIN dfc USING (shingle) WHERE dfc.df <= 20
),
sizes AS (SELECT doc, count(*)::BIGINT AS n FROM kept GROUP BY doc),
inter AS MATERIALIZED (
    SELECT a.doc AS doc, b.doc AS container, count(*)::BIGINT AS shared
    FROM kept a JOIN kept b ON a.shingle = b.shingle AND b.doc < a.doc
    GROUP BY 1, 2
),
cand AS (
    SELECT i.doc, i.container, i.shared, s.n AS n_shingles,
           (i.shared * 1.0 / s.n) AS cov
    FROM inter i JOIN sizes s ON s.doc = i.doc
    WHERE (i.shared * 1.0 / s.n) >= 0.5
),
best AS (SELECT doc, max(shared) AS mx FROM cand GROUP BY doc),
res AS (
    SELECT c.doc, min(c.container) AS container
    FROM cand c JOIN best b ON b.doc = c.doc AND c.shared = b.mx
    GROUP BY c.doc
)
SELECT c.doc, c.container, c.n_shingles, c.shared AS n_shared,
       floor(c.cov * 1000000.0 + 0.5) / 1000000.0 AS coverage,
       (c.cov >= 0.8) AS drop_doc
FROM cand c JOIN res r ON r.doc = c.doc AND r.container = c.container
"""


@register("dd17_shingle_containment", DD17_SQL, survey_ref="beyond reference: substring-dedup resolution (containment pairs -> earliest-container drop decision)")
def dd17_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingle_sets(corpus_df(spark, sf_dir), text_col="text", id_col="doc", k=6)
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # kept and cand stay RECOMPUTE (the dd20/pk4 doctrine): the lazy
    # 36-scan tree runs its branches in ONE parallel job, and round-14
    # A/B measured every checkpoint variant SLOWER cold (kept+cand
    # 11.1 s, cand-only 10.0 s, lazy 3.0 s at sf0.1) — eager
    # materialization serializes what the scheduler parallelizes, and
    # the scans are column-pruned and cheap.
    kept = sh.join(dfc.where(F.col("df") <= 20), "shingle").drop("df")
    sizes = kept.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = kept
    b = kept.select(F.col("doc").alias("container"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("container") < F.col("doc"))
        .groupBy("doc", "container")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    cand = (
        inter.join(sizes, "doc")
        .withColumn("cov", F.col("n_shared") * F.lit(1.0) / F.col("n_shingles"))
        .where(F.col("cov") >= 0.5)
    )
    # dd16-style exact argmax: max shared per doc, then min container
    # among the max rows — two groupBys on the candidate frame, no window
    best = cand.groupBy("doc").agg(F.max("n_shared").alias("mx"))
    res = (
        cand.join(best, "doc")
        .where(F.col("n_shared") == F.col("mx"))
        .groupBy("doc")
        .agg(F.min("container").alias("container"))
    )
    return cand.join(res, ["doc", "container"]).select(
        "doc",
        "container",
        "n_shingles",
        "n_shared",
        (F.floor(F.col("cov") * 1e6 + F.lit(0.5)) / 1e6).alias("coverage"),
        (F.col("cov") >= 0.8).alias("drop_doc"),
    )


# --- DD18: URL/host-level dedup (CCNet bucket above text dedup) -------------
# Web-scale pipelines dedup at the URL level BEFORE any text pass: the
# same page is crawled under scheme/case/www/query-string/fragment/
# trailing-slash variants, and collapsing those is string algebra on the
# URL alone — no shingling, no content reads.  The corpus has no URL
# column, so one is synthesized deterministically from (doc_id, source,
# lang) in BOTH engines, with the five classic variant axes injected by
# doc_id modulus: scheme case, www. prefix, host case, trailing slash,
# tracking query, fragment.  Canonicalization = lowercase -> strip
# scheme -> strip fragment -> strip query -> strip leading www. ->
# strip trailing slash (the CCNet/CommonCrawl normalization order);
# docs agreeing on the canonical URL are duplicates, and the report
# rolls up per host.  Scale shape: ONE documents scan, pure JVM string
# expressions, then two hash aggregations (canonical URL — high
# cardinality, map-side combined; host — low cardinality).  No joins,
# no windows, no explode: this is the cheapest dedup pass in the whole
# family, which is exactly why real pipelines run it first.
DD18_SQL = r"""
WITH u AS (
    SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END)
           || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
           || (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END)
           || '.example.org/' || lang || '/page' || (doc_id % 7)::VARCHAR
           || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
           || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=rss&ref=feed' ELSE '' END)
           || (CASE WHEN doc_id % 11 = 0 THEN '#section2' ELSE '' END) AS url
    FROM documents
),
c AS (
    SELECT doc_id,
           regexp_replace(
               regexp_replace(
                   split_part(split_part(
                       regexp_replace(lower(url), '^https?://', ''),
                       '#', 1), '?', 1),
                   '^www\.', ''),
               '/$', '') AS canon
    FROM u
),
g AS (
    SELECT canon, split_part(canon, '/', 1) AS host,
           count(*)::BIGINT AS n, min(doc_id)::BIGINT AS keep
    FROM c GROUP BY canon
)
SELECT host,
       sum(n)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_canon_urls,
       (sum(n) - count(*))::BIGINT AS n_dup_docs,
       min(keep)::BIGINT AS first_doc
FROM g GROUP BY host
"""


@register("dd18_url_host_dedup", DD18_SQL, survey_ref="beyond reference: URL canonicalization + host-level dedup (CCNet pre-text bucket)")
def dd18_url_host_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://")).otherwise(
            F.lit("http://")
        ),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 2 == 0, F.upper("source")).otherwise(
            F.col("source")
        ),
        F.lit(".example.org/"),
        F.col("lang"),
        F.lit("/page"),
        (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm_source=rss&ref=feed")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 11 == 0, F.lit("#section2")).otherwise(F.lit("")),
    )
    canon = F.regexp_replace(
        F.regexp_replace(
            F.split(
                F.split(F.regexp_replace(F.lower(url), "^https?://", ""), "#").getItem(
                    0
                ),
                "\\?",
            ).getItem(0),
            "^www\\.",
            "",
        ),
        "/$",
        "",
    )
    groups = (
        documents.select(F.col("doc_id"), canon.alias("canon"))
        .groupBy("canon")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("doc_id").cast("long").alias("keep"),
        )
        .withColumn("host", F.split(F.col("canon"), "/").getItem(0))
    )
    return groups.groupBy("host").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_canon_urls"),
        (F.sum("n") - F.count(F.lit(1))).cast("long").alias("n_dup_docs"),
        F.min("keep").cast("long").alias("first_doc"),
    )


# --- DD19: repeated-ngram span localizer ------------------------------------
# dd11 removes cross-document boilerplate chunks; dd19 completes the
# Dolma "repetition surgery" loop WITHIN a document: locate every
# trigram that repeats inside the same doc and emit its exact word- and
# character-offset spans, so a downstream pass can cut the repetition
# in place (tx7 only SCORES repetitiveness; this localizes it).
# Offsets are 0-based; char offsets assume the corpus' single-space
# join (verified: no leading/trailing/double spaces at any SF), so
# char_start(pos) = Σ_{i<pos} (len(word_i) + 1) — an exact-integer
# per-document running sum.  Overlapping occurrences ("x x x x" holds
# "x x x" at pos 0 and 1) count separately, matching Dolma's
# greedy-span accounting.  Scale shape: posexplode (flatMap, no
# shuffle), ONE doc-keyed window (bounded by document length — never a
# fat partition), lead() rides the same window spec, then a
# (doc, gram)-keyed hash aggregation with map-side partials.  The
# output is the repeated-span manifest only — delta-sized.
DD19_SQL = """
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
tri AS (
    SELECT doc_id, i::BIGINT AS pos,
           array_to_string(ws[i+1:i+3], ' ') AS gram,
           (CASE WHEN i = 0 THEN 0
                 ELSE length(array_to_string(ws[1:i], ' ')) + 1
            END)::BIGINT AS cs
    FROM w, unnest(range(len(ws) - 2)) t(i)
)
SELECT doc_id, gram,
       count(*)::BIGINT AS n_occ,
       min(pos)::BIGINT AS first_pos,
       max(pos)::BIGINT AS last_pos,
       min(cs)::BIGINT AS first_char_start,
       (max(cs) + length(gram))::BIGINT AS last_char_end
FROM tri GROUP BY doc_id, gram HAVING count(*) >= 2
"""


@register("dd19_repeated_ngram_spans", DD19_SQL, survey_ref="beyond reference: within-doc repeated-trigram span localizer (Dolma repetition surgery; dd11's intra-doc twin)")
def dd19_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    words = documents.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    cs = F.coalesce(
        F.sum(F.length("word") + 1).over(
            wdoc.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    ).cast("long")
    tri = words.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.concat_ws(
            " ", "word", F.lead("word", 1).over(wdoc), F.lead("word", 2).over(wdoc)
        ).alias("gram"),
        cs.alias("cs"),
        F.lead("word", 2).over(wdoc).isNotNull().alias("full"),
    ).where(F.col("full"))
    return (
        tri.groupBy("doc_id", "gram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occ"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
            F.min("cs").alias("first_char_start"),
            (F.max("cs") + F.length(F.first("gram"))).cast("long").alias(
                "last_char_end"
            ),
        )
        .where(F.col("n_occ") >= 2)
    )


# --- DD20: cross-document exact substring dedup (suffix-array twin) ---------
# Lee et al.'s ExactSubstr dedup builds a corpus-wide suffix array and
# removes any ≥50-char span that re-occurs verbatim anywhere else.  A
# suffix array is a single global sorted structure — the wrong shape for
# a 1000-executor cluster — but its MATCHES are exactly the positions
# whose fixed-k prefix gram re-occurs in another document, so the
# distributed twin is: emit every stride-1 k-char gram (k=40), keep the
# grams seen in ≥2 distinct docs (two-phase hash agg, map-side partial),
# join back (AQE picks broadcast when the dup-gram set is small — the
# common case: boilerplate is a tiny fraction of distinct grams), and
# merge per-doc position runs into an EXACT union-of-intervals char
# coverage via one doc-keyed lead() window (bounded by doc length —
# never a fat partition).  Scale shape: the only wide ops are the gram
# agg and the gram join, both on (gram) — hashable, salt-free since
# gram frequency is capped by dup-gram pruning; the explode is a
# narrow flatMap.  Cost O(total_chars), exactly the suffix-array
# work-bound, with no global sort and no driver-side structure.
DD20_SQL = r"""
WITH g AS (
    SELECT doc_id, i::BIGINT AS pos, substr(text, i::INTEGER + 1, 40) AS gram,
           length(text)::BIGINT AS n_chars
    FROM documents, unnest(range(length(text) - 39)) t(i)
    WHERE length(text) >= 40
),
dup AS (
    SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
),
d AS (
    SELECT g.doc_id, g.pos, g.n_chars FROM g JOIN dup USING (gram)
),
iv AS (
    SELECT doc_id, pos, n_chars,
           lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
    FROM d
)
SELECT doc_id,
       count(*)::BIGINT AS n_dup_positions,
       min(pos)::BIGINT AS first_pos,
       sum(CASE WHEN nxt IS NULL OR nxt - pos >= 40 THEN 40
                ELSE nxt - pos END)::BIGINT AS n_dup_chars,
       {dup_frac} AS dup_frac,
       (sum(CASE WHEN nxt IS NULL OR nxt - pos >= 40 THEN 40
                 ELSE nxt - pos END) * 5 >= max(n_chars)) AS flag_dup
FROM iv
GROUP BY doc_id
""".format(
    dup_frac=dround_sql(
        "sum(CASE WHEN nxt IS NULL OR nxt - pos >= 40 THEN 40"
        " ELSE nxt - pos END)::BIGINT * 1.0 / max(n_chars)",
        6,
    )
)


@register(
    "dd20_exact_substring_dedup",
    DD20_SQL,
    survey_ref="beyond reference: cross-doc exact substring duplication "
    "(Lee et al. 2022 ExactSubstr, distributed k-gram twin)",
)
def dd20_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    # The per-position k-gram explode+substr below is the expensive
    # narrow stage and runs on BOTH consumers of `grams`; a
    # single-row-group source serializes it onto one task (fan_out is a
    # no-op whenever the scan already has ≥ cores splits; every
    # downstream agg/window keys on gram/doc_id, partitioning-invariant).
    documents = fan_out(documents)
    k = 40
    g = documents.where(F.length("text") >= k).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.explode(F.sequence(F.lit(0), F.length("text") - k)).alias("pos"),
        "text",
    )
    grams = g.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("text").substr(F.col("pos") + 1, F.lit(k)).alias("gram"),
        "n_chars",
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram")
    )
    d = grams.join(dup, "gram").select("doc_id", "pos", "n_chars")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    iv = d.withColumn("nxt", F.lead("pos").over(wdoc))
    span = F.when(
        F.col("nxt").isNull() | (F.col("nxt") - F.col("pos") >= k), F.lit(k)
    ).otherwise(F.col("nxt") - F.col("pos"))
    return iv.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_positions"),
        F.min("pos").alias("first_pos"),
        F.sum(span).cast("long").alias("n_dup_chars"),
        dround(
            F.sum(span).cast("long") * F.lit(1.0) / F.max("n_chars"), 6
        ).alias("dup_frac"),
        (F.sum(span) * 5 >= F.max("n_chars")).alias("flag_dup"),
    )
