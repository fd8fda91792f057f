"""Sequence packing: greedy document→training-chunk assignment.

The pre-tokenization packing pass of LLM training pipelines: concatenate
consecutive documents into fixed-token-budget chunks (budget 256 here),
starting a new chunk whenever the next document would overflow.  Packing
is inherently sequential, so it is distributed the way a real pipeline
does it: documents are sharded by contiguous id range (``doc_id // 64``)
and packed greedily *within* each shard — shards are independent, so the
operator is an ``applyInPandas`` over shard groups: one shuffle on the
shard key, then a linear in-memory pass per shard.  At 100 TB the shard
width bounds both state and stragglers; chunk ids are only unique within
a shard, exactly like file-local chunk ids in a sharded tokenizer run.

The oracle expresses the same recurrence as a DuckDB recursive CTE over
per-shard row numbers — greedy packing is a prefix scan with reset,
which plain window functions cannot express.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import token_count_ws
from . import register
from ._util import dround, dround_sql, fan_out, tables

_BUDGET = 256
_SHARD = 64

PK1_SQL = f"""
WITH RECURSIVE seq AS (
    SELECT doc_id, doc_id // {_SHARD} AS shard,
           least(len(string_split_regex(trim(text), '\\s+')), {_BUDGET})::BIGINT AS tok,
           row_number() OVER (PARTITION BY doc_id // {_SHARD} ORDER BY doc_id) AS rn
    FROM documents
),
pack AS (
    SELECT shard, rn, doc_id, tok, 0::BIGINT AS chunk, tok AS fill
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.shard, s.rn, s.doc_id, s.tok,
           CASE WHEN p.fill + s.tok > {_BUDGET} THEN p.chunk + 1 ELSE p.chunk END,
           CASE WHEN p.fill + s.tok > {_BUDGET} THEN s.tok ELSE p.fill + s.tok END
    FROM seq s JOIN pack p ON s.shard = p.shard AND s.rn = p.rn + 1
)
SELECT doc_id, shard::INT AS shard, tok, chunk FROM pack
"""


@register("pk1_sequence_packing", PK1_SQL, survey_ref="north-star: greedy fixed-budget sequence packing")
def pk1_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    base = documents.select(
        "doc_id",
        (F.col("doc_id") / _SHARD).cast("long").cast("int").alias("shard"),
        F.least(token_count_ws(F.col("text")).cast("long"), F.lit(_BUDGET)).alias(
            "tok"
        ),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        chunks = []
        chunk, fill = 0, 0
        for t in pdf["tok"]:
            if fill > 0 and fill + t > _BUDGET:
                chunk += 1
                fill = t
            else:
                fill += t
            chunks.append(chunk)
        pdf["chunk"] = pd.Series(chunks, dtype="int64")
        return pdf

    return base.groupBy("shard").applyInPandas(
        pack, schema="doc_id bigint, shard int, tok bigint, chunk bigint"
    )


# --- PK2: sliding-window document chunking ---------------------------------
# The other half of training-data packing: long documents cut into
# fixed-size token windows with overlap (window 32, stride 24 → 8-token
# overlap), the standard context-window preprocessing for embedding /
# pretraining ingest.  Chunk spans are computed arithmetically per row
# and exploded — the whole operator is a stateless select + explode:
# ZERO shuffles, embarrassingly parallel, linear at any corpus size.
# The tail rule is ceil((n-W)/S): every token lands in at least one
# chunk (the last window may be short), matching the usual tokenizer
# framing.  Chunk content is value-checked via md5 of the joined window
# so the driver hash covers the exact text without hauling long strings.
_CHUNK_W, _CHUNK_S = 32, 24

PK2_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
spans AS (
    SELECT doc_id, w, t.i AS chunk_idx, (1 + t.i * {_CHUNK_S})::BIGINT AS start_tok
    FROM toks, unnest(range(0,
        ((greatest(len(w) - {_CHUNK_W}, 0) + {_CHUNK_S - 1}) // {_CHUNK_S}) + 1
    )) AS t(i)
)
SELECT doc_id, chunk_idx::INT AS chunk_idx, start_tok,
       len(w[start_tok:start_tok + {_CHUNK_W - 1}])::BIGINT AS n_tok,
       md5(array_to_string(w[start_tok:start_tok + {_CHUNK_W - 1}], ' ')) AS chunk_md5
FROM spans
"""


@register("pk2_document_chunking", PK2_SQL, survey_ref="north-star: sliding-window chunking (context-window ingest)")
def pk2_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    toks = documents.select("doc_id", F.split("text", " ").alias("w"))
    n_extra = F.expr(
        f"(greatest(size(w) - {_CHUNK_W}, 0) + {_CHUNK_S - 1}) div {_CHUNK_S}"
    )
    spans = toks.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(0).cast("long"), n_extra)).alias("i"),
    )
    start = (1 + F.col("i") * _CHUNK_S).cast("long")
    chunk = F.slice("w", start.cast("int"), _CHUNK_W)
    return spans.select(
        "doc_id",
        F.col("i").cast("int").alias("chunk_idx"),
        start.alias("start_tok"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# --- PK3: length-bucketed batch assembly -----------------------------------
# The padding-efficiency half of batch assembly: documents are grouped
# into power-of-two length buckets (floor(log2(tok))) so that each
# fixed-size batch (8 docs) pads every member to the batch max — the
# standard length-bucketed batching that keeps padding waste bounded by
# 2x instead of corpus-max.  Distribution follows pk1: batches are
# formed within (bucket, shard = doc_id // 64) ranges, so the
# row_number window is bounded by shard width and no bucket becomes a
# single-reducer global sort at scale.  pad_eff = sum_tok / (n·max_tok)
# is one exact-integer division (measure-zero under round6: tok ratios
# are rationals with denominator n·max ≤ 8·max, never landing on 1e-6
# half-boundaries except at exact terminating values that both engines
# compute identically from the same integers).
PK3_SQL = f"""
WITH toks AS (
    SELECT doc_id, doc_id // {_SHARD} AS shard,
           greatest(len(string_split_regex(trim(text), '\\s+')), 1)::BIGINT AS tok
    FROM documents
),
bucketed AS (
    SELECT doc_id, shard, tok,
           floor(log2(tok::DOUBLE))::BIGINT AS bucket,
           row_number() OVER (
               PARTITION BY floor(log2(tok::DOUBLE))::BIGINT, shard
               ORDER BY doc_id) AS rn
    FROM toks
)
SELECT bucket, shard::INT AS shard, ((rn - 1) // 8)::BIGINT AS batch,
       count(*)::BIGINT AS n_docs,
       max(tok) AS max_tok,
       sum(tok)::BIGINT AS sum_tok,
       floor(sum(tok)::DOUBLE / (count(*) * max(tok)) * 1000000.0 + 0.5)
           / 1000000.0 AS pad_eff
FROM bucketed
GROUP BY bucket, shard, ((rn - 1) // 8)
"""


@register("pk3_length_bucketed_batching", PK3_SQL, survey_ref="beyond reference: length-bucketed batch assembly (padding efficiency)")
def pk3_length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    (documents,) = tables(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id",
        (F.col("doc_id") / _SHARD).cast("long").cast("int").alias("shard"),
        F.greatest(token_count_ws(F.col("text")).cast("long"), F.lit(1)).alias(
            "tok"
        ),
    )
    bucket = F.floor(F.log2(F.col("tok").cast("double"))).alias("bucket")
    w = Window.partitionBy("bucket", "shard").orderBy("doc_id")
    bucketed = toks.select("doc_id", "shard", "tok", bucket).withColumn(
        "batch", ((F.row_number().over(w) - 1) / 8).cast("long")
    )
    return bucketed.groupBy("bucket", "shard", "batch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("tok").alias("max_tok"),
        F.sum("tok").cast("long").alias("sum_tok"),
        (
            F.floor(
                F.sum("tok").cast("double")
                / (F.count(F.lit(1)) * F.max("tok"))
                * 1000000.0
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("pad_eff"),
    )


# --- PK4: content-defined chunking + shared-chunk accounting -----------------
# LBFS/rsync-style CDC: a chunk boundary sits before position p whenever
# the 8-char gram starting at p hashes to 0 (mod 32) — expected ~32-char
# chunks, boundaries decided by LOCAL content only, so an insertion
# reshuffles one chunk, not the whole file (the property that makes CDC
# the storage-dedup standard).  Chunks are content-addressed by full md5
# (128-bit — no collision caveat); a chunk is "shared" if its content
# occurs ≥2 times corpus-wide (across or within docs).  Scale shape:
# boundary detection AND interval construction happen inside higher-order
# array functions on the document row — a single narrow scan, NO window,
# NO self-join, no re-scan of documents; the only wide ops are the
# chunk-hash dup agg and the hash join back, both keyed on the md5
# (uniform — salt-free).  Per-doc arrays are bounded by doc length, the
# same bound dd20's per-doc window carries.  mean/dup_frac are int/int
# under dround.  (Distinct from pk2_document_chunking's fixed
# window/stride cuts: CDC boundaries are content-local.)
PK4_SQL = r"""
WITH starts AS (
    SELECT doc_id, 0::BIGINT AS start FROM documents
    UNION ALL
    SELECT doc_id, p::BIGINT AS start
    FROM documents, unnest(range(1, greatest(length(text) - 7, 1))) t(p)
    WHERE (('0x' || substr(md5(substr(text, p::INTEGER + 1, 8)), 1, 8))::BIGINT)
          % 32 = 0
),
iv AS (
    SELECT s.doc_id, s.start,
           coalesce(lead(s.start) OVER (PARTITION BY s.doc_id ORDER BY s.start),
                    length(d.text)::BIGINT) AS fin,
           d.text, length(d.text)::BIGINT AS n_chars
    FROM starts s JOIN documents d USING (doc_id)
),
ch AS (
    SELECT doc_id, n_chars, fin - start AS clen,
           md5(substr(text, start::INTEGER + 1, (fin - start)::INTEGER)) AS chash
    FROM iv
),
dup AS (
    SELECT chash FROM ch GROUP BY chash HAVING count(*) >= 2
)
SELECT ch.doc_id,
       count(*)::BIGINT AS n_chunks,
       max(ch.clen)::BIGINT AS max_chunk_len,
       {mean4} AS mean_chunk_len,
       sum(CASE WHEN dup.chash IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS n_shared_chunks,
       sum(CASE WHEN dup.chash IS NOT NULL THEN ch.clen ELSE 0 END)::BIGINT
           AS shared_chars,
       {dupfrac6} AS dup_frac
FROM ch LEFT JOIN dup ON ch.chash = dup.chash
GROUP BY ch.doc_id
""".format(
    mean4=dround_sql("sum(ch.clen)::BIGINT * 1.0 / count(*)", 4),
    dupfrac6=dround_sql(
        "sum(CASE WHEN dup.chash IS NOT NULL THEN ch.clen ELSE 0 END)::BIGINT"
        " * 1.0 / max(ch.n_chars)",
        6,
    ),
)

# boundary rule + interval construction as pure array expressions: one
# narrow projection, no window, no second documents scan.  `get()` is the
# 0-based null-safe indexer (ANSI-proof); the CASE guards Spark's
# descending-sequence surprise for sub-9-char docs.
_PK4_STARTS = """
CASE WHEN length(text) >= 9 THEN
    concat(
        array(0L),
        filter(
            sequence(1L, cast(length(text) - 8 as bigint)),
            p -> cast(conv(substring(md5(substring(text, cast(p + 1 as int), 8)),
                                     1, 8), 16, 10) as bigint) % 32 = 0
        )
    )
ELSE array(0L) END
"""

_PK4_CHUNKS = """
transform(
    starts,
    (s, i) -> named_struct(
        'clen',
        coalesce(get(starts, i + 1), cast(length(text) as bigint)) - s,
        'chash',
        md5(substring(
            text,
            cast(s + 1 as int),
            cast(coalesce(get(starts, i + 1), cast(length(text) as bigint)) - s
                 as int)))
    )
)
"""


@register(
    "pk4_cdc_chunking",
    PK4_SQL,
    survey_ref="beyond reference: content-defined chunking (rolling-hash "
    "boundaries, md5-content-addressed) with corpus shared-chunk accounting",
)
def pk4_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = tables(spark, sf_dir, "documents")
    # The per-char rolling-hash HOFs below are the expensive narrow
    # stage; a single-row-group source serializes them onto one task
    # (fan_out is a no-op whenever the scan already has ≥ cores splits;
    # the doc_id groupBy result is partitioning-invariant).
    documents = fan_out(documents)
    ch = (
        documents.select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            F.expr(_PK4_STARTS).alias("starts"),
            "text",
        )
        .select("doc_id", "n_chars", F.explode(F.expr(_PK4_CHUNKS)).alias("c"))
        .select("doc_id", "n_chars", F.col("c.clen").alias("clen"), F.col("c.chash").alias("chash"))
    )
    dup = (
        ch.groupBy("chash")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 2)
        .select("chash", F.lit(True).alias("shared"))
    )
    j = ch.join(dup, "chash", "left").select(
        "doc_id", "n_chars", "clen", F.coalesce("shared", F.lit(False)).alias("shared")
    )
    sh1 = F.when(F.col("shared"), 1).otherwise(0)
    shlen = F.when(F.col("shared"), F.col("clen")).otherwise(F.lit(0))
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.max("clen").cast("long").alias("max_chunk_len"),
        dround(F.sum("clen").cast("long") * F.lit(1.0) / F.count(F.lit(1)), 4).alias(
            "mean_chunk_len"
        ),
        F.sum(sh1).cast("long").alias("n_shared_chunks"),
        F.sum(shlen).cast("long").alias("shared_chars"),
        dround(F.sum(shlen).cast("long") * F.lit(1.0) / F.max("n_chars"), 6).alias(
            "dup_frac"
        ),
    )
