"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's exact duplicate detection
(``merge_training_datasets/01_create_file_index.R:88-101``,
``03_delete_duplicates.R:28-60``), these generalize to the fuzzy-dedup
family a 100 TB text corpus needs:

* :func:`exact_dedup`       — hash-groupBy (two-phase aggregation).
* :func:`embedding_lsh_pairs` — banded sign-LSH over embeddings
  (:func:`sign_lsh_bands`: one SQL expression over the md5
  :func:`sign_hyperplanes`) → (band, signature) equi-join → exact
  cosine verify of the candidates only.
* :func:`minhash_signatures`/:func:`minhash_lsh_pairs` — shingle → MinHash
  → banded LSH bucket-join.  The band join shuffles on (band, signature)
  — the classic scalable near-dup plan: candidate generation is a hash
  join on short keys, never an all-pairs product.
* :func:`simhash` — sign-of-weighted-bit-sums fingerprint; near-dups =
  small Hamming distance.
* :func:`ngram_jaccard_pairs` — exact Jaccard via an inverted-index
  self-join (pairs sharing ≥1 shingle), the verification stage after LSH.

All hashing is md5-based (:func:`hash32`) so results are
reproducible across engines and runs — no JVM-specific hash functions.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import dround


def hash32(col: Column) -> Column:
    """Deterministic 32-bit integer hash shared with the oracles: the
    first 8 hex chars of md5 as BIGINT (DuckDB twin:
    ``queries/_util.HASH32_SQL``)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def sign_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes for sign-LSH: component ``i`` of plane
    ``p`` is +1 iff the first hex digit of ``md5("p#i")`` is >= '8'.
    Pure-Python md5 → the exact same matrix is embedded as literals in
    both engines' SQL (:func:`sign_lsh_bands` and its DuckDB twin)."""
    return [
        [
            1.0 if hashlib.md5(f"{p}#{i}".encode()).hexdigest()[0] >= "8" else -1.0
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def sign_lsh_bands(vec_col: str, dim: int, bands: int, rows_per_band: int) -> Column:
    """The banded sign-signature projection of ``vec_col``:
    ``array<struct<band:int, sig:string>>``, one element per band, whose
    ``sig`` concatenates ``rows_per_band`` bits — ``'1'`` iff the
    vector's dot with that band's next :func:`sign_hyperplanes` plane is
    positive.  The dot is the left-to-right fold ``similarity.dot``
    builds, so both engines see the same doubles.

    Emitted as ONE SQL expression string: building the same tree as
    Column objects costs a py4j round trip per plane literal and per
    ``when``/``concat`` node (a cold build took 1.5 s at 64×4×4 and
    3.9 s at 64×8×8 on 4 cores), while ``F.expr`` crosses the JVM
    boundary once (0.03 s).  Literals are written ``1.0D``: a bare ``1.0`` is a DECIMAL in
    Spark SQL.  DuckDB twin: ``queries/_util.sign_lsh_coded_sql``."""
    planes = sign_hyperplanes(dim, bands * rows_per_band)

    def bit(plane: list[float]) -> str:
        arr = ", ".join("1.0D" if x > 0 else "-1.0D" for x in plane)
        return (
            f"CASE WHEN aggregate(zip_with(`{vec_col}`, array({arr}), "
            "(x, y) -> x * y), 0.0D, (acc, x) -> acc + x) > 0 "
            "THEN '1' ELSE '0' END"
        )

    def band(b: int) -> str:
        rows = planes[b * rows_per_band : (b + 1) * rows_per_band]
        return f"struct({b} AS band, concat({', '.join(map(bit, rows))}) AS sig)"

    return F.expr(f"array({', '.join(band(b) for b in range(bands))})")


# Cross-engine floor-form rounding of the verified cosine (the oracles'
# ``floor(x * 1e6 + 0.5) / 1e6``; see functions.scalars.dround).
ROUND_DIGITS = 6


def embedding_lsh_pairs(
    vectors: DataFrame,
    dim: int,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Embedding near-duplicate pairs via banded sign-LSH + exact verify.

    The 100 TB-safe plan: candidates come from an equi-join on
    ``(band, sign-signature)`` — linear in corpus size, never an all-pairs
    cross join — and the exact cosine is computed only for candidate
    pairs.  Cosine-identical duplicates (the target of dedup) share every
    sign bit by construction, so recall on true duplicates is 1.0; pairs
    merely *near* the threshold may be missed with probability
    ``(1 - (1 - θ/π)^r)^b`` — the standard, documented ANN trade-off.
    """
    from .similarity import dot

    coded = vectors.select(
        F.col(id_col).alias("id"),
        F.explode(sign_lsh_bands(vec_col, dim, bands, rows_per_band)).alias("bs"),
    ).select("id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    # Pre-partition the signature frame on the join key: both sides of the
    # self-join below then hang off ONE canonical Exchange subtree, so
    # ReuseExchange computes the signatures (and scans the corpus) once
    # instead of once per side.  The shuffle itself is not extra work —
    # the equi-join would have shuffled both sides on (band, sig) anyway.
    coded = coded.repartition("band", "sig")
    a = coded.select(F.col("id").alias("vec_a"), "band", "sig")
    b = coded.select(F.col("id").alias("vec_b"), "band", "sig")
    cand = (
        a.join(b, ["band", "sig"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates()
    )
    # Self-norms are computed ON THE VECTOR SIDES (|corpus| rows, before
    # the candidate join) instead of per candidate pair: the verify then
    # evaluates ONE dim-length dot per pair instead of three — at any
    # scale the candidate set is >> the corpus, so this cuts the verify
    # stage's fold work ~3×.  Float-identical to the inline form: na/nb
    # are the same left-to-right `dot` folds over the same doubles, and
    # sqrt(na*nb) multiplies them in the same order as before.
    ea = vectors.select(
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("va"),
        dot(F.col(vec_col), F.col(vec_col)).alias("na"),
    )
    eb = vectors.select(
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("vb"),
        dot(F.col(vec_col), F.col(vec_col)).alias("nb"),
    )
    cos = dround(
        dot(F.col("va"), F.col("vb")) / F.sqrt(F.col("na") * F.col("nb")),
        ROUND_DIGITS,
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical texts; keep the min-id row as canonical."""
    hashed = df.withColumn("text_hash", F.md5(F.col(text_col)))
    groups = hashed.groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min(id_col).alias("canonical_id"),
    )
    return hashed.join(groups, "text_hash").select(
        id_col,
        "text_hash",
        "n_copies",
        (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
    )


def shingle_sets(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Distinct word k-shingles per document: (id, shingle) rows.

    The explode+array_join below is the expensive narrow stage of the
    entire shingle family (dd2/dd3/dd4*/dd6-8/dd10/dd12/dd14-17, tx12,
    sp10); same precedent as ``explode_bins_to_rois``: balance BEFORE
    the row expansion so a few-split source doesn't serialize it onto
    a few tasks (``fan_out`` is a no-op whenever the scan already has
    ≥ cores splits; every consumer keys on doc/shingle downstream, so
    results are partitioning-invariant — proven by the partitions
    3/7/13 adversarial grid).
    """
    from .skew import fan_out

    df = fan_out(df)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.split(F.lower(F.col(text_col)), " ").alias("w"),
    )
    n = F.size("w")
    sh = toks.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
                lambda i: F.array_join(F.slice("w", i, k), " "),
            )
        ).alias("shingle"),
    )
    return sh.dropDuplicates(["doc", "shingle"])


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """(doc, sig array<long>): element ``s`` = min over the doc's shingles
    of md5-hash(shingle#s).

    Computed as ``num_hashes`` parallel ``min`` aggregates over the
    shingle rows (columnar, ONE shuffle keyed on doc), assembled into a
    single array column.  Wide stays wide on purpose: banding and the
    agreement estimate are then map-side array ops, never a per-seed row
    explosion (which would multiply every downstream shuffle and join by
    ``num_hashes``).

    Hash family: Kirsch-Mitzenmacher — two md5-derived 32-bit words per
    shingle, seed ``s`` hashes to ``(h1 + s*h2) mod 2^32`` (``h2`` forced
    odd).  One md5 per shingle row instead of ``num_hashes``: the hash
    computation is the dominant map-side CPU cost of MinHash at corpus
    scale."""
    d = F.md5(F.col("shingle"))
    hashed = shingles.select(
        "doc",
        F.conv(F.substring(d, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(d, 9, 8), 16, 10).cast("long").bitwiseOR(1).alias("h2"),
    )
    aggs = [
        F.min((F.col("h1") + seed * F.col("h2")) % F.lit(4294967296)).alias(
            f"mh_{seed}"
        )
        for seed in range(num_hashes)
    ]
    wide = hashed.groupBy("doc").agg(*aggs)
    return wide.select(
        "doc", F.array(*[F.col(f"mh_{s}") for s in range(num_hashes)]).alias("sig")
    )


def banded_signatures(
    signatures: DataFrame, bands: int, num_hashes: int
) -> DataFrame:
    """(doc, band, sig-string): each band's signature concatenated in seed
    order — a map-side slice/join over the wide array (no shuffle)."""
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.array_join(
                    F.transform(
                        F.slice("sig", b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ).alias("bsig"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select("doc", F.explode(band_structs).alias("bs")).select(
        "doc", F.col("bs.band").alias("band"), F.col("bs.bsig").alias("sig")
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    bands: int = 8,
    num_hashes: int = 16,
    est_threshold: float = 0.5,
) -> DataFrame:
    """Banded LSH candidate pairs with estimated Jaccard ≥ threshold.

    Shuffle key = (band, concatenated band-signature) — at scale this is a
    plain hash-join on short strings, linear in corpus size.  The
    agreement estimate joins the candidate pairs back to the WIDE
    signature array (one row per doc) and compares element-wise with
    ``zip_with`` — map-side, no per-seed rows anywhere.
    """
    # signatures feeds three consumers (banding + both sides of the
    # agreement join); localCheckpoint materializes the
    # corpus→shingle→minhash chain once and — unlike persist(), whose
    # cached blocks would leak with no handle for the caller to release —
    # its blocks are context-cleaned once the returned plan is dropped.
    signatures = signatures.localCheckpoint()
    banded = banded_signatures(signatures, bands, num_hashes)
    a = banded.select(F.col("doc").alias("doc_a"), "band", "sig")
    b = banded.select(F.col("doc").alias("doc_b"), "band", "sig")
    cand = (
        a.join(b, ["band", "sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    # Estimate Jaccard = fraction of agreeing minhash elements.
    sa = signatures.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = signatures.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", (agree / num_hashes).alias("est_jaccard")
        )
    )
    return est.where(F.col("est_jaccard") >= est_threshold)


def simhash(shingles: DataFrame, bits: int = 32) -> DataFrame:
    """Per-doc SimHash: bit b set iff sum over shingles of ±1 (by hash bit
    b) is positive.

    Computed as ``bits`` conditional sums in ONE wide ``groupBy(doc)``
    aggregate (the same columnar trick as :func:`minhash_signatures`) —
    never by exploding ``bits`` rows per shingle, which would multiply the
    pre-shuffle row count by ``bits``.  Shuffle rows = |docs|, map-side
    combine does the rest."""
    hashed = shingles.withColumn("h", hash32(F.col("shingle")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(bits)
    ]
    sums = hashed.groupBy("doc").agg(*aggs)
    fingerprint = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(int(2**b)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select("doc", fingerprint.alias("simhash"))


def _inverted_index_scores(
    shingles: DataFrame, max_df: int | None
) -> DataFrame:
    """Shared candidate stage of the exact set-overlap measures
    (:func:`ngram_jaccard_pairs`, :func:`containment_pairs`): optional
    document-frequency cut, per-doc set sizes, and intersection counts
    via the inverted-index self-join — only pairs sharing ≥1 surviving
    shingle are ever materialized.  ``max_df`` bounds per-shingle
    fan-out at max_df² (a ubiquitous shingle is O(df²) candidate
    pairs); sizes are computed over the FILTERED sets so every measure
    downstream is consistent with the cut.  Returns
    (doc_a, doc_b, i, na, nb)."""
    if max_df is not None:
        # r19 (guide §2.4 — two operations keyed the same way share one
        # exchange): the cut used to be a groupBy(shingle) count JOINED
        # back onto the shingle frame — two shingle-keyed exchanges plus
        # a join, re-run by every RECOMPUTE consumer.  A count window
        # over the shingle partition is ONE exchange with the same skew
        # exposure (both forms co-locate a hot shingle's rows at the cut
        # point; the cut itself is what bounds the fan-out afterwards).
        # A/B at sf0.01 (interleaved, matched probes): 1.976 → 1.734 s
        # median on dd4b's shape, result-identical (two-way exceptAll).
        shingles = (
            shingles.withColumn(
                "__df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
            )
            .where(F.col("__df") <= max_df)
            .drop("__df")
        )
    # The (post-cut) shingle frame feeds three consumers below (sizes +
    # both self-join sides) and stays RECOMPUTE deliberately: a round-14
    # A/B measured localCheckpoint here SLOWER cold (eager
    # materialization of the corpus-scaled shingle frame serializes what
    # the lazy tree's scheduler runs as one parallel job, and the
    # re-scans are column-pruned and cheap) — the dd20/pk4 doctrine.
    # Checkpoints are reserved for BOUNDED multiply-consumed frames
    # (tx6's trigram model, sim12's pair set).
    sizes = shingles.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    a = shingles.select(F.col("doc").alias("doc_a"), "shingle")
    b = shingles.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb"))
    return inter.join(na, "doc_a").join(nb, "doc_b")


def ngram_jaccard_pairs(
    shingles: DataFrame, threshold: float = 0.3, max_df: int | None = None
) -> DataFrame:
    """Exact Jaccard over shingle sets via inverted-index self-join: only
    pairs sharing ≥1 shingle are ever materialized.

    ``max_df``: drop shingles occurring in more than ``max_df`` documents
    BEFORE the self-join (document-frequency cut).  A ubiquitous shingle
    contributes O(df²) candidate pairs — at 100 TB a single stop-word
    3-gram would dominate the whole shuffle; the cut bounds per-shingle
    fan-out at max_df².  Jaccard is then computed consistently over the
    *filtered* shingle sets (an approximation of the full-set Jaccard;
    ``None`` keeps the exact semantics)."""
    scored = _inverted_index_scores(shingles, max_df)
    j = scored.withColumn(
        "jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    )
    return j.where(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "jaccard"
    )


def containment_pairs(
    shingles: DataFrame, threshold: float = 0.9, max_df: int | None = None
) -> DataFrame:
    """Asymmetric containment |A∩B| / |A| over shingle sets — the
    subset-duplicate detector symmetric Jaccard misses: a document
    quoted or truncated inside another scores near 1.0 in the contained
    direction while its Jaccard can be arbitrarily low.  Same
    inverted-index shape (and ``max_df`` hardening) as
    :func:`ngram_jaccard_pairs`; emits both directions and keeps pairs
    where either one clears the threshold."""
    scored = _inverted_index_scores(shingles, max_df)
    c_ab = F.col("i") / F.col("na")
    c_ba = F.col("i") / F.col("nb")
    return (
        scored.where((c_ab >= threshold) | (c_ba >= threshold))
        .select(
            "doc_a",
            "doc_b",
            (F.floor(c_ab * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("cont_a_in_b"),
            (F.floor(c_ba * 1000000.0 + F.lit(0.5)) / 1000000.0).alias("cont_b_in_a"),
        )
    )
