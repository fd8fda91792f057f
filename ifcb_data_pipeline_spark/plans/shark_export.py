"""Composed pipeline mirroring the reference's annual SHARK export
(SURVEY §3.1, ``ifcb-data-pipeline.Rmd`` stages 4-11).

Stage map (reference → here):
  biovolume rollup (Rmd:476-486)      → per-(sample, taxon) aggregation
  7-way join chain (Rmd:1094-1103)    → broadcast enrichment joins
  taxa cleaning (Rmd:936-971)         → clean_taxa_name on the class label
  bubble adjacency (Rmd:1270-1297)    → window over samples ordered by date
  per-liter + signif (Rmd:1398-1443)  → COEFF math + signif(·, 6)

Bounded dims (nation, the per-part taxon map, the per-date boundary
patch) broadcast; sample-scale tables (orders, customer) are left to AQE.
The bubble-adjacency window is partitioned by sample date with a
boundary stitch — no single-partition exchange anywhere in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import dround, signif
from ..functions.taxa import clean_taxa_name
from ..operators.windows import stitched_adjacency_flag
from ..queries._util import taxa_label_expr


def shark_export(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    part: DataFrame,
) -> DataFrame:
    # Taxa cleaning runs on the *dimension* (one row per part), never on
    # the per-ROI fact rows — the SURVEY §2.8 C4 rule: resolve distinct
    # names once, broadcast the mapping.  22 regexes × 2k dim rows instead
    # of × 600M fact rows at scale.
    label = taxa_label_expr(F.col("p_name"), F.col("p_partkey"))
    part_taxon = part.select(
        "p_partkey", clean_taxa_name(label).alias("taxon")
    )
    # Biovolume is summed in EXACT integer 1e-4 units (price and discount
    # are 2-decimal literals, so price_cents*(100-disc_cents) is an exact
    # BIGINT): a double sum's low bits depend on accumulation order, and
    # the signif-6 floor downstream can sit exactly on a boundary for
    # finite-decimal data — the a17 failure mode the round-5 sf0.1 sweep
    # exposed.  An order-insensitive integer sum is immune at any scale.
    vol_e4 = F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast(
        "long"
    ) * (100 - F.floor(F.col("l_discount") * 100.0 + F.lit(0.5)).cast("long"))
    per_roi = (
        lineitem.join(F.broadcast(part_taxon), F.col("l_partkey") == F.col("p_partkey"))
        .where(F.col("l_quantity") > 0)
        .select(
            F.col("l_orderkey").alias("sample"),
            F.col("taxon"),
            vol_e4.alias("vol_e4"),
        )
    )
    rolled = per_roi.groupBy("sample", "taxon").agg(
        F.count(F.lit(1)).alias("counts"),
        (F.sum("vol_e4").cast("double") / 10000.0).alias("vol_sum"),
    )

    # Sample metadata ("hdr"): date, ml_analyzed, and "bubble" QC flag;
    # bubble samples kill their date-ordered neighbors (Rmd:1270-1297).
    # The adjacency window is partitioned by sample_date with boundary
    # stitching (operators.windows.stitched_adjacency_flag) — no
    # single-partition global Window at any scale.
    base = orders.select(
        F.col("o_orderkey").alias("sample"),
        F.col("o_orderdate").alias("sample_date"),
        (F.col("o_totalprice") / 1000.0).alias("ml_analyzed"),
        F.col("o_custkey"),
        (F.col("o_orderstatus") == "P").alias("__bubble"),
    )
    hdr = (
        stitched_adjacency_flag(
            base,
            F.col("__bubble"),
            bucket_col="sample_date",
            order_by=["sample_date", "sample"],
            out_col="qc_drop",
        )
        .where(~F.col("qc_drop"))
        .drop("__bubble", "qc_drop")
    )

    # Geo enrichment: customer → nation ("basin").  customer scales with
    # the data — no broadcast hint; AQE picks the strategy by size.
    geo = customer.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).select(F.col("c_custkey"), F.col("n_name").alias("basin"))

    # Join geo onto hdr BEFORE the rollup join (round 18): the custkey
    # exchange then carries |samples| header rows instead of the
    # |sample × taxon| merged frame (which also drags the taxon strings
    # through the shuffle).  Left-join associativity holds because the
    # geo key (o_custkey) lives entirely on hdr and the rollup join is
    # an inner equi-join on sample — row-for-row the same output.
    hdr_geo = hdr.join(geo, hdr.o_custkey == geo.c_custkey, "left")
    merged = rolled.join(hdr_geo, "sample")

    coeff = dround(F.lit(1000.0) / F.col("ml_analyzed"), 1)
    abund = dround(F.col("counts") * 1000.0 / F.col("ml_analyzed"), 1)
    # signif(x, 6) — functions.scalars.signif uses the same cross-engine
    # floor-form rounding as the rest of the repo.
    biovol = signif(F.col("vol_sum"), 6)
    return merged.select(
        "sample",
        "taxon",
        F.col("basin"),
        F.date_format("sample_date", "yyyy-MM-dd").alias("sdate"),
        F.month("sample_date").alias("month"),
        F.month("sample_date").between(5, 10).alias("in_season"),
        F.col("counts"),
        coeff.alias("coeff"),
        abund.alias("abund_per_l"),
        biovol.alias("biovol_signif6"),
    )
