"""Plan-regression tests: the physical properties that make the operators
100 TB-safe must not silently regress (SCALE.md contract).

Checks the formatted physical plan string — broadcast joins where dims
are joined, no accidental cartesian products, predicate pushdown reaching
the parquet scan.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ifcb_data_pipeline_spark.queries import load_all

REGISTRY = load_all()


def plan_of(spark, name, sf_dir) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize(
    "name",
    ["p1_shark_export", "a1_biovolume_rollup", "j1_enrichment_chain", "a4_monthly_stats"],
)
def test_dim_joins_broadcast(spark, sf_dir, name):
    plan = plan_of(spark, name, sf_dir)
    assert "BroadcastHashJoin" in plan, f"{name}: dim join not broadcast"
    assert "CartesianProduct" not in plan, f"{name}: unexpected cartesian product"


def optimized_plan_of(spark, name, sf_dir) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize(
    ("name", "expected_hints"),
    [
        ("j1_enrichment_chain", 2),   # nation, region
        ("a1_biovolume_rollup", 1),   # part (class dim — bounded in IFCB terms)
        ("p1_shark_export", 3),       # part-taxon map, nation, boundary patch
        ("a4_monthly_stats", 1),      # nation only — customer hint dropped r3
        ("j8_haversine_theta_join", 0),  # supplier hint dropped r3; AQE decides
    ],
)
def test_no_fact_side_broadcast_hints(spark, sf_dir, name, expected_hints):
    """Broadcast hints are pinned ONLY on genuinely bounded dims.  A hint
    on orders/customer/supplier (tables that scale with the data) forces
    an OOM attempt at 100× instead of letting AQE size the join — the
    hint count going up means a fact-side hint crept back in."""
    import re

    opt = optimized_plan_of(spark, name, sf_dir)
    hints = re.findall(r"[Hh]int=\(strategy=broadcast\)", opt)
    assert len(hints) == expected_hints, (
        f"{name}: expected {expected_hints} bounded-dim broadcast hints, "
        f"found {len(hints)} — fact-side hint added or dim hint dropped?"
    )


# Tables that scale with the data (samples / ROIs / stations / instruments):
# a broadcast hint pinned on a RAW scan of one of these forces an OOM attempt
# at 100× instead of letting AQE size the join.  Hinted sides that first pass
# through an Aggregate or Window (bounded derivations, e.g. p1's 2-rows-per-
# date boundary patch) are allowed.
_FACT_KEYS = ("o_orderkey", "l_orderkey", "c_custkey", "s_suppkey", "d_doc_id", "e_doc_id")
_SWEEP = [
    "j1_enrichment_chain", "j4_asof_join", "j4b_asof_backward", "j5_interval_join",
    "j6_coalescing_fill_join", "j7_full_outer_join", "j8_haversine_theta_join",
    "j10_semi_join", "j12_provenance_merge", "j13_classlist_full_join",
    "a1_biovolume_rollup", "a2_taxon_rollup", "a4_monthly_stats", "a5_grouped_top1",
    "p1_shark_export", "p2_hab_alert", "p3_dashboard_metadata",
]


def _iter_nodes(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _iter_nodes(children.apply(i))


@pytest.mark.parametrize("name", _SWEEP)
def test_no_hint_on_raw_fact_scan(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().analyzed()
    for node in _iter_nodes(plan):
        if "Hint" not in node.getClass().getSimpleName():
            continue
        s = node.toString()
        if "broadcast" not in s.lower():
            continue
        # hinted subtree = this node's string; bounded derivation markers
        derived = ("Aggregate [" in s) or ("Window [" in s)
        scans_fact = any(k in s for k in _FACT_KEYS)
        assert derived or not scans_fact, (
            f"{name}: broadcast hint pinned on a raw fact-table scan:\n{s[:800]}"
        )


def test_pid_stamp_is_range_partitioned(spark, sf_dir):
    """The first stage of grouped_prefix_sum is ONE range-partitioning
    exchange (total order across partitions, so spark_partition_id is
    monotone).  The combinator localCheckpoints it
    — which hides the exchange from downstream query plans — so the
    exchange is pinned here on the un-checkpointed helper directly."""
    from ifcb_data_pipeline_spark.operators.windows import pid_stamped_range

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        pid_stamped_range(df, [F.col("o_orderpriority"), F.col("o_orderkey")])
        ._jdf.queryExecution(),
        "formatted",
    )
    assert "rangepartitioning(o_orderpriority" in plan, (
        "pid_stamped_range lost its range-partitioning exchange"
    )


def test_o1_rank_is_distributed(spark, sf_dir):
    """o1's total-order rank must never run an unpartitioned Window over
    the fact table: the fact-side running count is partitioned by the
    range partition id (from the ONE checkpointed range exchange — the
    `Scan ExistingRDD` leaf), and the only SinglePartition exchange
    allowed is the cumsum over the tiny per-partition counts frame
    (≤ parallelism rows)."""
    plan = plan_of(spark, "o1_multi_key_sort", sf_dir)
    assert "Scan ExistingRDD" in plan, (
        "o1 lost the checkpointed range exchange (dual-sampling hazard back)"
    )
    assert "hashpartitioning(__pid" in plan, "fact-side window not partitioned by __pid"
    assert plan.count("SinglePartition") <= 1, "unpartitioned window over the fact table"


@pytest.mark.parametrize(
    "name",
    [
        "o1_multi_key_sort",
        "dp8_exact_quantiles",
        "tp4_curriculum_order",
        "o9_compaction_plan",
        "sp6_domain_token_cap",
        "o10_file_skipping_stats",
    ],
)
def test_rank_machinery_checkpoint_provenance(spark, sf_dir, name, monkeypatch):
    """`Scan ExistingRDD` alone is satisfied by ANY localCheckpointed
    frame, so a query that checkpoints something else while losing its
    range exchange would still pass the pins above.  Two assertions per
    rank-machinery query:

    1. The final plan must contain NO visible ``rangepartitioning`` — if
       the combinator's localCheckpoint is ever removed, its range
       exchange reappears in the downstream plan (these queries have no
       other range exchange: no final orderBy survives to the physical
       plan).
    2. Every pid-stamped range frame the query builds (spied on through
       ``windows.pid_stamped_range``) must carry the ``rangepartitioning``
       exchange stamping ``__pid`` — the range ordering the prefix-sum
       math depends on, pinned per query rather than only on the bare
       helper."""
    from ifcb_data_pipeline_spark.operators import windows

    stamped = []
    real = windows.pid_stamped_range

    def spy(df, cols):
        out = real(df, cols)
        stamped.append(out)
        return out

    monkeypatch.setattr(windows, "pid_stamped_range", spy)
    plan = plan_of(spark, name, sf_dir)
    assert "rangepartitioning(" not in plan, (
        f"{name}: visible range exchange — the combinator's localCheckpoint "
        "was lost (dual-boundary-sampling hazard is back)"
    )
    assert "Scan ExistingRDD" in plan and "hashpartitioning(__pid" in plan
    assert stamped, f"{name} did not go through the prefix-sum combinator"
    for pre in stamped:
        pre_plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            pre._jdf.queryExecution(), "formatted"
        )
        assert "rangepartitioning(" in pre_plan, (
            f"{name}: pid-stamped frame lost its range exchange"
        )
        assert "__pid" in pre_plan, f"{name}: pid-stamped frame lost the __pid stamp"


def test_tx5_topk_before_rank(spark, sf_dir):
    """tx5 must select the 50 survivors with a distributed TopK
    (TakeOrderedAndProject) BEFORE its rank window — the global window
    only ever sees 50 rows, never the whole vocabulary."""
    plan = plan_of(spark, "tx5_vocabulary", sf_dir)
    assert "TakeOrderedAndProject" in plan, "tx5 lost its distributed TopK"


def test_p1_window_is_partitioned(spark, sf_dir):
    """The bubble-adjacency window must run partitioned by sample_date
    (boundary-stitch pattern) — the only SinglePartition exchange allowed
    is the one over the per-date boundary rows (bounded by the calendar,
    2 rows/date), never over the full orders table."""
    plan = plan_of(spark, "p1_shark_export", sf_dir)
    assert "hashpartitioning(sample_date" in plan, "adjacency window lost its date partitioning"
    assert plan.count("SinglePartition") <= 1


@pytest.mark.parametrize(
    "name",
    [
        "j4_asof_join",
        "j4b_asof_backward",
        "dd2_minhash_lsh",
        "dd5_embedding_cosine_dup",
        "sim2_signlsh_ann",
        "j14_bucketed_range_join",
        "j8b_grid_spatial_join",
        "j17_point_in_time_join",
        "dd16_quality_survivor",
        "sp10_decontaminated_split",
    ],
)
def test_no_nested_loop_in_bucketed_ops(spark, sf_dir, name):
    """The as-of join and LSH candidate join must stay hash/sort-merge —
    a BroadcastNestedLoopJoin here means the bucketing decomposition
    regressed to a range join."""
    plan = plan_of(spark, name, sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan, f"{name}: degenerated to BNLJ"
    assert "CartesianProduct" not in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(spark, "f13_membership_filter", sf_dir)
    assert "PushedFilters: [" in plan
    # The status equality must be pushed, not evaluated post-scan only.
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "o_orderstatus" in pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    # f13 projects 3 of orders' 6 columns; the scan must not read the rest.
    plan = plan_of(spark, "f13_membership_filter", sf_dir)
    read_schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "o_orderpriority" in read_schema
    assert "o_totalprice" not in read_schema and "o_custkey" not in read_schema


def test_dp1_profile_is_single_scan(spark, sf_dir):
    """dp1 profiles 3 columns from ONE lineitem scan (wide agg + stack
    unpivot) — 3 separate scans means the fuse regressed."""
    plan = plan_of(spark, "dp1_column_profile", sf_dir)
    # formatted explain mentions each scan twice (tree + detail section)
    assert plan.count("Scan parquet") <= 2, "dp1 re-scans lineitem per column"


def test_dp5_correlations_single_scan(spark, sf_dir):
    """dp5 computes all six pairwise correlations from ONE lineitem scan
    (fused wide agg + stack) — per-pair scans mean the fuse regressed."""
    plan = plan_of(spark, "dp5_correlation_matrix", sf_dir)
    assert plan.count("Scan parquet") <= 2, "dp5 re-scans lineitem per pair"


def test_dp6_drift_single_scan(spark, sf_dir):
    """dp6 profiles BOTH periods from ONE events scan (conditional
    aggregates over the period flag) — a second scan or a self-join
    means the fuse regressed."""
    plan = plan_of(spark, "dp6_drift_profile", sf_dir)
    assert plan.count("Scan parquet") <= 2, "dp6 re-scans events per period"


def test_rollup_is_two_phase(spark, sf_dir):
    plan = plan_of(spark, "a1_biovolume_rollup", sf_dir)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    """Co-located fact joins: both sides bucketed on the join key ->
    the join and a follow-up same-key aggregation run with NO Exchange
    (the 100 TB amortization path, plans/bucketing.py)."""
    from pyspark.sql import functions as F

    from ifcb_data_pipeline_spark.plans.bucketing import bucketed, write_bucketed
    from ifcb_data_pipeline_spark.sources.tables import load_table

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(
            lineitem.select("l_orderkey", "l_extendedprice"),
            "b_lineitem", str(tmp_path / "b_lineitem"), ["l_orderkey"], 8,
        )
        write_bucketed(
            orders.select("o_orderkey", "o_totalprice"),
            "b_orders", str(tmp_path / "b_orders"), ["o_orderkey"], 8,
        )
        # At 100 TB neither fact side broadcasts — force that regime so the
        # test proves the co-located (bucket-aligned) join, not a broadcast.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li, od = bucketed(spark, "b_lineitem"), bucketed(spark, "b_orders")
        joined = li.join(od, li.l_orderkey == od.o_orderkey).groupBy(
            "l_orderkey"
        ).agg(F.sum("l_extendedprice").alias("s"))
        plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert "BroadcastExchange" not in plan, plan[:2000]
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_tp1_single_shuffle(spark, sf_dir):
    """tp1's whole clean->dedup->split pass costs exactly one hash
    exchange (the fp_head window); the gates fuse into the scan and the
    survivor selection must stay window-form, not groupBy+join (which
    would shuffle the gated corpus twice)."""
    import re

    df = REGISTRY["tp1_training_corpus"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "BroadcastExchange" not in plan
    assert "CartesianProduct" not in plan


def test_tp2_single_signature_join(spark, sf_dir):
    """tp2's candidate generation must stay ONE equi-join on the banded
    signature (band, sig) — a per-band join fan-out would show `bands`
    of them — with no cartesian/BNLJ anywhere and no broadcast hint
    pinned (AQE sizes every join; nothing fact-sized is forced)."""
    import re

    plan = plan_of(spark, "tp2_multimodal_corpus", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # explain("formatted") can print a node once in the tree and once in
    # the details section — dedupe on expr ids (a per-band fan-out would
    # produce distinct ids per join).
    sig_joins = set(re.findall(r"Left keys \[2\]: \[band#\d+, sig#\d+\]", plan))
    assert len(sig_joins) == 1, (
        f"expected exactly 1 banded-signature join, found {sig_joins}"
    )
    # The signature frame is pre-partitioned on the join key so both
    # sides of the self-join hang off one canonical exchange (runtime
    # ReuseExchange computes signatures/scans the corpus once per side
    # pair, not once per side).
    assert "REPARTITION_BY_COL" in plan, "signature repartition anchor lost"
    df = REGISTRY["tp2_multimodal_corpus"].fn(spark, sf_dir)
    for node in _iter_nodes(df._jdf.queryExecution().analyzed()):
        assert "Hint" not in node.getClass().getSimpleName(), (
            "tp2 must not pin broadcast hints"
        )


def test_sim8_iters_corpus_passes(spark, sf_dir):
    """sim8's k-means is plan composition: the corpus parquet is scanned
    exactly ITERS+1 times (seed centroids + one assign pass per Lloyd
    iteration) and each assign is a broadcast cross join against the
    K-row centroid frame — never a shuffled cartesian, never a
    per-iteration driver materialization (which would collapse the scan
    count)."""
    import re

    from ifcb_data_pipeline_spark.queries.similarity import _SIM8_ITERS

    plan = plan_of(spark, "sim8_kmeans_refine", sf_dir)
    scans = re.findall(r"Location: \S+ \[[^\]]*embeddings\.parquet", plan)
    assert len(scans) == _SIM8_ITERS + 1, (
        f"expected {_SIM8_ITERS + 1} corpus scans, found {len(scans)}"
    )
    bnlj = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(bnlj) == _SIM8_ITERS, (
        f"expected {_SIM8_ITERS} broadcast-centroid assigns, found {len(bnlj)}"
    )
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, "sim8 grew a corpus-sized join"


def test_pk2_chunking_is_shuffle_free(spark, sf_dir):
    """pk2's sliding-window chunking is a stateless select + explode —
    any Exchange means a shuffle crept into an embarrassingly-parallel
    operator."""
    df = REGISTRY["pk2_document_chunking"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "pk2 must stay shuffle-free"


def test_sim9_coarse_is_bounded_broadcast(spark, sf_dir):
    """sim9's only nested-loop join must be the bounded query set
    (broadcast) against the int8 codes; the stage-2 rerank joins must be
    hash/sort-merge equi-joins — a second BNLJ means the rerank
    regressed to scoring the whole corpus with floats."""
    plan = plan_of(spark, "sim9_quantized_rerank", sf_dir)
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # query-set + qe reattach
    assert "CartesianProduct" not in plan


def test_pk3_windows_are_sharded(spark, sf_dir):
    """pk3's row_number must run inside (bucket, shard) groups — an
    unpartitioned window (single-reducer global sort) is the scale
    regression the sharding exists to prevent."""
    plan = plan_of(spark, "pk3_length_bucketed_batching", sf_dir)
    import re

    assert re.search(r"hashpartitioning\(bucket#\d+L?, shard#\d+", plan), (
        "row_number exchange lost its (bucket, shard) keys"
    )
    assert re.search(r"windowspecdefinition\(bucket#\d+L?, shard#\d+", plan), (
        "window lost its shard partition spec"
    )


def test_a22_max_ts_is_broadcast(spark, sf_dir):
    """a22's global max-ts frame is 1 row; it must reach the weighting
    map-side as a broadcast, never shuffle the fact side against it."""
    plan = plan_of(spark, "a22_decayed_engagement", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    ("name", "partition_key"),
    [
        ("w9_rolling_zscore", "user_id"),
        ("dp7_binned_quantiles", "event_type"),
        ("sp6_domain_token_cap", "source"),
    ],
)
def test_new_windows_are_partitioned(spark, sf_dir, name, partition_key):
    """Every round-5 windowed operator must keep its partition key — an
    unpartitioned window is the single-reducer global sort these
    designs exist to avoid."""
    import re

    plan = plan_of(spark, name, sf_dir)
    assert re.search(
        rf"windowspecdefinition\({partition_key}#", plan
    ), f"{name}: window lost PARTITION BY {partition_key}"


def test_i8_diff_is_equi_join(spark, sf_dir):
    """i8's snapshot diff must stay a hash/sort-merge equi-join on
    doc_id — a nested-loop full-outer means the id key was lost."""
    plan = plan_of(spark, "i8_snapshot_diff", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_a24_salting_survives_optimizer(spark, sf_dir):
    """a24's two-stage salted aggregation must keep its salt: the crc32
    salt expression and two aggregation levels (four HashAggregate
    nodes: partial+final on (key, salt), then partial+final on key) —
    Catalyst collapsing them back to one groupBy would re-create the
    3-task skew funnel the operator exists to avoid."""
    plan = plan_of(spark, "a24_salted_skew_rollup", sf_dir)
    assert "crc32" in plan, "salt expression optimized away"
    assert plan.count("HashAggregate") >= 4, "salted two-stage agg collapsed"


def test_dd10_eval_side_is_broadcast(spark, sf_dir):
    """dd10's asymmetric design: the (tiny) eval band-signatures and
    signature arrays reach the training side as broadcasts — a shuffled
    band self-join here means the cross-set special case regressed to
    dd2's symmetric shape."""
    plan = plan_of(spark, "dd10_fuzzy_decontamination", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dp8_rank_is_distributed(spark, sf_dir):
    """dp8 reuses the o1 machinery: the fact-side row_number must be
    partitioned by the range-partition id, and every SinglePartition
    subtree must be bounded-frame (counts cumsum ≤ parallelism rows, the
    1-row total, the 6-row probe frame) — never the cents column itself."""
    plan = plan_of(spark, "dp8_exact_quantiles", sf_dir)
    assert "Scan ExistingRDD" in plan, (
        "dp8 lost the checkpointed range exchange (dual-sampling hazard back)"
    )
    assert "hashpartitioning(__pid" in plan, "fact-side window not partitioned by __pid"


def test_sim10_corpus_never_broadcast(spark, sf_dir):
    """PQ's whole point is that the CORPUS side stays partitioned: only
    bounded frames broadcast (r19 shape: the checkpointed ONE-row
    codebook collapse, twice, and the ≤10-row query LUT gated by a
    vec_id < k filter); a broadcast hint on an unfiltered embeddings
    subtree has inverted the design."""
    df = REGISTRY["sim10_pq_adc"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().analyzed()
    n_hints = 0
    for node in _iter_nodes(plan):
        if "Hint" not in node.getClass().getSimpleName():
            continue
        s = node.toString()
        if "broadcast" not in s.lower():
            continue
        n_hints += 1
        # the checkpointed 1-row codebook collapse renders as an RDD
        # scan; accept it ONLY with its exact single-column schema — a
        # checkpointed corpus-shaped frame must still fail this pin.
        cb_rdd = re.search(r"LogicalRDD \[__cb#\d+\]", s)
        bounded = (
            re.search(r"vec_id#\d+L? < cast\(", s) is not None
            or cb_rdd is not None
            or "Aggregate [" in s
        )
        assert bounded, f"sim10 broadcast an unbounded corpus subtree:\n{s[:500]}"
    assert n_hints >= 3, "sim10 lost its codebook/LUT broadcast hints"


def test_i9_windows_are_user_partitioned(spark, sf_dir):
    """Both of i9's windows (run-id cumsum, valid_to lead) must stay
    partitioned by user_id — no SinglePartition exchange anywhere: the
    history build never needs a global ordering."""
    plan = plan_of(spark, "i9_scd2_compaction", sf_dir)
    assert "SinglePartition" not in plan, "i9 grew an unpartitioned window"
    assert "hashpartitioning(user_id" in plan, "i9 lost its user_id partitioning"


def test_dd11_window_is_chunk_partitioned(spark, sf_dir):
    """dd11's canonical-occurrence selection must stay the two-phase min
    aggregation + chunk-keyed equi-join (skew-splittable under
    boilerplate spans) — never a global window, and the partial-agg
    phase must be present so a mega-duplicated span combines map-side."""
    plan = plan_of(spark, "dd11_span_dedup", sf_dir)
    assert "SinglePartition" not in plan, "dd11 grew an unpartitioned window"
    assert "hashpartitioning(chunk" in plan, "dd11 lost its chunk partitioning"
    assert "partial_min" in plan.lower() or "partial" in plan.lower(), (
        "dd11 lost its map-side partial aggregation"
    )


def test_sp6_prefix_sum_is_distributed(spark, sf_dir):
    """sp6's per-domain cumulative sum must be the two-level form: a
    range-partition exchange on (source, h, doc_id), the fact-side
    window partitioned by (__pid, source), and no SinglePartition
    subtree — a domain-keyed window over raw docs would serialize a
    web-crawl domain onto one task."""
    plan = plan_of(spark, "sp6_domain_token_cap", sf_dir)
    assert "Scan ExistingRDD" in plan, (
        "sp6 lost the checkpointed range exchange (dual-sampling hazard back)"
    )
    assert "hashpartitioning(__pid" in plan, "sp6 window not partitioned by __pid"
    assert "SinglePartition" not in plan, "sp6 grew an unpartitioned subtree"


def test_sp2b_local_heads_phase_present(spark, sf_dir):
    """sp2b must keep its local-heads phase: a window keyed by
    (lang, source, __pid) runs BEFORE the stratum-keyed final rank, so
    the final window only ever sees <= 3 x |partitions| rows per
    stratum.  Dropping the local phase silently reverts to sp2's
    fat-stratum shape."""
    plan = plan_of(spark, "sp2b_stratified_topk", sf_dir)
    assert re.search(r"hashpartitioning\(lang#\d+, source#\d+, __pid", plan), (
        "sp2b lost its (stratum, partition-id) local-heads window"
    )
    assert "SinglePartition" not in plan


def test_j16_no_nested_loop(spark, sf_dir):
    """j16's fact×fact interval overlap must stay a bucketed equi-join —
    no BroadcastNestedLoopJoin / CartesianProduct anywhere."""
    plan = plan_of(spark, "j16_interval_overlap", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_sp8_broadcasts_only_bucket_model(spark, sf_dir):
    """sp8's DSIR models are hashed into a fixed 2^20-bucket space, so
    the ONLY broadcast subtrees are aggregates over the bucket key (the
    ratio model, ≤ SP8_BUCKETS rows at any corpus scale) and the 1-row
    stats frame — a broadcast of the raw trigram/corpus frame (a
    LogicalRDD with doc_id, no Aggregate) is the driver-OOM regression
    the hashing exists to prevent (ADVICE r6)."""
    df = REGISTRY["sp8_importance_resampling"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().analyzed()
    n_hints, n_bucket_keyed = 0, 0
    for node in _iter_nodes(plan):
        if "Hint" not in node.getClass().getSimpleName():
            continue
        s = node.toString()
        if "broadcast" not in s.lower():
            continue
        n_hints += 1
        # r19: the bucket model is checkpointed (computed once for its
        # two consumers), so it renders as a LogicalRDD — accept it ONLY
        # with the model's exact (b, cs, ct) schema; a corpus-shaped
        # RDD (doc_id column, no bucket key) must still fail this pin.
        model_rdd = re.search(
            r"LogicalRDD \[b#\d+L?, cs#\d+L?, ct#\d+L?\]", s
        )
        assert "Aggregate [" in s or model_rdd, (
            f"sp8 broadcast a non-aggregated (corpus-shaped) subtree:\n{s[:500]}"
        )
        if re.search(r"Aggregate \[b#\d+L?\]", s) or model_rdd:
            n_bucket_keyed += 1
    assert n_hints >= 2, "sp8 lost its model/stats broadcast hints"
    assert n_bucket_keyed >= 1, "sp8's broadcast model is not keyed by the hash bucket"


def test_tp4_rank_is_distributed(spark, sf_dir):
    """tp4 ranks as a prefix sum of ones (grouped_prefix_sum): range
    exchange + __pid-partitioned window; the only SinglePartition
    subtree is the bounded offsets cumsum."""
    plan = plan_of(spark, "tp4_curriculum_order", sf_dir)
    assert "Scan ExistingRDD" in plan, (
        "tp4 lost the checkpointed range exchange (dual-sampling hazard back)"
    )
    assert "hashpartitioning(__pid" in plan, "tp4 window not partitioned by __pid"
    assert plan.count("SinglePartition") <= 1


def test_tp5_funnel_is_single_scan(spark, sf_dir):
    """tp5's four funnel stages must come from ONE pass over the corpus:
    the gate flags are checkpointed (I3), so the executed plan reads the
    materialized flags frame and contains NO parquet scan at all —
    a regression to per-stage re-derivation shows up as scans
    reappearing."""
    plan = plan_of(spark, "tp5_funnel_report", sf_dir)
    n_scans = plan.count("Scan parquet")
    assert n_scans == 0, f"tp5 re-derives the corpus ({n_scans} parquet scans)"


def test_dp9_mi_single_scan(spark, sf_dir):
    """dp9 touches the corpus exactly once: the (lang, source) contingency
    groupBy is checkpointed, so the MI/entropy algebra must run over the
    materialized joint frame with ZERO further parquet scans."""
    plan = plan_of(spark, "dp9_mutual_information", sf_dir)
    assert plan.count("Scan parquet") == 0, (
        "dp9's information algebra re-scans the corpus instead of reusing "
        "the checkpointed contingency table"
    )


def test_o9_prefix_sum_is_distributed(spark, sf_dir):
    """o9's streaming-fill bin assignment must run on the two-level
    prefix sum (grouped_prefix_sum): range-partitioned slices, window
    partitioned by (__pid, source), and no unpartitioned subtree —
    a partition-fat window here serializes the hottest table partition."""
    plan = plan_of(spark, "o9_compaction_plan", sf_dir)
    assert "Scan ExistingRDD" in plan, (
        "o9 lost the checkpointed range exchange (dual-sampling hazard back)"
    )
    assert "hashpartitioning(__pid" in plan, "o9 window not partitioned by __pid"
    assert "SinglePartition" not in plan, "o9 grew an unpartitioned subtree"


def test_tx13_query_side_broadcast(spark, sf_dir):
    """tx13's scoring join must stay a broadcast hash join on the tiny
    query/idf side — a shuffle of the postings against a vocabulary-sized
    frame (or any cartesian) means the pre-pruning regressed."""
    plan = plan_of(spark, "tx13_bm25_topk", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2, (
        "tx13 lost its broadcast query-side joins"
    )
    assert "CartesianProduct" not in plan
    # the only nested-loop allowed is the 1-row corpus-stats cross join
    # (formatted explain lists each node twice: tree + detail section)
    assert plan.count("BroadcastNestedLoopJoin") <= 2, (
        "tx13 grew a nested-loop join beyond the 1-row stats frame"
    )


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """The release-layout contract: materializing the tp1 corpus
    partitioned by split must let a split-filtered read prune at the
    PartitionFilters level (zero data files of the other split touched)
    — the layout half of the o8/o9 file-skipping story."""
    from ifcb_data_pipeline_spark.queries import load_all

    out = str(tmp_path / "release")
    load_all()["tp1_training_corpus"].fn(spark, sf_dir).write.partitionBy(
        "split"
    ).mode("overwrite").parquet(out)

    df = spark.read.parquet(out).where(F.col("split") == "train")
    plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "split" in pf, f"split filter not pushed to partition pruning: {pf}"
    # and the pruned read returns exactly the train rows
    full = load_all()["tp1_training_corpus"].fn(spark, sf_dir)
    assert df.count() == full.where(F.col("split") == "train").count()


def test_dp10_anova_single_scan(spark, sf_dir):
    """dp10's ANOVA algebra must run over the checkpointed |groups|-row
    moment frame with ZERO further parquet scans (dp9's contract)."""
    plan = plan_of(spark, "dp10_anova_eta", sf_dir)
    assert plan.count("Scan parquet") == 0, (
        "dp10 re-scans events instead of reusing the checkpointed moments"
    )


def test_i10_merge_is_single_full_outer(spark, sf_dir):
    """i10's MERGE plan: exactly one full-outer hash join on user_id —
    a nested loop or a second fact join means the latest-wins reduction
    regressed."""
    plan = plan_of(spark, "i10_merge_upsert", sf_dir)
    assert "FullOuter" in plan, "i10 lost its full-outer merge join"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_w12_no_fact_sort(spark, sf_dir):
    """w12's exact percentiles are counting-based aggregates — a
    fact-side Sort node means the plan regressed to sort-based order
    statistics (unbounded per-group memory at scale)."""
    plan = plan_of(spark, "w12_mad_outliers", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Window-free: no fact-wide Window operator anywhere
    assert "WindowExec" not in plan and "RunningWindowFunction" not in plan


def test_a26_funnel_no_nested_loop(spark, sf_dir):
    """a26's stage anchors join back on user_id — all hash joins, never
    a nested-loop time-range join."""
    plan = plan_of(spark, "a26_sequence_funnel", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tx14_is_shuffle_free_single_scan(spark, sf_dir):
    """tx14's frozen-classifier scorer is ONE map-side projection over
    one documents scan — any Exchange or second scan means the
    pure-scan quality-pass contract regressed."""
    plan = plan_of(spark, "tx14_quality_model_score", sf_dir)
    # each physical scan prints twice in formatted plans (tree + detail)
    assert plan.count("Scan parquet") == 2, "tx14 must scan documents once"
    assert "Exchange" not in plan, "tx14 must not shuffle"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dp11_psi_post_checkpoint_never_rescans(spark, sf_dir):
    """dp11's PSI algebra must run over the checkpointed (type, bin)
    count frame with ZERO further parquet scans (the dp9/dp10 contract);
    the grid-completion cross join must stay a broadcast of the tiny
    bin list."""
    plan = plan_of(spark, "dp11_psi_drift", sf_dir)
    assert plan.count("Scan parquet") == 0, (
        "dp11 re-scans events instead of reusing the checkpointed counts"
    )


def test_dd17_resolution_stays_hash_joined(spark, sf_dir):
    """dd17's candidate generation and argmax resolution must stay
    hash/sort-merge equi-joins — a BroadcastNestedLoopJoin or cartesian
    means the inverted-index decomposition regressed to all-pairs."""
    plan = plan_of(spark, "dd17_shingle_containment", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sp11_rank_has_no_per_class_window(spark, sf_dir):
    """sp11's per-class rank must come from the distributed-rank
    machinery (range exchange hidden behind the combinator's
    localCheckpoint), NOT a hashpartitioning(lang) window — a fat class
    would serialize through one task.  The only visible lang exchange
    may be the tiny class-count aggregate, never a window input."""
    plan = plan_of(spark, "sp11_class_balanced_resample", sf_dir)
    assert "Scan ExistingRDD" in plan, "rank must go through the combinator"
    assert "rangepartitioning(" not in plan, "combinator checkpoint lost"
    # the FACT-side running-sum window must be keyed by (__pid, lang) —
    # windowspecdefinition(lang, h ...) with no __pid would be the fat
    # per-class rank.  (The offsets window partitioned by lang alone is
    # fine: it runs over the bounded |langs|×|partitions| subtotal frame
    # and its spec orders by __pid, not h.)
    assert "hashpartitioning(__pid" in plan, (
        "fact-side window not partitioned by __pid — per-class rank is back"
    )
    for spec in re.findall(r"windowspecdefinition\([^)]*h#[^)]*\)", plan):
        assert "__pid" in spec, (
            f"per-class window over the fact hash order detected: {spec}"
        )


def test_dd18_is_pure_aggregation_single_scan(spark, sf_dir):
    """dd18's URL dedup is ONE documents scan feeding two hash
    aggregations of JVM string expressions — any join, window, explode
    or Python eval means the cheapest-pass contract regressed."""
    plan = plan_of(spark, "dd18_url_host_dedup", sf_dir)
    assert plan.count("Scan parquet") == 2, "dd18 must scan documents once"
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "Generate" not in plan, "dd18 must not explode"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dd19_window_is_doc_keyed(spark, sf_dir):
    """dd19's offsets/lead window must be keyed by doc_id (bounded by
    document length) — an unpartitioned window or a nested-loop join
    would collapse the manifest onto one task / all-pairs."""
    plan = plan_of(spark, "dd19_repeated_ngram_spans", sf_dir)
    assert plan.count("Scan parquet") == 2, "dd19 must scan documents once"
    assert "hashpartitioning(doc_id" in plan, "window must shuffle by doc_id"
    for spec in re.findall(r"windowspecdefinition\([^)]*\)", plan):
        assert "doc_id" in spec, f"unpartitioned window: {spec}"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tx15_single_scan_no_explode(spark, sf_dir):
    """tx15's per-word subword sum must fold JVM-side via the
    higher-order aggregate — a Generate (explode) node would fan the
    corpus out ×word-count before the lang rollup; Python eval or a
    second scan breaks the one-pass profile contract."""
    plan = plan_of(spark, "tx15_tokenizer_fertility", sf_dir)
    assert plan.count("Scan parquet") == 2, "tx15 must scan documents once"
    assert "Generate" not in plan, "tx15 must not explode words"
    assert "Join" not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dp12_rank_through_combinator_probes_broadcast(spark, sf_dir):
    """dp12's per-(type, period) rank must come from the distributed-
    rank machinery (combinator checkpoint -> Scan ExistingRDD, fact
    window keyed by __pid), never a per-type window; the 90-row probe
    frame must reach the rank side as a BroadcastHashJoin."""
    plan = plan_of(spark, "dp12_quantile_drift_gate", sf_dir)
    assert "Scan ExistingRDD" in plan, "rank must go through the combinator"
    assert "rangepartitioning(" not in plan, "combinator checkpoint lost"
    assert "hashpartitioning(__pid" in plan, (
        "fact-side window not partitioned by __pid — per-type rank is back"
    )
    for spec in re.findall(r"windowspecdefinition\([^)]*v#[^)]*\)", plan):
        assert "__pid" in spec, f"per-type window over the value order: {spec}"
    assert "BroadcastHashJoin" in plan, "probe join must broadcast"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# --- Round-10 pins: the remaining unpinned bench-headline queries -----------


def test_w1_window_is_keyed_never_global(spark, sf_dir):
    """w1's lag/lead adjacency windows must shuffle on the sample key —
    a global (SinglePartition) window would serialize the fact table
    through one task at scale."""
    plan = plan_of(spark, "w1_adjacency_removal", sf_dir)
    assert "Exchange" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_sim1_bruteforce_broadcasts_queries_only(spark, sf_dir):
    """sim1 is the exact brute-force baseline: the bounded 10-query side
    broadcasts into a nested-loop product with the corpus (by design),
    and the top-k window shuffles on query_id — never a global sort or a
    corpus-side broadcast materialization."""
    plan = plan_of(spark, "sim1_cosine_topk", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan  # the intended bounded product
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_sim1_topk_is_two_phase(spark, sf_dir):
    """No corpus-sized single partition survives in cosine_topk: the
    local-heads window must key on (query_id, spark_partition_id()) —
    splitting each query's rank across the corpus's source partitions —
    BEFORE the bounded final-rank window keyed on query_id alone.  A
    single-phase plan (one Window, no SPARK_PARTITION_ID key) sorts the
    whole corpus per query on one task at 100×."""
    plan = plan_of(spark, "sim1_cosine_topk", sf_dir)
    assert "SPARK_PARTITION_ID" in plan  # local-heads phase present
    # formatted plans print tree nodes as "Window (n)": two phases ->
    # two distinct Window nodes in the tree
    assert plan.count("Window (") >= 2


def test_tx2_is_shuffle_free_single_scan(spark, sf_dir):
    """tx2's quality scores are pure per-row projections — any Exchange
    appearing here means an accidental aggregation or join crept in."""
    plan = plan_of(spark, "tx2_quality_score", sf_dir)
    assert "Exchange" not in plan
    # formatted plans print each node in the tree AND the details
    # section, so one scan appears twice
    assert plan.count("Scan parquet") == 2


def test_pk1_packing_shuffles_once_per_shard(spark, sf_dir):
    """pk1's sequence packing runs applyInPandas per shard: one grouped
    exchange feeding FlatMapGroupsInPandas, never a global collapse."""
    plan = plan_of(spark, "pk1_sequence_packing", sf_dir)
    assert "FlatMapGroupsInPandas" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_tp3_incremental_is_unioned_pushed_scans(spark, sf_dir):
    """tp3's incremental refresh is three filtered scans unioned —
    zero shuffles, with the carry/delta predicates pushed to parquet.
    An Exchange here means the refresh started re-aggregating history."""
    plan = plan_of(spark, "tp3_incremental_refresh", sf_dir)
    assert "Exchange" not in plan
    assert "Union" in plan
    # 3 scans x (tree + details section)
    assert plan.count("Scan parquet") == 6
    assert "PushedFilters" in plan


def test_mm9_dhash_grouping_stays_hash_keyed(spark, sf_dir):
    """mm9 groups the decoded corpus by the 64-bit dHash halves — a
    balanced hash shuffle; no pair join, no clustering funnel.

    r18: `explode_bins_to_rois` sizes its round-robin width from the
    measured ROI count (guide §2.2), so at test SFs the expansion
    exchange legitimately resolves to ONE partition — visible as
    `SinglePartition, REPARTITION_BY_NUM` (an explicit repartition(n)
    with data-derived n, parallelism-capped at scale).  The scale
    killer this test guards against is a SinglePartition that Catalyst
    INSERTS to satisfy a global sort/window/agg requirement
    (ENSURE_REQUIREMENTS) — still banned."""
    plan = plan_of(spark, "mm9_perceptual_dedup", sf_dir)
    assert "MapInPandas" in plan  # Arrow-batched decode
    for origin in re.findall(r"SinglePartition, (\w+)", plan):
        assert origin == "REPARTITION_BY_NUM", plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dd13_contraction_round_has_no_product_joins(spark, sf_dir):
    """dd13's star-contraction rounds are keyed sort-merge/hash joins
    over checkpointed edge frames — a cartesian or nested-loop join in
    the per-round plan would be quadratic at corpus scale."""
    plan = plan_of(spark, "dd13_star_components", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan


# --- Registry-wide physical-shape sweep (round 10) --------------------------
#
# Every query's formatted plan, one pass: no CartesianProduct anywhere,
# and nested-loop joins / single-partition exchanges only where a
# bounded (1-row / |dims|-row aggregate or explicit tiny-side) frame
# makes them the correct plan.  A name showing up outside its allowlist
# is the review trigger: either the new shape is a scale hazard, or the
# allowlist is updated as part of a deliberate design decision.

# crossJoin(broadcast(<1-row aggregate>)) and bounded-query-side
# products plan as BroadcastNestedLoopJoin — benign by construction.
_BNLJ_OK = {
    "a22_decayed_engagement", "dd14_lsh_recall", "dd15_lsh_parameter_sweep",
    "dp11_psi_drift", "dp4_domain_mixture", "dp9_mutual_information",
    "j5_interval_join", "mm6_augmentation_panel", "p3_dashboard_metadata",
    "sim10_pq_adc", "sim11_mips_topk", "sim1_cosine_topk", "sim4_ivf_search",
    "sim5_ivf_nprobe2", "sim7_filtered_ann", "sim8_kmeans_refine",
    "sim9_quantized_rerank", "sp11_class_balanced_resample",
    "sp4_mixture_materialize", "sp5_temperature_resampling",
    "sp8_importance_resampling", "tx10_tfidf_top_terms", "tx13_bm25_topk",
    "tx6_trigram_logprob",
    # 1-row broadcast totals / collapsed scale vectors plan as BNLJ;
    # w15 crossJoins a 1-row broadcast totals frame.
    "a29_cms_heavy_hitters", "sim13_int8_quant_error",
    "sp12_grouped_split_balance", "w15_ks_two_sample",
    # r18 histogram-first dp8: the 6-row broadcast probe frame joins the
    # bounded (value-domain-sized) histogram on a rank-range predicate —
    # BNLJ over |distinct cents| × 6, the same bounded-broadcast-totals
    # shape as the entries above.
    "dp8_exact_quantiles",
}

# SinglePartition exchanges over already-aggregated bounded frames
# (global 1-row totals, |dims|-row offset cumsums, final top-k merges).
_SINGLEPART_OK = {
    "a22_decayed_engagement", "a25_survival_curve", "dd14_lsh_recall",
    "dd15_lsh_parameter_sweep", "dp10_anova_eta", "dp1_column_profile",
    "dp4_domain_mixture", "dp5_correlation_matrix", "dp8_exact_quantiles",
    "dp9_mutual_information", "o1_multi_key_sort", "p1_shark_export",
    "sim11_mips_topk", "sp11_class_balanced_resample",
    "sp4_mixture_materialize", "sp5_temperature_resampling",
    "sp8_importance_resampling", "tp4_curriculum_order", "tp5_funnel_report",
    "tx10_tfidf_top_terms", "tx13_bm25_topk", "tx6_trigram_logprob",
    "w10_cumulative_distinct",
    # 1-row total aggs, grouped_prefix_sum's bounded offsets cumsum, w15's
    # domain-bounded CDF window
    "a29_cms_heavy_hitters", "sim13_int8_quant_error",
    "sp12_grouped_split_balance", "o10_file_skipping_stats",
    "w15_ks_two_sample",
}

# r18: `explode_bins_to_rois` consumers — the expansion's round-robin
# width is derived from the measured ROI count (guide §2.2,
# operators/multimodal.py), so at test SFs it resolves to ONE partition.
# That exchange prints as `SinglePartition, REPARTITION_BY_NUM` (an
# explicit repartition(n) whose data-derived n is parallelism-capped at
# scale) — structurally different from a SinglePartition that Catalyst
# inserts to satisfy a global ordering/grouping requirement
# (ENSURE_REQUIREMENTS), which stays banned for these names.
_EXPLODE_WIDTH_OK = {
    "mm1_multimodal_features", "mm3_resize_normalize", "mm8_patchify",
    "mm9_perceptual_dedup",
}

# r18 map-only IVF assignment (ADVICE r18: gate on exchange CONTEXT, not
# a wholesale name allowlist): the coarse quantizer (|cells| rows by
# construction) is collapsed to ONE array<struct<label, cv>> row before
# broadcast.  That collapse prints as `SinglePartition,
# ENSURE_REQUIREMENTS` — the same origin tag as a Catalyst-inserted
# global sort/window funnel — so the sweep instead requires every
# SinglePartition exchange in these plans to be fed by a
# partial_collect_list aggregate (the bounded collapse), which a
# regression funnel would not be.
_QUANTIZER_COLLAPSE_OK = {
    "sim4_ivf_search", "sim5_ivf_nprobe2", "sim8_kmeans_refine",
}


def _singlepart_blocks_all_collect_list(plan: str) -> bool:
    """True iff every `Exchange ... SinglePartition` detail block is
    immediately preceded by a partial_collect_list aggregate block."""
    blocks = plan.split("\n\n")
    for i, b in enumerate(blocks):
        if re.search(r"\(\d+\) Exchange", b) and "SinglePartition" in b:
            if i == 0 or "partial_collect_list" not in blocks[i - 1]:
                return False
    return True


def test_registry_wide_no_scale_killers(spark, sf_dir):
    violations = []
    for name, q in sorted(REGISTRY.items()):
        plan = plan_of(spark, name, sf_dir)
        if "CartesianProduct" in plan:
            violations.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_OK:
            violations.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        if "SinglePartition" in plan and name not in _SINGLEPART_OK:
            origins = re.findall(r"SinglePartition, (\w+)", plan)
            if name in _QUANTIZER_COLLAPSE_OK:
                if not _singlepart_blocks_all_collect_list(plan):
                    violations.append(
                        f"{name}: SinglePartition exchange not fed by the "
                        "bounded quantizer collect_list collapse"
                    )
            elif not (
                name in _EXPLODE_WIDTH_OK
                and origins
                and all(o == "REPARTITION_BY_NUM" for o in origins)
            ):
                violations.append(f"{name}: unexpected SinglePartition exchange")
    assert not violations, "\n".join(violations)


# --- round-14 registrations: structural pins at the tx16 grade ---------------


def test_j18_bloom_probe_is_broadcast_on_bounded_bit_key(spark, sf_dir):
    """j18's bit-membership probe must stay a BroadcastHashJoin keyed on
    the MODULAR bit column — the build side is structurally bounded at
    m = 2^17 distinct BIGINTs regardless of build-set cardinality (the
    tx16 lesson made structural).  A SortMergeJoin here would re-shuffle
    the 3×-exploded customer probe frame on every run."""
    plan = plan_of(spark, "j18_bloom_join_prefilter", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert "% 131072" in plan, "fixed bit-space modulo projection missing"
    lkeys = re.findall(r"Left keys \[\d+\]: \[(\w+)#", plan)
    assert "bit" in lkeys, f"no join keyed on the bounded bit column: {lkeys}"


def test_a30_bottomk_uses_local_heads_ladder(spark, sf_dir):
    """a30's bottom-k must run the sp2b local-heads discipline: the FIRST
    rank window is partitioned by (month, __pid) so the month-only final
    window ever sees ≤ k·|partitions| rows — a single month-keyed window
    over the raw distinct-hash frame would serialize a hot month."""
    plan = plan_of(spark, "a30_bottomk_distinct_sample", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "SinglePartition" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*?), h#", plan)
    assert any("__pid" in s for s in specs), (
        f"local-heads (month, __pid) window missing: {specs}"
    )
    assert any("__pid" not in s for s in specs), (
        "final month-keyed window missing"
    )


def test_dp13_totals_join_is_broadcast(spark, sf_dir):
    """dp13's per-type totals frame is ≤|event types| rows — it must ride
    a BroadcastHashJoin on event_type, and the digit frame must come from
    the checkpointed single scan (scan budget pinned in
    test_r15_checkpoint_scan_budget)."""
    plan = plan_of(spark, "dp13_leading_digit_audit", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "SinglePartition" not in plan
    lkeys = re.findall(r"Left keys \[\d+\]: \[(\w+)#", plan)
    assert "event_type" in lkeys


def test_w15_argmax_probe_is_broadcast(spark, sf_dir):
    """w15's two-pass argmax joins the domain-bounded diff frame against
    a broadcast 1-row max — no sort-merge, and the only SinglePartition
    frames are the 1-row total aggregates (allowlisted)."""
    plan = plan_of(spark, "w15_ks_two_sample", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    lkeys = re.findall(r"Left keys \[\d+\]: \[(\w+)#", plan)
    assert "num" in lkeys


# --- tx16/pk4/i13/w14 and the a30/j18/w15/dp13 scan budget --------------------


def test_tx16_vocab_join_is_broadcast(spark, sf_dir):
    """The membership join's build side is the vocab projected into the
    fixed 2^22 hash-bucket space — ≤ 2^22 BIGINT rows at ANY corpus scale
    (r12-verdict fix), so forcing a broadcast hash join is legitimate and
    a shuffled sort-merge (which would re-shuffle the whole tokenized
    corpus on the join key) must not appear."""
    plan = plan_of(spark, "tx16_bigram_vocab_coverage", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # The pin that would have caught the original defect (the r12 verdict
    # flag): the join must be keyed on the BOUNDED hashed bucket (hb),
    # never the raw bigram string — a plan-level guarantee the build side
    # is <= 2^22 rows.  The bucket projection must appear in the plan.
    import re

    from ifcb_data_pipeline_spark.queries.text import TX16_BUCKETS

    lk = re.search(r"Left keys \[1\]: \[(\w+)#", plan)
    rk = re.search(r"Right keys \[1\]: \[(\w+)#", plan)
    assert lk and rk, "BroadcastHashJoin keys not found in formatted plan"
    assert lk.group(1) == "hb" and rk.group(1) == "hb", (
        f"membership join keyed on ({lk.group(1)}, {rk.group(1)}), not the "
        "bounded hash bucket"
    )
    assert f"% {TX16_BUCKETS}" in plan, "fixed bucket-space projection missing"


def test_pk4_has_no_window_and_two_corpus_scans(spark, sf_dir):
    """pk4's boundary detection + interval construction live in array
    higher-order functions on the document row: no Window operator.  The
    chunk stream is derived twice (dup-agg side and probe side — the same
    recompute-over-checkpoint call dd20 makes), so exactly two pushed
    parquet scans and no more."""
    import re

    plan = plan_of(spark, "pk4_cdc_chunking", sf_dir)
    assert "Window" not in plan, "pk4 regressed to the window/join-back shape"
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2


def test_i13_is_checkpoint_fed(spark, sf_dir):
    """The distinct-shingle and hashed frames are localCheckpoint-ed, so
    the executed plan reads materialized RDDs — ZERO parquet re-scans
    across the five signature/set consumers (12 scans without it)."""
    import re

    plan = plan_of(spark, "i13_incremental_minhash", sf_dir)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0


def test_w14_is_single_scan_no_join(spark, sf_dir):
    import re

    plan = plan_of(spark, "w14_spearman_trend", sf_dir)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan


def test_r15_checkpoint_scan_budget(spark, sf_dir):
    """Each op's executed plan re-scans parquet at most once: the shared
    frames (a30's distinct hashes, j18's build keys, dp13's digit frame,
    w15's cents and diff frames) are localCheckpoint-ed."""
    import re

    budget = {
        "a30_bottomk_distinct_sample": 1,  # the exact-twin orders scan
        "j18_bloom_join_prefilter": 1,  # the customer probe scan
        "w15_ks_two_sample": 0,
        "dp13_leading_digit_audit": 0,
    }
    for name, max_scans in budget.items():
        plan = plan_of(spark, name, sf_dir)
        n = len(re.findall(r"\(\d+\) Scan parquet", plan))
        assert n <= max_scans, f"{name}: {n} parquet scans (budget {max_scans})"
