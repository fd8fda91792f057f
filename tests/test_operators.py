"""Unit tests for operator combinators and scalar functions (SURVEY §5 T1)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ifcb_data_pipeline_spark.functions.bin_id import make_bin_id, parse_bin_id
from ifcb_data_pipeline_spark.functions.scalars import signif
from ifcb_data_pipeline_spark.functions.taxa import clean_taxa_name, species_flag
from ifcb_data_pipeline_spark.operators.joins import asof_join, interval_join
from ifcb_data_pipeline_spark.operators.windows import adjacency_flag_filter, gap_fill


def ts(s):
    return dt.datetime.fromisoformat(s)


def test_parse_bin_id_roundtrip(spark):
    df = spark.createDataFrame(
        [("D20240423T115846_IFCB127",), ("garbage",)], ["pid"]
    ).withColumn("p", parse_bin_id(F.col("pid")))
    rows = {r["pid"]: r["p"] for r in df.collect()}
    good = rows["D20240423T115846_IFCB127"]
    assert good["valid"] and good["ifcb_number"] == "IFCB127"
    assert good["timestamp"] == ts("2024-04-23T11:58:46")
    assert good["year"] == 2024 and good["time"] == "11:58:46"
    assert not rows["garbage"]["valid"] and rows["garbage"]["timestamp"] is None


def test_make_bin_id_inverse(spark):
    df = spark.createDataFrame([(ts("2024-04-23T11:58:46"),)], ["t"]).select(
        make_bin_id(F.col("t"), 127).alias("pid")
    )
    assert df.first()["pid"] == "D20240423T115846_IFCB127"


def test_clean_taxa_name_reference_cases(spark):
    # anchors: c1 (the taxa-clean cascade truth table, reference cases)
    # Semantics from ifcb-data-pipeline.Rmd:936-971.
    cases = {
        "Nodularia_spumigena_coil,Nodularia_spumigena_filament": "Nodularia spumigena",
        "Dolichospermum_spp": "Dolichospermum",
        "Snowella_Woronichinia": "Snowella/Woronichinia",
        "Mesodinium_rubrum_single_cell": "Mesodinium rubrum",
        "Chaetoceros_cf_throndsenii": "Chaetoceros  throndsenii".replace("  ", " "),
    }
    df = spark.createDataFrame([(k,) for k in cases], ["raw"]).withColumn(
        "clean", clean_taxa_name(F.col("raw"))
    )
    got = {r["raw"]: r["clean"] for r in df.collect()}
    for raw, want in cases.items():
        assert got[raw] == want, (raw, got[raw], want)


def test_species_flag_precedence(spark):
    df = spark.createDataFrame(
        [("Genus_cf_species",), ("Genus_spp",), ("Genus_sp",), ("Some_group",), ("Plain",)],
        ["raw"],
    ).withColumn("f", species_flag(F.col("raw")))
    got = [r["f"] for r in df.collect()]
    assert got == ["CF", "SPP", "SP", "GRP", None]


def test_signif_matches_r_semantics(spark):
    df = spark.createDataFrame(
        [(123456.789,), (0.000123456,), (0.0,), (987654321.0,)], ["x"]
    ).select(signif(F.col("x"), 3).alias("s"))
    got = [r["s"] for r in df.collect()]
    assert got[0] == pytest.approx(123000.0)
    assert got[1] == pytest.approx(0.000123)
    assert got[2] == 0.0
    assert got[3] == pytest.approx(988000000.0)


def test_asof_join_nearest_and_tolerance(spark):
    left = spark.createDataFrame(
        [(1, ts("2024-01-01T00:10:00")), (2, ts("2024-01-01T05:00:00"))],
        ["id", "t"],
    )
    right = spark.createDataFrame(
        [
            (100, ts("2024-01-01T00:08:30")),
            (101, ts("2024-01-01T00:12:00")),
            (102, ts("2024-01-01T09:00:00")),
        ],
        ["rid", "rt"],
    )
    out = asof_join(left, right, "t", "rt", tolerance_seconds=300, tie_break=["rid"])
    got = {r["id"]: r["rid"] for r in out.collect()}
    assert got[1] == 100  # 90 s away beats 120 s away
    assert got[2] is None  # nothing within ±5 min → null, row kept


def test_asof_join_backward_direction(spark):
    left = spark.createDataFrame([(1, ts("2024-01-01T00:10:00"))], ["id", "t"])
    right = spark.createDataFrame(
        [(100, ts("2024-01-01T00:09:00")), (101, ts("2024-01-01T00:10:30"))],
        ["rid", "rt"],
    )
    out = asof_join(
        left, right, "t", "rt", tolerance_seconds=300, direction="backward",
        tie_break=["rid"],
    )
    assert out.first()["rid"] == 100  # forward candidate 30 s away ignored


def test_interval_join_multi_match(spark):
    pts = spark.createDataFrame([(1, ts("2024-01-05T00:00:00"))], ["id", "t"])
    iv = spark.createDataFrame(
        [
            ("c1", ts("2024-01-01T00:00:00"), ts("2024-01-10T00:00:00")),
            ("c2", ts("2024-01-04T00:00:00"), ts("2024-01-06T00:00:00")),
            ("c3", ts("2024-02-01T00:00:00"), ts("2024-02-02T00:00:00")),
        ],
        ["c", "s", "e"],
    )
    out = interval_join(pts, iv, "t", "s", "e")
    assert sorted(r["c"] for r in out.collect()) == ["c1", "c2"]


def test_adjacency_filter_kills_neighbors(spark):
    # anchors: w1 (bubble adjacency kill semantics, hand-built cases)
    rows = [(i, "bubbles" if i == 3 else "ok") for i in range(6)]
    df = spark.createDataFrame(rows, ["i", "flag"])
    out = adjacency_flag_filter(df, "flag", "bubbles", order_by=["i"])
    assert sorted(r["i"] for r in out.collect()) == [0, 1, 5]


def test_gap_fill_downup(spark):
    rows = [(1, 1, None), (1, 2, 5.0), (1, 3, None), (1, 4, None), (2, 1, None)]
    df = spark.createDataFrame(rows, ["g", "i", "v"])
    out = gap_fill(df, ["v"], partition_by=["g"], order_by=["i"])
    got = {(r["g"], r["i"]): r["v"] for r in out.collect()}
    assert got[(1, 1)] == 5.0  # up-fill
    assert got[(1, 3)] == 5.0 and got[(1, 4)] == 5.0  # down-fill
    assert got[(2, 1)] is None  # all-null group stays null


def test_parse_legacy_bin_id(spark):
    from ifcb_data_pipeline_spark.functions.bin_id import parse_legacy_bin_id

    df = spark.createDataFrame(
        [("IFCB1_2014_188_222013",), ("nope",)], ["pid"]
    ).withColumn("p", parse_legacy_bin_id(F.col("pid")))
    rows = {r["pid"]: r["p"] for r in df.collect()}
    good = rows["IFCB1_2014_188_222013"]
    # Day 188 of 2014 = July 7.
    assert good["valid"] and good["ifcb_number"] == "IFCB1"
    assert good["timestamp"] == ts("2014-07-07T22:20:13")
    assert not rows["nope"]["valid"]


def test_tag_polygons_numpy_exact(spark):
    """S11/J9 exact geometry without shapely: ray-casting containment and
    near-boundary distance, verified on a non-convex polygon."""
    import numpy as np

    from ifcb_data_pipeline_spark.operators.geo import tag_polygons

    # L-shaped (non-convex) "basin": containment must respect the notch.
    lshape = [(10.0, 54.0), (14.0, 54.0), (14.0, 56.0), (12.0, 56.0),
              (12.0, 58.0), (10.0, 58.0)]
    pts = spark.createDataFrame(
        [
            (1, 55.0, 11.0),   # inside the lower arm
            (2, 57.0, 11.0),   # inside the upper arm
            (3, 57.0, 13.0),   # in the notch → outside
            (4, 53.0, 11.0),   # fully outside
            (5, 54.004, 11.0), # inside, ~0.004° from the south edge → near
        ],
        "id int, lat double, lon double",
    )
    out = {r.id: r for r in tag_polygons(pts, [("L", lshape)]).collect()}
    assert out[1].basin == "L" and out[2].basin == "L"
    assert out[3].basin is None and out[4].basin is None
    assert out[5].basin == "L" and out[5].near_land
    assert not out[1].near_land
    # Rectangle polygon agrees with the rect fast path on containment.
    from ifcb_data_pipeline_spark.operators.geo import tag_basins_rect

    rng = np.random.RandomState(11)
    sample = spark.createDataFrame(
        [(i, 53.0 + 8 * float(rng.rand()), 7.0 + 16 * float(rng.rand()))
         for i in range(200)],
        "id int, lat double, lon double",
    )
    box = ("Kattegat", 55.5, 57.5, 10.0, 13.0)
    ring = [(10.0, 55.5), (13.0, 55.5), (13.0, 57.5), (10.0, 57.5)]
    a = {r.id: r.basin for r in tag_basins_rect(sample, boxes=[box]).collect()}
    b = {r.id: r.basin for r in tag_polygons(sample, [("Kattegat", ring)]).collect()}
    agree = sum(1 for i in a if (a[i] == "Kattegat") == (b[i] == "Kattegat"))
    assert agree >= 198  # boundary-point conventions may differ on edges


def test_stitched_adjacency_equals_global_window(spark):
    """Property check: the date-partitioned boundary-stitch adjacency
    must be row-identical to the naive single-partition global window on
    adversarial bucket layouts (singleton buckets, all-hit buckets,
    hits exactly at bucket edges)."""
    import random

    from pyspark.sql import Window

    from ifcb_data_pipeline_spark.operators.windows import stitched_adjacency_flag

    rng = random.Random(17)
    rows, key = [], 0
    for day in range(1, 15):
        for _ in range(rng.choice([1, 1, 2, 5, 9])):  # many singleton days
            key += 1
            rows.append((f"2024-03-{day:02d}", key, rng.random() < 0.25))
    df = spark.createDataFrame(rows, "d string, k long, hit boolean").withColumn(
        "d", F.to_date("d")
    )
    got = stitched_adjacency_flag(
        df, F.col("hit"), bucket_col="d", order_by=["d", "k"], out_col="adj"
    ).select("k", "adj")
    w = Window.orderBy("d", "k")
    want = df.select(
        "k",
        (
            F.col("hit")
            | F.coalesce(F.lag("hit").over(w), F.lit(False))
            | F.coalesce(F.lead("hit").over(w), F.lit(False))
        ).alias("adj"),
    )
    g = {r.k: r.adj for r in got.collect()}
    e = {r.k: r.adj for r in want.collect()}
    assert g == e


def test_image_codec_pgm_roundtrip():
    import numpy as np

    from ifcb_data_pipeline_spark.operators.image_codec import (
        decode_image,
        decode_pgm,
        encode_pgm,
    )

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(17, 23), dtype=np.uint8)
    buf = encode_pgm(img)
    assert buf.startswith(b"P5\n23 17\n255\n")
    np.testing.assert_array_equal(decode_pgm(buf), img)
    np.testing.assert_array_equal(decode_image(buf), img)
    # P2 (ASCII) with a comment line
    small = np.array([[0, 128], [255, 7]], dtype=np.uint8)
    p2 = b"P2\n# comment\n2 2\n255\n0 128\n255 7\n"
    np.testing.assert_array_equal(decode_pgm(p2), small)


def test_image_codec_bmp():
    import struct

    import numpy as np

    from ifcb_data_pipeline_spark.operators.image_codec import decode_image

    # hand-built 3x2 8-bpp bottom-up BMP, rows padded to 4 bytes
    w, h = 3, 2
    rows = [bytes([10, 20, 30, 0]), bytes([40, 50, 60, 0])]  # bottom row first
    data = b"".join(rows)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(data), 0, 0, 0, 0)
    off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    img = decode_image(hdr + dib + data)
    np.testing.assert_array_equal(
        img, np.array([[40, 50, 60], [10, 20, 30]], dtype=np.uint8)
    )


def test_image_codec_raw_and_unsupported():
    import numpy as np
    import pytest as _pytest

    from ifcb_data_pipeline_spark.operators.image_codec import (
        UnsupportedImageError,
        decode_image,
    )

    raw = bytes(range(12))
    np.testing.assert_array_equal(
        decode_image(raw, 4, 3), np.arange(12, dtype=np.uint8).reshape(3, 4)
    )
    with _pytest.raises(UnsupportedImageError):
        decode_image(raw)  # headerless without dims
    with _pytest.raises(UnsupportedImageError):
        decode_image(b"\x89PNG\r\n\x1a\n....", 4, 3)  # looks raw but too short


def test_resize_nearest_floor_mapping():
    import numpy as np

    from ifcb_data_pipeline_spark.operators.image_codec import resize_nearest

    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    up = resize_nearest(img, 6, 8)
    assert up.shape == (6, 8)
    # floor mapping: dst row y → src row (y*3)//6
    np.testing.assert_array_equal(up[0], img[0][(np.arange(8) * 4) // 8])
    down = resize_nearest(img, 1, 2)
    np.testing.assert_array_equal(down, [[img[0, 0], img[0, 2]]])


def test_sample_video_frames_slicing(spark):
    import numpy as np

    from ifcb_data_pipeline_spark.operators.image_codec import decode_pgm
    from ifcb_data_pipeline_spark.operators.multimodal import sample_video_frames

    w = h = 4
    n = 7
    slab = np.arange(n * w * h, dtype=np.uint8)
    videos = spark.createDataFrame(
        [("v1", n, w, h, bytearray(slab.tobytes()))],
        "video_id string, n_frames int, width int, height int, payload binary",
    )
    rows = sample_video_frames(videos, every_k=3).orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in rows] == [0, 3, 6]
    f3 = decode_pgm(bytes(rows[1]["image"]))
    np.testing.assert_array_equal(
        f3, slab[3 * 16 : 4 * 16].reshape(4, 4)
    )


def test_audio_frame_features_analytic(spark):
    """Audio kernel vs closed-form signals: a constant signal has
    RMS = |c| and ZCR 0; a full-swing alternating signal has ZCR 1 and
    RMS = amplitude; trailing partial frames are dropped."""
    import numpy as np

    from ifcb_data_pipeline_spark.operators.multimodal import (
        AUDIO_SCHEMA,
        audio_frame_features,
    )

    const = np.full(130, 7, dtype=np.int8)           # 2 frames + 2 leftover
    alt = (np.tile([50, -50], 64)).astype(np.int8)   # 2 frames exactly
    rows = [
        ("const", 130, 16000, bytes(const.tobytes())),
        ("alt", 128, 16000, bytes(alt.tobytes())),
    ]
    audio = spark.createDataFrame(rows, AUDIO_SCHEMA)
    out = {
        (r["audio_id"], r["frame_idx"]): r
        for r in audio_frame_features(audio, frame=64).collect()
    }
    assert len(out) == 4  # 2 frames each; partial frame dropped
    assert out[("const", 0)]["rms"] == 7.0
    assert out[("const", 1)]["zcr"] == 0.0
    assert out[("alt", 0)]["rms"] == 50.0
    assert out[("alt", 0)]["zcr"] == 1.0
    assert out[("alt", 1)]["peak"] == 50


def _components(monkeypatch, edges, local_finish=None):
    """``connected_components(edges)`` and the star rounds it ran, counted
    by a spy on ``graph._large_star`` (one call per star round).
    ``local_finish`` patches the single-task endgame threshold; ``0``
    forces star rounds to the fixpoint."""
    from ifcb_data_pipeline_spark.operators import graph

    calls: list = []
    large_star = graph._large_star

    def spy(e):
        calls.append(1)
        return large_star(e)

    with monkeypatch.context() as m:
        m.setattr(graph, "_large_star", spy)
        if local_finish is not None:
            m.setattr(graph, "_LOCAL_FINISH_EDGES", local_finish)
        labels = graph.connected_components(edges)
    return labels, len(calls)


def _random_edges(spark, seed, n_nodes, n_edges):
    """Deterministic pseudo-random ``(src, dst)`` pairs, self-loops dropped."""
    import random

    rng = random.Random(seed)
    raw = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    raw = [(a, b) for a, b in raw if a != b]
    return raw, spark.createDataFrame(raw, "src long, dst long")


def test_connected_components_chain_logarithmic(spark, monkeypatch):
    """A 200-node chain: min-label propagation would need ~200 rounds;
    the star contraction must label it in <= 10 (O(log n)) and return
    component-min labels exactly."""
    from pyspark.sql import functions as F

    edges = spark.range(199).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    # threshold 0 forces the star path: the single-task endgame
    # would otherwise absorb a 199-edge graph before round 1.
    labels, rounds = _components(monkeypatch, edges, local_finish=0)
    rows = {r["node"]: r["cluster"] for r in labels.collect()}
    assert rows == {n: 0 for n in range(200)}
    assert 0 < rounds <= 10, rounds


def test_connected_components_local_finish_endgame(spark, monkeypatch):
    """Single-task endgame: below ``_LOCAL_FINISH_EDGES`` the
    contraction finishes in one mapInPandas stage with ZERO star rounds,
    and the labeling is identical to the star path."""
    from pyspark.sql import functions as F

    edges = spark.range(199).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    labels, rounds = _components(monkeypatch, edges)
    assert rounds == 0, rounds  # default threshold absorbs 199 edges
    assert "MapInPandas" in labels._jdf.queryExecution().executedPlan().toString()
    rows = {r["node"]: r["cluster"] for r in labels.collect()}
    assert rows == {n: 0 for n in range(200)}


def test_connected_components_empty_after_canonical(spark, monkeypatch):
    """Self-loops-only input canonicalizes to an EMPTY edge set: both
    closure paths must return zero rows with the (node, cluster)
    schema (the endgame's mapInPandas sees no batches)."""
    edges = spark.createDataFrame([(7, 7), (9, 9)], "src long, dst long")
    for local_finish in (None, 0):
        out, _ = _components(monkeypatch, edges, local_finish)
        assert out.columns == ["node", "cluster"]
        assert out.count() == 0


def test_connected_components_local_finish_mid_loop(spark, monkeypatch):
    """A dense random graph contracts below a small local-finish
    threshold mid-fixpoint: star rounds run first (threshold < initial
    edge count), the endgame fires once the measured count fits, and
    the labels match the pure star path exactly."""
    import random

    rng = random.Random(7)
    raw = list({
        (a, b)
        for a, b in (
            (rng.randrange(80), rng.randrange(80)) for _ in range(400)
        )
        if a != b
    })
    edges = spark.createDataFrame(raw, "src long, dst long")
    # threshold between the star-forest size (< 80) and |raw| (~390):
    # at least one star pair must run before the endgame triggers.
    labels, rounds = _components(monkeypatch, edges, local_finish=150)
    got = {r["node"]: r["cluster"] for r in labels.collect()}
    assert rounds >= 2, rounds
    star, _ = _components(monkeypatch, edges, local_finish=0)
    assert got == {r["node"]: r["cluster"] for r in star.collect()}


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(4, 120, 150), (5, 200, 190)])
def test_connected_components_star_path_partition_invariant(
    spark, monkeypatch, seed, n_nodes, n_edges
):
    """The star rounds' exchanges are partitioned by the session: under a
    hostile 7-partition, AQE-off session the labels must equal the
    default session's."""
    _, edges = _random_edges(spark, seed, n_nodes, n_edges)

    def labels():
        out, rounds = _components(monkeypatch, edges, local_finish=0)
        assert rounds >= 2, rounds
        return {r["node"]: r["cluster"] for r in out.collect()}

    want = labels()
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    prev = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        got = labels()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert got == want


def test_connected_components_forest_and_direction_insensitivity(spark):
    """Multiple components, duplicate + reversed edges, self-loops: the
    labeling must be the per-component minimum regardless of edge form."""
    from ifcb_data_pipeline_spark.operators.graph import connected_components

    raw = [
        (5, 3), (3, 5), (3, 9),          # component {3, 5, 9}
        (20, 21), (22, 21), (22, 20),    # component {20, 21, 22} (cycle)
        (40, 40),                        # self-loop only -> dropped
        (50, 51),                        # pair
    ]
    edges = spark.createDataFrame(raw, "src long, dst long")
    rows = {
        r["node"]: r["cluster"]
        for r in connected_components(edges).collect()
    }
    assert rows == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 22: 20, 50: 50, 51: 50}


def test_pagerank_cycle_and_star(spark):
    """Closed-form anchors: a 2-cycle is symmetric (rank 0.5 each, mass
    conserved exactly); in a 5-leaf star feeding a hub that links back
    to one leaf, the hub must dominate and the favored leaf must beat
    the others."""
    from ifcb_data_pipeline_spark.operators.graph import pagerank

    cyc = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    r = {x["node"]: x["rank"] for x in pagerank(cyc, iterations=7).collect()}
    assert r[1] == pytest.approx(0.5) and r[2] == pytest.approx(0.5)
    assert sum(r.values()) == pytest.approx(1.0)

    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(0, 1)], "src long, dst long"
    )
    # the 0<->1 two-cycle makes ranks oscillate with damping 0.85^k —
    # 30 iterations brings the swing inside the fixed-point ordering
    s = {x["node"]: x["rank"] for x in pagerank(star, iterations=30).collect()}
    assert s[0] > s[1] > s[2]
    assert s[2] == pytest.approx(s[3]) == pytest.approx(s[4]) == pytest.approx(s[5])


@pytest.mark.parametrize(
    "seed,n_nodes,n_edges,lfe",
    [(1, 60, 40, 0), (2, 80, 100, 0), (3, 50, 25, 0),
     (1, 60, 40, None), (2, 80, 100, None), (3, 50, 25, None)],
)
def test_connected_components_matches_union_find(
    spark, monkeypatch, seed, n_nodes, n_edges, lfe
):
    """Cross-check BOTH closure paths (lfe=0 forces star contraction;
    None takes the r19 local-finish endgame at these sizes) against a
    plain Python union-find on deterministic pseudo-random graphs
    (sparse, near-critical, and super-critical densities)."""
    raw, edges = _random_edges(spark, seed, n_nodes, n_edges)

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for ab in raw for x in ab}
    # canonical label = min node of the component among touched nodes
    comp_min: dict = {}
    for x in touched:
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    expected = {x: comp_min[find(x)] for x in touched}

    labels, _ = _components(monkeypatch, edges, lfe)
    assert {r["node"]: r["cluster"] for r in labels.collect()} == expected


def test_pagerank_mass_conserved_without_dangling(spark):
    """On a functional graph (every node has out-degree >= 1) no rank
    mass leaks: the ranks must sum to exactly 1 at any iteration count."""
    from ifcb_data_pipeline_spark.operators.graph import pagerank

    n = 40
    edges = [(i, (i * 17 + 5) % n) for i in range(n)]
    edges = [(a, b if a != b else (a + 1) % n) for a, b in edges]
    df = spark.createDataFrame(edges, "src long, dst long")
    ranks = [r["rank"] for r in pagerank(df, iterations=8).collect()]
    assert len(ranks) == n
    assert sum(ranks) == pytest.approx(1.0, rel=1e-9)


def test_pagerank_empty_edges(spark):
    """An empty edge list has no nodes: pagerank returns the empty
    ``(node, rank)`` frame, as connected_components does, instead of
    dividing by a zero node count."""
    from ifcb_data_pipeline_spark.operators.graph import pagerank

    out = pagerank(spark.createDataFrame([], "src long, dst long"))
    assert out.columns == ["node", "rank"]
    assert out.schema["rank"].dataType.simpleString() == "double"
    assert out.count() == 0
