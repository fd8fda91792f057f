"""Third-layer semantic law checks: pure-Python/numpy recomputations.

The registry queries are already verified two ways — the DuckDB oracle
mirror (tests/test_correctness.py, driver-identical compare) and
physical-plan pins.  Both layers share the QUERY AUTHOR's reading of
the semantics, so a misconception encoded identically in the Spark code
and the oracle SQL would pass green.  These tests recompute a handful
of the algorithmically-richest queries from the raw parquet with
independent pure-Python/numpy algorithms (union-find instead of
star-contraction, dense power iteration instead of the join-based
PageRank, a sequential Kaplan-Meier instead of the windowed
product-limit, a per-probe linear scan instead of the union-merge
as-of window) and check the engine output against them, plus the
family laws the estimators must satisfy regardless of data.

Runs at sf0.001 (500 docs / 1000 events / 1500 orders) so the
brute-force sides stay trivially cheap.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pandas as pd
import pytest

from ifcb_data_pipeline_spark.queries import REGISTRY, load_all
from ifcb_data_pipeline_spark.queries.aggregates import _A30_K
from ifcb_data_pipeline_spark.queries.joins import _I13_PERMS, _J18_HASHES, _J18_M
from ifcb_data_pipeline_spark.queries.windows_sorts import _O10_FILE_DOCS, _O10_THRESHOLDS

SF_SMOKE = "/root/testdata/sf0.001"

load_all()


def _run(spark, name: str) -> pd.DataFrame:
    return REGISTRY[name].fn(spark, SF_SMOKE).toPandas()


# --- a25: Kaplan-Meier ------------------------------------------------------


def test_a25_kaplan_meier_laws_and_sequential_recompute(spark):
    got = _run(spark, "a25_survival_curve").sort_values("lifetime_days")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    mx = ev["ts"].max()
    per_user = ev.groupby("user_id")["ts"].agg(["min", "max"])
    t = (per_user["max"].dt.normalize() - per_user["min"].dt.normalize()).dt.days
    died = per_user["max"] < mx - pd.Timedelta(days=2)

    # sequential product-limit, one step per distinct lifetime
    rows = []
    remaining = len(per_user)
    s = 1.0
    for tv in sorted(t.unique()):
        at_t = t == tv
        d = int((at_t & died).sum())
        c = int((at_t & ~died).sum())
        if d > 0:
            s *= 1.0 - d / remaining
        rows.append((int(tv), remaining, d, c, s))
        remaining -= d + c
    exp = pd.DataFrame(
        rows, columns=["lifetime_days", "n_risk", "n_deaths", "n_censored", "survival"]
    )

    assert got["lifetime_days"].tolist() == exp["lifetime_days"].tolist()
    assert got["n_risk"].tolist() == exp["n_risk"].tolist()
    assert got["n_deaths"].tolist() == exp["n_deaths"].tolist()
    assert got["n_censored"].tolist() == exp["n_censored"].tolist()
    # engine survival is quantized (nano-unit log terms, 1e-6 output
    # floor); the sequential product must agree within that grid
    assert (got["survival"].to_numpy() - exp["survival"].to_numpy()).max() <= 2e-6
    assert (exp["survival"].to_numpy() - got["survival"].to_numpy()).max() <= 2e-6
    # laws: S in (0,1] and non-increasing; risk set strictly decreasing
    sv = got["survival"].to_numpy()
    assert (sv > 0).all() and (sv <= 1.0).all()
    assert (pd.Series(sv).diff().dropna() <= 1e-12).all()
    assert got["n_risk"].is_monotonic_decreasing
    # accounting: risk set at step k+1 = risk set at k minus everyone leaving
    leaving = got["n_deaths"] + got["n_censored"]
    assert (
        got["n_risk"].iloc[1:].to_numpy()
        == (got["n_risk"] - leaving).iloc[:-1].to_numpy()
    ).all()


# --- dd13: connected components --------------------------------------------


def _union_find_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_dd13_components_match_union_find(spark):
    got = _run(spark, "dd13_star_components")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    nodes = set(docs["doc_id"].astype(int))
    edges = [(n, n + 1) for n in nodes if n % 50 != 49 and n + 1 in nodes]
    edges += [(n, n + 150) for n in nodes if n % 97 == 0 and n + 150 in nodes]
    root = _union_find_components(edges, nodes)

    assert set(got["node"].astype(int)) == nodes  # every node labeled once
    assert len(got) == len(nodes)
    got_map = dict(zip(got["node"].astype(int), got["cluster"].astype(int)))
    # contract: cluster id == min node id of the component
    comp_min: dict[int, int] = {}
    for n, r in root.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    assert got_map == {n: comp_min[root[n]] for n in nodes}
    sizes = got.groupby("cluster")["node"].count()
    assert (
        got.set_index("node")["cluster_size"]
        == got.set_index("node")["cluster"].map(sizes)
    ).all()


# --- g1: PageRank -----------------------------------------------------------


def test_g1_pagerank_matches_dense_power_iteration(spark):
    got = _run(spark, "g1_pagerank")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["doc_id", "source"]]
    hub = docs.groupby("source")["doc_id"].min()
    edges = set()
    for _, r in docs.iterrows():
        h = int(hub[r["source"]])
        if int(r["doc_id"]) != h:
            edges.add((int(r["doc_id"]), h))
    for _, grp in docs.groupby("source"):
        ids = sorted(grp["doc_id"].astype(int))
        edges.update(zip(ids, ids[1:]))
    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    odeg: dict[int, int] = {}
    for s, _ in edges:
        odeg[s] = odeg.get(s, 0) + 1
    rank = [1.0 / n] * n
    for _ in range(6):
        contrib = [0.0] * n
        for s, d in edges:
            contrib[idx[d]] += rank[idx[s]] / odeg[s]
        rank = [0.15 / n + 0.85 * c for c in contrib]

    got_map = dict(zip(got["node"].astype(int), got["rank"]))
    assert set(got_map) == set(nodes)
    for node in nodes:
        want = math.floor(rank[idx[node]] * 1e6 + 0.5) / 1e6
        assert got_map[node] == pytest.approx(want, abs=2e-6), node
    assert all(v > 0 for v in got_map.values())


# --- j17: point-in-time as-of join ------------------------------------------


def test_j17_matches_per_probe_linear_scan(spark):
    got = _run(spark, "j17_point_in_time_join")
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    by_user = {u: g for u, g in events.groupby("user_id")}

    assert len(got) == len(orders)  # left join: every order exactly once
    got_map = dict(zip(got["o_orderkey"].astype(int), got["state_at_order"]))
    for _, o in orders.iterrows():
        cutoff = pd.Timestamp(o["o_orderdate"])  # midnight, inclusive
        g = by_user.get(o["o_custkey"])
        want = None
        if g is not None:
            elig = g[g["ts"] <= cutoff]
            if len(elig):
                # latest ts, ties by highest event_id
                want = (
                    elig.sort_values(["ts", "event_id"]).iloc[-1]["event_type"]
                )
        assert got_map[int(o["o_orderkey"])] == want or (
            want is None and pd.isna(got_map[int(o["o_orderkey"])])
        ), int(o["o_orderkey"])


# --- i10: SCD1 merge-upsert -------------------------------------------------


def test_i10_matches_pandas_merge(spark):
    got = _run(spark, "i10_merge_upsert")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    cutoff = pd.Timestamp("2024-01-16")

    def latest(df):
        df = df.sort_values(["ts", "event_id"]).groupby("user_id").last()
        return df[["event_type", "value", "ts"]]

    base = latest(ev[ev["ts"] < cutoff])
    chg = latest(ev[ev["ts"] >= cutoff])
    exp = {}
    for uid, r in base.iterrows():
        exp[uid] = (r["event_type"], r["value"], r["ts"], "kept")
    for uid, r in chg.iterrows():
        if r["event_type"] == "error":  # tombstone deletes the key
            exp.pop(uid, None)
        else:
            op = "updated" if uid in base.index else "inserted"
            exp[uid] = (r["event_type"], r["value"], r["ts"], op)

    assert got["user_id"].is_unique and len(got) == len(exp)
    for _, r in got.iterrows():
        lt, val, ts, op = exp[r["user_id"]]
        assert r["last_type"] == lt and r["last_ts"] == ts and r["op"] == op
        assert r["value"] == math.floor(val * 1e4 + 0.5) / 1e4
    # law: no surviving row carries a tombstone state from the batch
    assert not (got["last_type"] == "error").loc[
        got["op"].isin(["updated", "inserted"])
    ].any()


# --- dp9: mutual information ------------------------------------------------


def test_dp9_matches_plain_information_theory(spark):
    got = _run(spark, "dp9_mutual_information")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    joint = docs.groupby(["lang", "source"]).size()
    n = float(len(docs))
    px = docs.groupby("lang").size()
    py = docs.groupby("source").size()
    mi = sum(
        (c / n) * math.log((c * n) / (px[l] * py[s]))
        for (l, s), c in joint.items()
    )
    hx = -sum((c / n) * math.log(c / n) for c in px)
    hy = -sum((c / n) * math.log(c / n) for c in py)

    assert len(got) == 1
    r = got.iloc[0]
    assert r["mi_nats"] == pytest.approx(mi, abs=2e-6)
    assert r["h_lang"] == pytest.approx(hx, abs=2e-6)
    assert r["h_source"] == pytest.approx(hy, abs=2e-6)
    assert r["nmi"] == pytest.approx(mi / math.sqrt(hx * hy), abs=2e-6)
    # laws: 0 <= MI <= min(H_X, H_Y); NMI in [0, 1]
    assert -1e-9 <= r["mi_nats"] <= min(r["h_lang"], r["h_source"]) + 1e-9
    assert -1e-9 <= r["nmi"] <= 1 + 1e-9


# --- tx13: BM25 top-k -------------------------------------------------------


def test_tx13_matches_pure_python_bm25(spark):
    from ifcb_data_pipeline_spark.queries.text import (
        _TX13_B,
        _TX13_K1,
        _TX13_QUERIES,
    )

    got = _run(spark, "tx13_bm25_topk")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    dt: dict[tuple[int, str], int] = {}
    for _, r in docs.iterrows():
        for w in str(r["text"]).lower().split(" "):
            dt[(int(r["doc_id"]), w)] = dt.get((int(r["doc_id"]), w), 0) + 1
    dl: dict[int, int] = {}
    df_: dict[str, int] = {}
    for (d, w), tf in dt.items():
        dl[d] = dl.get(d, 0) + tf
        df_[w] = df_.get(w, 0) + 1
    n_docs = float(len(dl))
    avgdl = sum(dl.values()) / n_docs

    exp_rows = []
    for qid, terms in _TX13_QUERIES:
        scores: dict[int, int] = {}
        for d in dl:
            s = 0
            for w in terms:
                tf = dt.get((d, w))
                if not tf:
                    continue
                idf = math.log(1 + (n_docs - df_[w] + 0.5) / (df_[w] + 0.5))
                tfn = (tf * (_TX13_K1 + 1)) / (
                    tf + _TX13_K1 * (1 - _TX13_B + _TX13_B * dl[d] / avgdl)
                )
                s += int(math.floor(idf * tfn * 1e9 + 0.5))
            if s:
                scores[d] = s
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        for rank, (d, s) in enumerate(top, 1):
            exp_rows.append(
                (qid, d, math.floor(s / 1e9 * 1e6 + 0.5) / 1e6, rank)
            )

    got_rows = [
        (r["query_id"], int(r["doc_id"]), r["score"], int(r["rank"]))
        for _, r in got.sort_values(["query_id", "rank"]).iterrows()
    ]
    assert got_rows == exp_rows


# --- dp10: one-way ANOVA ----------------------------------------------------


def test_dp10_matches_plain_anova(spark):
    got = _run(spark, "dp10_anova_eta")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    cents = (ev["value"] * 100.0 + 0.5).apply(math.floor)
    g = pd.DataFrame({"t": ev["event_type"], "c": cents}).groupby("t")["c"]
    n_g, s_g, ss_g = g.count(), g.sum(), g.apply(lambda x: (x * x).sum())
    big_n, big_s, big_ss, k = n_g.sum(), s_g.sum(), ss_g.sum(), len(n_g)
    sum_gsq = sum(float(s) * s / n for s, n in zip(s_g, n_g))
    ssb = (sum_gsq - float(big_s) * big_s / big_n) / 1e4  # cents² → units²
    ssw = (float(big_ss) - sum_gsq) / 1e4
    eta = ssb / (ssb + ssw)
    f_stat = (ssb / (k - 1)) / (ssw / (big_n - k))

    assert len(got) == 1
    r = got.iloc[0]
    assert r["ss_between"] == pytest.approx(ssb, rel=1e-9, abs=2e-6)
    assert r["ss_within"] == pytest.approx(ssw, rel=1e-9, abs=2e-6)
    assert r["eta_squared"] == pytest.approx(eta, abs=2e-6)
    assert r["f_stat"] == pytest.approx(f_stat, rel=1e-9, abs=2e-6)
    # laws: nonneg decomposition, eta in [0,1], SSB+SSW = total SS
    assert r["ss_between"] >= 0 and r["ss_within"] >= 0
    assert 0 <= r["eta_squared"] <= 1
    total_ss = (float(big_ss) - float(big_s) * big_s / big_n) / 1e4
    assert r["ss_between"] + r["ss_within"] == pytest.approx(total_ss, rel=1e-9)


# --- i11: late-data audit ---------------------------------------------------


def test_i11_matches_sequential_replay(spark):
    got = _run(spark, "i11_late_data_audit").set_index("delay_s")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    delays = [0, 600, 1800, 3600]
    n_late = dict.fromkeys(delays, 0)
    for _, g in ev.groupby("user_id"):
        g = g.sort_values("event_id")
        # unit-robust epoch µs (parquet loads as datetime64[us] here)
        us = ((g["ts"] - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)).tolist()
        prev_max = None
        for u in us:
            if prev_max is not None:
                for d in delays:
                    if u < prev_max - d * 1_000_000:
                        n_late[d] += 1
            prev_max = u if prev_max is None else max(prev_max, u)

    assert sorted(got.index) == delays
    for d in delays:
        assert int(got.loc[d, "n_late"]) == n_late[d], d
        assert int(got.loc[d, "n_events"]) == len(ev)
    # law: a longer watermark delay never flags more events late
    assert got.sort_index()["n_late"].is_monotonic_decreasing


# --- a26: ordered sequence funnel -------------------------------------------


def test_a26_matches_per_user_replay(spark):
    got = _run(spark, "a26_sequence_funnel")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    day = pd.Timedelta(days=1)
    exp = {}
    for uid, g in ev.groupby("user_id"):
        sign = g[g["event_type"] == "signup"]["ts"]
        if not len(sign):
            continue
        s_ts = sign.min()
        clicks = g[
            (g["event_type"] == "click") & (g["ts"] > s_ts) & (g["ts"] <= s_ts + day)
        ]["ts"]
        c_ts = clicks.min() if len(clicks) else None
        p_ts = None
        if c_ts is not None:
            buys = g[
                (g["event_type"] == "purchase")
                & (g["ts"] > c_ts)
                & (g["ts"] <= c_ts + day)
            ]["ts"]
            p_ts = buys.min() if len(buys) else None
        exp[uid] = (s_ts, c_ts, p_ts, 1 + (c_ts is not None) + (p_ts is not None))

    assert set(got["user_id"]) == set(exp) and got["user_id"].is_unique
    for _, r in got.iterrows():
        s_ts, c_ts, p_ts, stage = exp[r["user_id"]]
        assert r["signup_ts"] == s_ts
        assert (pd.isna(r["click_ts"]) and c_ts is None) or r["click_ts"] == c_ts
        assert (pd.isna(r["purchase_ts"]) and p_ts is None) or r["purchase_ts"] == p_ts
        assert int(r["stage"]) == stage
    # laws: stage k implies all earlier timestamps present and ordered
    for _, r in got.iterrows():
        if int(r["stage"]) >= 2:
            assert r["click_ts"] > r["signup_ts"]
        if int(r["stage"]) == 3:
            assert r["purchase_ts"] > r["click_ts"]
    # funnel counts are non-increasing by construction
    counts = got["stage"].value_counts()
    assert counts.get(3, 0) <= counts.get(2, 0) + counts.get(3, 0)


# --- o9: compaction planner -------------------------------------------------


def test_o9_matches_streaming_fill_replay(spark):
    got = _run(spark, "o9_compaction_plan")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    target = 2000
    exp: dict[tuple[str, int], list[int]] = {}
    for src, g in docs.groupby("source"):
        g = g.sort_values("doc_id")
        before = 0
        for _, r in g.iterrows():
            b = before // target
            exp.setdefault((src, b), []).append((int(r["doc_id"]), int(r["n_chars"])))
            before += int(r["n_chars"])

    assert len(got) == len(exp)
    for _, r in got.iterrows():
        files = exp[(r["source"], int(r["bin_id"]))]
        assert int(r["n_files"]) == len(files)
        assert int(r["total_bytes"]) == sum(b for _, b in files)
        assert int(r["first_doc"]) == min(d for d, _ in files)
        assert int(r["last_doc"]) == max(d for d, _ in files)
    # laws: per source, bins tile the doc range in order without overlap,
    # and every bin except the last is filled to at least the target
    for src, g in got.groupby("source"):
        g = g.sort_values("bin_id")
        assert (
            g["first_doc"].iloc[1:].to_numpy() > g["last_doc"].iloc[:-1].to_numpy()
        ).all()
        # streaming-fill law: cumulative bytes before each later bin's
        # first file reaches that bin's index × target
        cum = g["total_bytes"].cumsum().shift(1).dropna()
        assert (cum.to_numpy() >= (g["bin_id"].iloc[1:].to_numpy()) * target).all()


# --- w5: gap-based sessionization -------------------------------------------


def test_w5_matches_sequential_sessionizer(spark):
    got = _run(spark, "w5_sessionization")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    exp: dict[tuple[int, int], int] = {}
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        # epoch_us // 1e6, unit-robust (parquet loads as datetime64[us])
        secs = (
            (g["ts"] - pd.Timestamp(0)) // pd.Timedelta(microseconds=1) // 1_000_000
        ).tolist()
        sess, prev = 0, None
        for s in secs:
            if prev is None or s - prev >= 1800:
                sess += 1
            exp[(uid, sess)] = exp.get((uid, sess), 0) + 1
            prev = s

    assert len(got) == len(exp)
    for _, r in got.iterrows():
        assert exp[(r["user_id"], int(r["session_no"]))] == int(r["n_events"])
    # laws: sessions per user are densely numbered 1..k, and event
    # counts are conserved (every event in exactly one session)
    for uid, g in got.groupby("user_id"):
        ks = sorted(g["session_no"].astype(int))
        assert ks == list(range(1, len(ks) + 1))
    per_user = got.groupby("user_id")["n_events"].sum()
    truth = ev.groupby("user_id")["event_id"].count()
    assert per_user.sort_index().tolist() == truth.sort_index().tolist()


# --- tx9: BPE merge-candidate counting --------------------------------------


def test_tx9_matches_pure_python_pair_counts(spark):
    got = _run(spark, "tx9_bpe_pair_merge")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    vocab: dict[str, int] = {}
    for text in docs["text"]:
        for w in str(text).lower().split(" "):
            vocab[w] = vocab.get(w, 0) + 1
    freq: dict[str, int] = {}
    for w, n in vocab.items():
        for i in range(len(w) - 1):
            p = w[i : i + 2]
            freq[p] = freq.get(p, 0) + n
    top = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    assert [
        (r["pair"], int(r["freq"]), int(r["merge_rank"]))
        for _, r in got.sort_values("merge_rank").iterrows()
    ] == [(p, f, i + 1) for i, (p, f) in enumerate(top)]


def test_i11_counts_planted_out_of_order_arrivals(spark, tmp_path):
    """The shipped event streams are fully in-order at every SF (n_late
    is legitimately 0 for all delays, in both engines — the oracle row
    is green but vacuous on the counting predicate).  Plant genuine
    out-of-order arrivals in a synthetic sf_dir and verify the counts
    against a sequential replay, so the lateness predicate itself is
    exercised."""
    base = pd.Timestamp("2024-01-10 12:00:00")
    rows = []
    # user 1: arrival 3 jumps back 2h (late for 0/600/1800/3600),
    # arrival 4 back 20 min (late for 0/600 only)
    offsets = {1: [0, 3600, -3600, 2400], 2: [0, 100, 200, 150]}
    eid = 0
    for uid, offs in offsets.items():
        for o in offs:
            rows.append((eid, base + pd.Timedelta(seconds=o), uid, "click", 1.0, "{}"))
            eid += 1
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    # µs precision: Spark's parquet reader rejects TIMESTAMP(NANOS)
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev.to_parquet(tmp_path / "events.parquet")

    got = (
        REGISTRY["i11_late_data_audit"].fn(spark, str(tmp_path)).toPandas()
    ).set_index("delay_s")

    delays = [0, 600, 1800, 3600]
    n_late = dict.fromkeys(delays, 0)
    for _, g in ev.groupby("user_id"):
        g = g.sort_values("event_id")
        us = ((g["ts"] - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)).tolist()
        pm = None
        for u in us:
            if pm is not None:
                for d in delays:
                    if u < pm - d * 1_000_000:
                        n_late[d] += 1
            pm = u if pm is None else max(pm, u)
    # the plant is non-vacuous by construction
    assert n_late[0] > 0 and n_late[0] > n_late[3600]
    for d in delays:
        assert int(got.loc[d, "n_late"]) == n_late[d], d
        assert int(got.loc[d, "n_events"]) == len(ev)


def test_a25_zero_survival_branch_both_engines(spark, tmp_path):
    """The d == n step (whole risk set dies at once → S(t) = exactly 0,
    the cross-engine ln(0)/−inf hazard the n_zero counter exists for)
    never fires on the shipped data at any SF — a planted cohort
    exercises it in BOTH engines through the driver-identical compare.
    Plant: the max-ts user is short-lived and censored (t=1); two
    long-lived users die together at t=10, emptying the risk set."""
    import duckdb

    from ifcb_data_pipeline_spark.queries.aggregates import A25_SQL
    from oracle_harness import compare

    rows = [
        # user 1 and 2: Jan-01 → Jan-11 (t=10), last activity well
        # before stream end − 2 days → died
        (1, "2024-01-01 08:00:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-11 08:00:00", 1, "click", 1.0, "{}"),
        (3, "2024-01-01 09:00:00", 2, "click", 1.0, "{}"),
        (4, "2024-01-11 09:00:00", 2, "click", 1.0, "{}"),
        # user 99 holds max ts → censored by construction, t=1
        (5, "2024-01-30 10:00:00", 99, "click", 1.0, "{}"),
        (6, "2024-01-31 10:00:00", 99, "click", 1.0, "{}"),
    ]
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    ev["ts"] = pd.to_datetime(ev["ts"]).astype("datetime64[us]")
    ev.to_parquet(tmp_path / "events.parquet")

    got = REGISTRY["a25_survival_curve"].fn(spark, str(tmp_path))
    pdf = got.toPandas().sort_values("lifetime_days").reset_index(drop=True)
    # t=1: censor only, survival stays 1; t=10: d == n == 2 → S = 0
    assert pdf["lifetime_days"].tolist() == [1, 10]
    assert pdf["n_risk"].tolist() == [3, 2]
    assert pdf["n_deaths"].tolist() == [0, 2]
    assert pdf["n_censored"].tolist() == [1, 0]
    assert pdf["survival"].tolist() == [1.0, 0.0]

    # the oracle agrees bit-for-bit under the driver-identical compare
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    ok, msg = compare(got, con, A25_SQL)
    assert ok, msg


# --- w8: recursive EWMA -----------------------------------------------------


def test_w8_matches_sequential_ewma(spark):
    got = _run(spark, "w8_ewma_smoothing")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    exp: dict[int, float] = {}
    for _, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        e = None
        for _, r in g.iterrows():
            v = float(r["value"])
            e = v if e is None else 0.25 * v + 0.75 * e
            exp[int(r["event_id"])] = math.floor(e * 1e6 + 0.5) / 1e6
    assert len(got) == len(exp)
    # identical IEEE recursion in both engines and the replay: exact
    for _, r in got.iterrows():
        assert r["ewma"] == exp[int(r["event_id"])], int(r["event_id"])


# --- a21: conversion funnel -------------------------------------------------


def test_a21_matches_per_user_replay(spark):
    got = _run(spark, "a21_conversion_funnel")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    per_day: dict[object, list[int]] = {}
    for _, g in ev.groupby("user_id"):
        sign = g[g["event_type"] == "signup"]["ts"]
        if not len(sign):
            continue
        s_ts = sign.min()
        conv = int(
            ((g["event_type"] == "purchase") & (g["ts"] > s_ts)).any()
        )
        per_day.setdefault(s_ts.date(), []).append(conv)

    assert len(got) == len(per_day)
    for _, r in got.iterrows():
        convs = per_day[r["signup_date"]]
        assert int(r["n_signups"]) == len(convs)
        assert int(r["n_converted"]) == sum(convs)
    assert (got["n_converted"] <= got["n_signups"]).all()


# --- w6: trailing calendar-range moving average -----------------------------


def test_w6_matches_calendar_window_replay(spark):
    got = _run(spark, "w6_moving_average")
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    orders = orders.assign(
        cents=(orders["o_totalprice"] * 100.0 + 0.5).apply(math.floor),
        day=pd.to_datetime(orders["o_orderdate"]).map(
            lambda d: (d - pd.Timestamp("1970-01-01")).days
        ),
    )
    exp: dict[int, float] = {}
    for _, g in orders.groupby("o_custkey"):
        days = g["day"].to_numpy()
        cents = g["cents"].to_numpy()
        for i, (_, r) in enumerate(g.iterrows()):
            # calendar RANGE: every order (ties included) within 6 days back
            m = (days >= days[i] - 6) & (days <= days[i])
            exp[int(r["o_orderkey"])] = (
                math.floor(float(cents[m].sum()) * 100.0 / m.sum() + 0.5) / 1e4
            )
    assert len(got) == len(orders)
    for _, r in got.iterrows():
        assert r["ma7"] == exp[int(r["o_orderkey"])], int(r["o_orderkey"])


# --- a19: CUBE rollup -------------------------------------------------------


def test_a19_cube_margin_laws(spark):
    got = _run(spark, "a19_cube_rollup")
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    base = got[(got["returnflag"] != "ALL") & (got["linestatus"] != "ALL")]
    # the finest grouping set matches a plain pandas group count
    truth = li.groupby(["l_returnflag", "l_linestatus"]).size()
    assert len(base) == len(truth)
    for _, r in base.iterrows():
        assert int(r["n"]) == int(truth[(r["returnflag"], r["linestatus"])])
    # margin laws: each ALL row is the sum of its fixed-coordinate slice
    tot = got[(got["returnflag"] == "ALL") & (got["linestatus"] == "ALL")]
    assert len(tot) == 1 and int(tot["n"].iloc[0]) == len(li)
    for flag, g in base.groupby("returnflag"):
        row = got[(got["returnflag"] == flag) & (got["linestatus"] == "ALL")]
        assert int(row["n"].iloc[0]) == int(g["n"].sum())
        assert row["sum_qty"].iloc[0] == pytest.approx(g["sum_qty"].sum(), abs=0.011 * len(g))
    for stat, g in base.groupby("linestatus"):
        row = got[(got["returnflag"] == "ALL") & (got["linestatus"] == stat)]
        assert int(row["n"].iloc[0]) == int(g["n"].sum())


# --- pk1: greedy sequence packing -------------------------------------------


def test_pk1_matches_greedy_replay(spark):
    import re

    got = _run(spark, "pk1_sequence_packing")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    budget, shard_sz = 256, 64
    exp: dict[int, tuple[int, int, int]] = {}
    for sh, g in docs.assign(shard=docs["doc_id"] // shard_sz).groupby("shard"):
        g = g.sort_values("doc_id")
        chunk, fill = 0, 0
        first = True
        for _, r in g.iterrows():
            tok = min(len(re.split(r"\s+", str(r["text"]).strip())), budget)
            if first:
                chunk, fill, first = 0, tok, False
            elif fill + tok > budget:
                chunk, fill = chunk + 1, tok
            else:
                fill += tok
            exp[int(r["doc_id"])] = (int(sh), tok, chunk)

    assert len(got) == len(docs)  # every document packed exactly once
    for _, r in got.iterrows():
        assert (int(r["shard"]), int(r["tok"]), int(r["chunk"])) == exp[
            int(r["doc_id"])
        ], int(r["doc_id"])
    # law: no chunk exceeds the budget
    per_chunk = got.groupby(["shard", "chunk"])["tok"].sum()
    assert (per_chunk <= budget).all()


# --- sp3: deterministic shard shuffle ---------------------------------------


def test_sp3_is_a_sharded_permutation(spark):
    got = _run(spark, "sp3_shuffle_shards")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    # partition law: every doc exactly once, shards in [0, 8)
    assert sorted(got["doc_id"]) == sorted(docs["doc_id"])
    assert got["shard"].between(0, 7).all()
    # position law: dense 1..k within each shard (a true permutation)
    for _, g in got.groupby("shard"):
        assert sorted(g["pos"]) == list(range(1, len(g) + 1))
    # determinism: a second run is identical
    again = _run(spark, "sp3_shuffle_shards")
    a = got.sort_values("doc_id").reset_index(drop=True)
    b = again.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


# --- round-9 anchors for the r4-era rows rotating through the prefix --------
# (VERDICT r8 item 5: the rows with the weakest independent evidence —
# sim5-7, sp2/sp4, mm3/mm4, tx5/tx7/tx8 — each gets a pure-Python
# recompute so future rotations are safe to spill.)


def _h32(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _q6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def _docs():
    import duckdb

    return duckdb.sql(
        f"SELECT doc_id, text, lang, source FROM '{SF_SMOKE}/documents.parquet'"
    ).fetchall()


def _doc_m() -> int:
    """The engine's corpus-derived planted-variant offset
    (queries/dedup.variant_offset): greatest(10000, max(doc_id) + 1),
    re-derived here from the same construction the replays load, so the
    planted-id spaces track the corpus at any SF instead of inheriting
    a fixed threshold (VERDICT r10 item 6)."""
    return max(10000, max(d for d, *_ in _docs()) + 1)


def test_tx5_matches_counter_vocab(spark):
    """Top-50 vocabulary re-derived with collections.Counter over
    distinct (doc, token) must match token, doc_freq and rank exactly."""
    from collections import Counter

    dfc = Counter()
    for _, t, *_ in _docs():
        for tok in set(t.lower().split(" ")):
            if tok:
                dfc[tok] += 1
    expected = [
        (tok, n, rank)
        for rank, (tok, n) in enumerate(
            sorted(dfc.items(), key=lambda kv: (-kv[1], kv[0]))[:50], start=1
        )
    ]
    got = [
        (r["token"], r["doc_freq"], r["rank"])
        for r in sorted(
            REGISTRY["tx5_vocabulary"].fn(spark, SF_SMOKE).collect(),
            key=lambda r: r["rank"],
        )
    ]
    assert got == expected


def test_tx7_matches_counter_replay(spark):
    """Repetition signals re-derived per doc with a Counter-based top
    2-gram (independent of the sorted-run-length trick the Spark side
    uses) must match every row."""
    from collections import Counter

    expected = {}
    for d, t, *_ in _docs():
        w = t.lower().split(" ")
        n = len(w)
        dup = 1.0 - len(set(w)) / n
        adj = (
            sum(1 for i in range(n - 1) if w[i] == w[i + 1]) / (n - 1)
            if n > 1
            else 0.0
        )
        grams = Counter(" ".join(w[i : i + 2]) for i in range(n - 1))
        tshare = (max(grams.values()) / sum(grams.values())) if grams else 0.0
        expected[d] = (n, _q6(dup), _q6(adj), _q6(tshare), dup > 0.3 or tshare > 0.18)
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["dup_token_frac"],
            r["adjacent_repeat_frac"],
            r["top_2gram_share"],
            r["repetition_reject"],
        )
        for r in REGISTRY["tx7_repetition_signals"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_tx8_matches_python_re_replay(spark):
    """PII scrub re-derived with Python's re module (independent regex
    engine #3 after Java and RE2) must match counts, redaction length
    delta, and the cleaned-text hash for every doc."""
    import re

    from ifcb_data_pipeline_spark.queries.text import _EMAIL_RE, _IP_RE, _PHONE_RE

    expected = {}
    for d, t, *_ in _docs():
        aug = t
        if d % 2 == 0:
            aug += f" contact user{d}@example.com now"
        if d % 3 == 0:
            aug += f" call 555-{d % 10000:04d} x"
        if d % 5 == 0:
            aug += f" from 10.0.{d % 256}.{(d * 7) % 256}"
        clean = re.sub(
            _IP_RE, "<IP>", re.sub(_PHONE_RE, "<PHONE>", re.sub(_EMAIL_RE, "<EMAIL>", aug))
        )
        expected[d] = (
            len(re.findall(_EMAIL_RE, aug)),
            len(re.findall(_PHONE_RE, aug)),
            len(re.findall(_IP_RE, aug)),
            len(aug) - len(clean),
            _h32(clean),
        )
    got = {
        r["doc_id"]: (
            r["n_emails"],
            r["n_phones"],
            r["n_ips"],
            r["len_delta"],
            r["clean_hash"],
        )
        for r in REGISTRY["tx8_pii_scrub"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert any(v[0] + v[1] + v[2] > 0 for v in expected.values())


def test_sp2_matches_sorted_draw(spark):
    """Stratified sample re-derived by sorting each (lang, source)
    stratum on (md5-hash, doc_id) and taking 3 must match exactly."""
    from collections import defaultdict

    strata = defaultdict(list)
    for d, _, lang, src in _docs():
        strata[(lang, src)].append((_h32(str(d)), d))
    expected = {}
    for (lang, src), hs in strata.items():
        for rk, (_, d) in enumerate(sorted(hs)[:3], start=1):
            expected[d] = (lang, src, rk)
    got = {
        r["doc_id"]: (r["lang"], r["source"], r["rk"])
        for r in REGISTRY["sp2_stratified_sample"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_sp4_matches_weight_replay(spark):
    """Mixture materialization re-derived from first principles (source
    token totals -> capped weights -> floor copies + hash-gated
    fractional copy) must produce the identical (doc, copy) multiset."""
    import re
    from collections import defaultdict

    ntok = defaultdict(int)
    rows = _docs()
    for _, t, _, src in rows:
        ntok[src] += len(re.split(r"\s+", t.strip()))
    total = float(sum(ntok.values()))
    nsrc = float(len(ntok))
    expected = set()
    for d, _, _, src in rows:
        w = min((total / nsrc) / ntok[src], 4.0)
        fl, ce = math.floor(w), math.ceil(w)
        for c in range(1, ce + 1):
            if c <= fl or (
                c == ce
                and _h32(str(d)) % 1000000 < math.floor((w - fl) * 1e6 + 0.5)
            ):
                expected.add((d, src, c))
    got = {
        (r["doc_id"], r["source"], r["copy_idx"])
        for r in REGISTRY["sp4_mixture_materialize"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def _vecs():
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, label, embedding FROM '{SF_SMOKE}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    return (
        {r[0]: [float(x) for x in r[2]] for r in rows},
        {r[0]: r[1] for r in rows},
    )


def _fold_dot(a, b):
    """In-order left-fold dot product — the exact association BOTH
    engines use (Spark aggregate HOF, DuckDB list_inner_product), so the
    recompute is bit-identical, not merely close."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _fold_cos(a, b):
    return _fold_dot(a, b) / math.sqrt(_fold_dot(a, a) * _fold_dot(b, b))


def test_sim6_matches_scalar_quantize_replay(spark):
    """int8 quantization re-derived per vector with plain Python loops
    (same fold association) must match scale, MSE, and q-range exactly."""
    V, _ = _vecs()
    q9 = lambda x: math.floor(x * 1e9 + 0.5) / 1e9  # noqa: E731
    expected = {}
    for vid, v in V.items():
        amax = max(abs(x) for x in v)
        if amax <= 0:
            continue
        scale = amax / 127.0
        qv = [max(min(math.floor(x / scale + 0.5), 127.0), -127.0) for x in v]
        dv = [q * scale for q in qv]
        mse = (_fold_dot(v, v) - 2 * _fold_dot(v, dv) + _fold_dot(dv, dv)) / len(v)
        expected[vid] = (q9(scale), q9(mse), int(max(qv)), int(min(qv)))
    got = {
        r["vec_id"]: (r["scale"], r["mse"], r["max_q"], r["min_q"])
        for r in REGISTRY["sim6_embedding_quantize"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def _sim_centroid_probes(V, L, nprobe=2):
    from collections import defaultdict

    by_label = defaultdict(list)
    for vid, v in V.items():
        by_label[L[vid]].append(v)
    cent = {}
    for lab, vs in by_label.items():
        n, dim = len(vs), len(vs[0])
        cent[lab] = [
            math.floor(sum(v[i] for v in vs) / n * 1e6 + 0.5) / 1e6
            for i in range(dim)
        ]
    d2 = lambda v, c: _fold_dot(v, v) - 2 * _fold_dot(v, c) + _fold_dot(c, c)  # noqa: E731
    return {
        vid: [lab for _, lab in sorted((d2(v, c), lab) for lab, c in cent.items())[:nprobe]]
        for vid, v in V.items()
    }


def test_sim5_matches_ivf_replay(spark):
    """IVF nprobe=2 re-derived end-to-end in Python (quantized label
    centroids -> expanded-form d² probe assignment -> cosine over
    vectors whose PRIMARY cell is one of the query's two probes) must
    match neighbors, ranks, and similarities exactly."""
    V, L = _vecs()
    probes = _sim_centroid_probes(V, L, nprobe=2)
    primary = {vid: p[0] for vid, p in probes.items()}
    expected = {}
    for qid in (v for v in V if v < 10):
        cells = set(probes[qid])
        cands = [
            (_fold_cos(V[qid], V[c]), c)
            for c in V
            if c != qid and primary[c] in cells
        ]
        for rk, (cr, c) in enumerate(
            sorted(cands, key=lambda t: (-t[0], t[1]))[:3], start=1
        ):
            expected[(qid, c)] = (rk, _q6(cr))
    got = {
        (r["query_id"], r["neighbor_id"]): (r["rank"], r["cos_sim"])
        for r in REGISTRY["sim5_ivf_nprobe2"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_sim7_matches_filtered_scan_replay(spark):
    """Metadata-prefiltered ANN re-derived by a per-query linear scan
    over only the lang='en' vectors must match exactly — and the en
    filter must actually bite (some overall-top neighbor excluded)."""
    import duckdb

    V, _ = _vecs()
    en = {
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{SF_SMOKE}/documents.parquet' WHERE lang='en'"
        ).fetchall()
    }
    expected = {}
    for qid in (v for v in V if v < 10):
        cands = [(_fold_cos(V[qid], V[c]), c) for c in V if c != qid and c in en]
        for rk, (cr, c) in enumerate(
            sorted(cands, key=lambda t: (-t[0], t[1]))[:5], start=1
        ):
            expected[(qid, c)] = (rk, _q6(cr))
    got = {
        (r["query_id"], r["neighbor_id"]): (r["rank"], r["cos_sim"])
        for r in REGISTRY["sim7_filtered_ann"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert all(n in en for _, n in got), "every neighbor must pass the filter"


def test_mm3_matches_closed_form_pixels(spark):
    """The image resize UDF path re-derived from the closed-form payload
    (pixel (y,x) of roi r = (r*31 + ((y*h)//16)*w + ((x*w)//16)) % 251)
    must match the per-roi resized mean exactly — pins the synthesize ->
    decode -> nearest-neighbor-resize plumbing, not just the SQL twin."""
    import duckdb

    orders = duckdb.sql(
        f"SELECT o_orderkey FROM '{SF_SMOKE}/orders.parquet' "
        "WHERE o_orderkey % 200 = 0"
    ).fetchall()
    expected = {}
    for (k,) in orders:
        for roi in range(1, (k % 50) + 2):
            w, h = 8 + roi % 16, 8 + (roi * 3) % 16
            px = [
                (roi * 31 + ((y * h) // 16) * w + ((x * w) // 16)) % 251
                for y in range(16)
                for x in range(16)
            ]
            expected[(str(k), roi)] = _q6(sum(px) / 256.0)
    got = {
        (r["sample"], r["roi_number"]): r["mean_px"]
        for r in REGISTRY["mm3_resize_normalize"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_mm4_matches_closed_form_frames(spark):
    """Video frame sampling re-derived from the closed-form slab (frame
    f pixel i of video v = (v*7 + f*13 + i) % 251, every 4th frame)."""
    import duckdb

    orders = duckdb.sql(
        f"SELECT o_orderkey FROM '{SF_SMOKE}/orders.parquet' "
        "WHERE o_orderkey % 500 = 0"
    ).fetchall()
    expected = {}
    for (k,) in orders:
        n_frames = (k % 24) + 4
        for f in range(0, n_frames, 4):
            px = [(k * 7 + f * 13 + i) % 251 for i in range(144)]
            expected[(str(k), f)] = _q6(sum(px) / 144.0)
    got = {
        (r["video_id"], r["frame_idx"]): r["mean_px"]
        for r in REGISTRY["mm4_video_frame_sample"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# --- anchors for r6-era rows that rotate in round 10 ------------------------


def test_w10_matches_direct_expanding_distinct(spark):
    """w10 computes the growth curve via the first-touch identity; the
    anchor recomputes it the DIRECT (quadratic) way — per day, the size
    of the set of all qualifying users seen so far — verifying the
    identity itself, not just the arithmetic."""
    import duckdb

    ev = duckdb.sql(
        f"SELECT user_id, ts, value, event_type FROM '{SF_SMOKE}/events.parquet' "
        "ORDER BY ts"
    ).fetchall()
    qual = [(uid, ts.date()) for uid, ts, v, et in ev if et == "purchase" and v > 100.0]
    first = {}
    for uid, d in qual:
        if uid not in first or d < first[uid]:
            first[uid] = d
    new_per_day = {}
    for uid, d in first.items():
        new_per_day[d] = new_per_day.get(d, 0) + 1
    got = {
        r["day"]: (r["new_users"], r["cum_users"])
        for r in REGISTRY["w10_cumulative_distinct"].fn(spark, SF_SMOKE).collect()
    }
    # rows exist exactly for first-touch days (a day with only repeat
    # activity produces no row)
    assert set(got) == set(new_per_day)
    run = 0
    for day in sorted(new_per_day):
        run += new_per_day[day]
        assert got[day] == (new_per_day[day], run)
        # the DIRECT expanding-distinct identity: cum on day d equals
        # |distinct qualifying users with any activity <= d|
        direct = len({uid for uid, d in qual if d <= day})
        assert got[day][1] == direct, (
            "first-touch cumsum must equal the direct expanding distinct"
        )


def test_a23_matches_per_user_replay(spark):
    """Weekly cohort retention re-derived per user from raw micros
    (week = µs // 604800e6, first-touch cohort, offset cells)."""
    from collections import defaultdict

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    q = ev[(ev["event_type"] == "purchase") & (ev["value"] > 100.0)]
    weeks = q["ts"].astype("int64") // 604_800_000_000  # datetime64[us] -> µs
    act = set(zip(q["user_id"], weeks))
    cohort = {}
    for uid, w in act:
        if uid not in cohort or w < cohort[uid]:
            cohort[uid] = w
    cells = defaultdict(int)
    for uid, w in act:
        cells[(cohort[uid], w - cohort[uid])] += 1
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_active"]
        for r in REGISTRY["a23_cohort_retention"].fn(spark, SF_SMOKE).collect()
    }
    assert got == dict(cells)
    assert all(off >= 0 for _, off in got)


def test_tx12_matches_counter_novelty(spark):
    """Doc-unique 3-gram fraction re-derived with two Counters."""
    from collections import Counter

    per_doc = {}
    for d, t, *_ in _docs():
        w = t.strip().lower().split(" ")
        n = len(w)
        per_doc[d] = {" ".join(w[i : i + 3]) for i in range(max(n - 2, 1))}
    df = Counter(g for s in per_doc.values() for g in s)
    expected = {}
    for d, s in per_doc.items():
        uniq = sum(1 for g in s if df[g] == 1)
        expected[d] = (len(s), uniq, _q6(uniq / len(s)))
    got = {
        r["doc_id"]: (r["n_grams"], r["n_unique"], r["novelty"])
        for r in REGISTRY["tx12_ngram_novelty"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_pk2_matches_python_slicing_replay(spark):
    """Sliding-window chunking re-derived with Python list slicing
    (W=32, S=24, ceil tail rule) — spans, lengths, and content hashes."""
    import hashlib

    expected = {}
    for d, t, *_ in _docs():
        w = t.split(" ")
        n_extra = (max(len(w) - 32, 0) + 23) // 24
        for i in range(n_extra + 1):
            start = 1 + i * 24
            chunk = w[start - 1 : start - 1 + 32]
            expected[(d, i)] = (
                start,
                len(chunk),
                hashlib.md5(" ".join(chunk).encode()).hexdigest(),
            )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["start_tok"], r["n_tok"], r["chunk_md5"])
        for r in REGISTRY["pk2_document_chunking"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # coverage law: every token of every doc lands in >= 1 chunk
    for d, t, *_ in _docs():
        n = len(t.split(" "))
        covered = max(k[1] for k in expected if k[0] == d)
        assert 1 + covered * 24 + 32 - 1 >= n or n <= 32


def test_pk3_matches_python_bucketing_replay(spark):
    """Length-bucketed batching re-derived with a per-(bucket, shard)
    Python loop (log2 buckets, doc-id order, batches of 8, pad
    efficiency)."""
    import re
    from collections import defaultdict

    groups = defaultdict(list)
    for d, t, *_ in sorted(_docs()):
        tok = max(len(re.split(r"\s+", t.strip())), 1)
        bucket = math.floor(math.log2(float(tok)))
        groups[(bucket, d // 64)].append(tok)
    expected = {}
    for (bucket, shard), toks in groups.items():
        for b in range(0, len(toks), 8):
            batch = toks[b : b + 8]
            mx, sm = max(batch), sum(batch)
            expected[(bucket, shard, b // 8)] = (
                len(batch),
                mx,
                sm,
                _q6(sm / (len(batch) * mx)),
            )
    got = {
        (r["bucket"], r["shard"], r["batch"]): (
            r["n_docs"],
            r["max_tok"],
            r["sum_tok"],
            r["pad_eff"],
        )
        for r in REGISTRY["pk3_length_bucketed_batching"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert all(v[0] <= 8 and 0 < v[3] <= 1.0 for v in expected.values())


def test_o8_matches_python_bit_interleave(spark):
    """Z-order manifest re-derived with an independent Python Morton
    encoding (string bit interleave instead of shift/mask arithmetic)."""
    from collections import defaultdict

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    day0 = pd.Timestamp("2024-01-01").date()

    def morton(u: int, d: int) -> int:
        ub = f"{u:08b}"[::-1]
        db = f"{d:08b}"[::-1]
        bits = "".join(ub[b] + db[b] for b in range(8))  # LSB-first interleave
        return int(bits[::-1], 2)

    cells = defaultdict(lambda: [0, 256, -1, 256, -1])
    for uid, ts in zip(ev["user_id"], ev["ts"]):
        u = int(uid) % 256
        d = (ts.date() - day0).days % 256
        fid = morton(u, d) >> 4
        c = cells[fid]
        c[0] += 1
        c[1], c[2] = min(c[1], u), max(c[2], u)
        c[3], c[4] = min(c[3], d), max(c[4], d)
    expected = {fid: tuple(c) for fid, c in cells.items()}
    got = {
        r["file_id"]: (r["n_rows"], r["u_min"], r["u_max"], r["d_min"], r["d_max"])
        for r in REGISTRY["o8_zorder_layout"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # locality law: a z-order cell of 16 codes spans <= 4 in each dim
    for _, (_, umin, umax, dmin, dmax) in got.items():
        assert umax - umin <= 4 and dmax - dmin <= 4


def test_dd5_matches_bruteforce_lsh_replay(spark):
    """Sign-LSH near-dup pairs re-derived in pure Python: the ±1 plane
    rule re-implemented inline from its spec (md5(\"p#i\")[0] >= '8'),
    bucket-grouped candidates, fold-order cosine verify.  Every planted
    1.5x-scaled copy must pair with its original at cos ~ 1.0."""
    import hashlib
    from collections import defaultdict

    V, _ = _vecs()
    vm = max(10000, max(V) + 1)  # the engine's embeddings-derived offset
    corpus = dict(V)
    for vid in list(V):
        if vid % 50 == 0:
            corpus[vid + vm] = [x * 1.5 for x in V[vid]]
    planes = [
        [
            1.0 if hashlib.md5(f"{p}#{i}".encode()).hexdigest()[0] >= "8" else -1.0
            for i in range(64)
        ]
        for p in range(16)
    ]
    buckets = defaultdict(list)
    for vid, v in corpus.items():
        for b in range(4):
            sig = "".join(
                "1" if _fold_dot(v, planes[b * 4 + r]) > 0 else "0" for r in range(4)
            )
            buckets[(b, sig)].append(vid)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                cand.add((a, b))
    expected = {}
    for a, b in cand:
        cs = _q6(_fold_cos(corpus[a], corpus[b]))
        if cs >= 0.95:
            expected[(a, b)] = cs
    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in REGISTRY["dd5_embedding_cosine_dup"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    for vid in corpus:
        if vid >= vm:
            assert got.get((vid - vm, vid), 0.0) >= 0.999999, (
                "scaled copy must be caught at cos ~ 1.0 (sign bits invariant)"
            )


def test_j16_matches_bruteforce_pair_scan(spark):
    """Interval-overlap measure re-derived by a brute-force per-user
    double loop over (error, purchase) windows — verifies the bucket
    explosion + dedup candidate generation loses and double-counts
    nothing."""
    from collections import defaultdict

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    W = 1_800_000_000
    us = ev["ts"].astype("int64")  # datetime64[us] -> µs
    err = defaultdict(list)
    pur = defaultdict(list)
    for uid, et, s in zip(ev["user_id"], ev["event_type"], us):
        if et == "error":
            err[int(uid)].append(int(s))
        elif et == "purchase":
            pur[int(uid)].append(int(s))
    expected = {}
    for uid in set(err) & set(pur):
        n = tot = 0
        for a in err[uid]:
            for b in pur[uid]:
                ov = min(a + W, b + W) - max(a, b)
                if a < b + W and b < a + W and ov > 0:
                    n += 1
                    tot += ov
        if n:
            expected[uid] = (n, tot)
    got = {
        r["user_id"]: (r["n_overlapping_pairs"], r["overlap_us"])
        for r in REGISTRY["j16_interval_overlap"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_sp7_matches_python_epoch_shuffle(spark):
    """Per-epoch reshuffle re-derived with hashlib: positions are a
    permutation within every (epoch, shard), orders differ across
    epochs, and every (doc, epoch, position) matches the md5 draw."""
    import hashlib
    from collections import defaultdict

    from ifcb_data_pipeline_spark.queries.text import _SP7_EPOCHS

    docs = [d for d, *_ in _docs()]
    expected = {}
    order_by_epoch = defaultdict(dict)
    groups = defaultdict(list)
    for d in docs:
        for ep in range(_SP7_EPOCHS):
            h = int(hashlib.md5(f"{ep}:{d}".encode()).hexdigest()[:8], 16)
            groups[(ep, d // 64)].append((h, d))
    for (ep, shard), hs in groups.items():
        for pos, (_, d) in enumerate(sorted(hs), start=1):
            expected[(d, ep)] = (shard, pos)
            order_by_epoch[ep][d] = pos
    got = {
        (r["doc_id"], r["epoch"]): (r["shard"], r["position"])
        for r in REGISTRY["sp7_epoch_shuffle"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert any(
        order_by_epoch[0][d] != order_by_epoch[1][d] for d in docs
    ), "epochs must actually reshuffle"


def test_i8_matches_dict_diff_replay(spark):
    """Snapshot diff re-derived with two Python dicts and set algebra."""
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    m = _doc_m()
    old, new = {}, {}
    for d, t, *_ in _docs():
        old[d] = md5(t)
        if d % 30 == 0:
            new[d + 3 * m] = md5(f"minted for {d}")
        else:
            new[d] = md5(f"rewritten: {t}" if d % 25 == 0 else t)
    expected = {}
    for d in old.keys() - new.keys():
        expected[d] = "removed"
    for d in new.keys() - old.keys():
        expected[d] = "added"
    for d in old.keys() & new.keys():
        if old[d] != new[d]:
            expected[d] = "changed"
    got = {
        r["doc_id"]: r["status"]
        for r in REGISTRY["i8_snapshot_diff"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert {"added", "removed", "changed"} <= set(expected.values())


def test_sp5_matches_weight_replay(spark):
    """Temperature-scaled resampling re-derived from per-source counts
    (w = min(0.5/sqrt(share), 4), floor copies + hash-gated fraction)."""
    from collections import defaultdict

    n_docs = defaultdict(int)
    rows = _docs()
    for _, _, _, src in rows:
        n_docs[src] += 1
    total = float(sum(n_docs.values()))
    expected = {}
    for d, _, _, src in rows:
        w = min(0.5 / math.sqrt(n_docs[src] / total), 4.0)
        fl, ce = math.floor(w), math.ceil(w)
        for c in range(1, ce + 1):
            if c <= fl or (
                c == ce
                and _h32(str(d)) % 1000000 < math.floor((w - fl) * 1e6 + 0.5)
            ):
                expected[(d, c)] = (src, _q6(w))
    got = {
        (r["doc_id"], r["copy_idx"]): (r["source"], r["w"])
        for r in REGISTRY["sp5_temperature_resampling"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    # temperature law: rarer sources never get a smaller factor
    ordered = sorted(n_docs, key=n_docs.get)
    ws = [min(0.5 / math.sqrt(n_docs[s] / total), 4.0) for s in ordered]
    assert all(a >= b - 1e-12 for a, b in zip(ws, ws[1:]))


def test_sim9_matches_two_stage_replay(spark):
    """int8-coarse + float-rerank re-derived in Python: exact integer
    coarse dots -> top-25 -> fold-order float cosine -> top-5."""
    V, _ = _vecs()
    q8 = {}
    for vid, v in V.items():
        amax = max(abs(x) for x in v)
        if amax <= 0:
            continue
        scale = amax / 127.0
        q8[vid] = [int(max(min(math.floor(x / scale + 0.5), 127.0), -127.0)) for x in v]
    expected = {}
    for qid in (v for v in q8 if v < 10):
        coarse = sorted(
            ((sum(a * b for a, b in zip(q8[qid], q8[c])), c) for c in q8 if c != qid),
            key=lambda t: (-t[0], t[1]),
        )[:25]
        rer = sorted(
            ((_fold_cos(V[qid], V[c]), cd, c) for cd, c in coarse),
            key=lambda t: (-t[0], t[2]),
        )[:5]
        for rk, (cr, cd, c) in enumerate(rer, start=1):
            expected[(qid, c)] = (rk, cd, _q6(cr))
    got = {
        (r["query_id"], r["neighbor_id"]): (r["rank"], r["coarse_dot"], r["cos_sim"])
        for r in REGISTRY["sim9_quantized_rerank"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_mm8_matches_closed_form_patch_sums(spark):
    """ViT patchification re-derived from the closed-form payload: exact
    integer 4x4 patch sums through decode -> resize -> reshape."""
    import duckdb

    orders = duckdb.sql(
        f"SELECT o_orderkey FROM '{SF_SMOKE}/orders.parquet' "
        "WHERE o_orderkey % 400 = 0"
    ).fetchall()
    expected = {}
    for (k,) in orders:
        for roi in range(1, (k % 50) + 2):
            w, h = 8 + roi % 16, 8 + (roi * 3) % 16
            for pr in range(4):
                for pc in range(4):
                    s = sum(
                        (roi * 31 + ((y * h) // 16) * w + ((x * w) // 16)) % 251
                        for y in range(pr * 4, pr * 4 + 4)
                        for x in range(pc * 4, pc * 4 + 4)
                    )
                    expected[(str(k), roi, pr, pc)] = (pr * 4 + pc, s)
    got = {
        (r["sample"], r["roi_number"], r["patch_row"], r["patch_col"]): (
            r["patch_idx"],
            r["sum_px"],
        )
        for r in REGISTRY["mm8_patchify"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_tp5_matches_python_funnel_replay(spark):
    """The four-gate yield funnel re-derived with a sequential Python
    pass over the augmented corpus (lang gate, quality gate, fp-head
    dedup survivor), plus the monotone-funnel law."""
    import hashlib

    from ifcb_data_pipeline_spark.operators.text import STOPWORDS

    sw = set(STOPWORDS)
    m = _doc_m()
    corpus = []
    for d, t, lang, _ in _docs():
        corpus.append((d, lang, t.lower()))
        if d % 25 == 0:
            w = t.lower().split(" ")
            keep = max((len(w) * 7) // 10, 1)
            corpus.append((d + m, lang, " ".join(w[:keep])))
    flagged = []
    for d, lang, text in corpus:
        w = text.split(" ")
        n = len(w)
        stop_ratio = sum(t in sw for t in w) * 1.0 / n
        fp = hashlib.md5(" ".join(w[:8]).encode()).hexdigest()
        g1 = lang == "en"
        g2 = g1 and n >= 20 and stop_ratio >= 0.02
        flagged.append((d, n, fp, g1, g2))
    canon = {}
    for d, _, fp, _, g2 in flagged:
        if g2 and (fp not in canon or d < canon[fp]):
            canon[fp] = d
    stages = {0: [0, 0], 1: [0, 0], 2: [0, 0], 3: [0, 0]}
    for d, n, fp, g1, g2 in flagged:
        stages[0][0] += 1
        stages[0][1] += n
        if g1:
            stages[1][0] += 1
            stages[1][1] += n
        if g2:
            stages[2][0] += 1
            stages[2][1] += n
            if canon[fp] == d:
                stages[3][0] += 1
                stages[3][1] += n
    got = {
        r["stage_idx"]: (r["stage"], r["n_docs"], r["n_tokens"])
        for r in REGISTRY["tp5_funnel_report"].fn(spark, SF_SMOKE).collect()
    }
    names = {0: "raw", 1: "lang", 2: "quality", 3: "dedup"}
    assert got == {
        i: (names[i], stages[i][0], stages[i][1]) for i in range(4)
    }
    # funnel law: monotone non-increasing in docs and tokens
    for i in range(3):
        assert got[i][1] >= got[i + 1][1] and got[i][2] >= got[i + 1][2]
    assert got[3][1] > 0, "the funnel must not empty out"


def test_dd4b_matches_counter_jaccard_replay(spark):
    """df-cut n-gram Jaccard re-derived with Python sets (3-gram
    shingles, df<=50 cut, exact i/(na+nb-i) division)."""
    from collections import Counter, defaultdict

    m = _doc_m()
    corpus = {}
    for d, t, *_ in _docs():
        corpus[d] = t.lower()
        if d % 25 == 0:
            w = t.lower().split(" ")
            corpus[d + m] = " ".join(w[: max((len(w) * 7) // 10, 1)])
    sh = {}
    for d, t in corpus.items():
        w = t.split(" ")
        sh[d] = {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1))}
    df = Counter(g for s in sh.values() for g in s)
    kept = {d: {g for g in s if df[g] <= 50} for d, s in sh.items()}
    inv = defaultdict(list)
    for d, s in kept.items():
        for g in s:
            inv[g].append(d)
    inter = defaultdict(int)
    for g, ds in inv.items():
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                inter[(a, b)] += 1
    expected = {}
    for (a, b), i in inter.items():
        j = i / (len(kept[a]) + len(kept[b]) - i)
        if j >= 0.3:
            expected[(a, b)] = j
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in REGISTRY["dd4b_ngram_jaccard_dfcut"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert expected, "planted truncations must produce pairs"


def test_j14_matches_bruteforce_window_scan(spark):
    """Range join re-derived by a brute-force per-error scan over the
    user's events in (t, t+1h) — verifies the two-bucket replication
    neither drops nor double-counts follow events."""
    from collections import defaultdict

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    us = ev["ts"].astype("int64")
    by_user = defaultdict(list)
    for uid, et, v, s in zip(ev["user_id"], ev["event_type"], ev["value"], us):
        by_user[int(uid)].append((int(s), et, float(v)))
    expected = {}
    for uid, et, s, eid in zip(
        ev["user_id"], ev["event_type"], us, ev["event_id"]
    ):
        if et != "error":
            continue
        n = np_ = cents = 0
        for fs, fet, fv in by_user[int(uid)]:
            if int(s) < fs < int(s) + 3_600_000_000:
                n += 1
                np_ += fet == "purchase"
                cents += math.floor(fv * 100.0 + 0.5)
        expected[int(eid)] = (int(uid), n, np_, cents)
    got = {
        r["err_id"]: (r["user_id"], r["n_follow"], r["n_purchase"], r["value_cents"])
        for r in REGISTRY["j14_bucketed_range_join"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert any(v[1] > 0 for v in expected.values())


def test_j8b_matches_bruteforce_haversine(spark):
    """Grid spatial join re-derived by the all-pairs double loop —
    verifies the 3x3 cell neighborhood provably covers the 50 km radius
    (no pair lost at cell edges)."""
    import duckdb

    cust = [
        k
        for (k,) in duckdb.sql(
            f"SELECT c_custkey FROM '{SF_SMOKE}/customer.parquet'"
        ).fetchall()
    ]
    supp = [
        k
        for (k,) in duckdb.sql(
            f"SELECT s_suppkey FROM '{SF_SMOKE}/supplier.parquet'"
        ).fetchall()
    ]
    latlon = lambda k: (54.0 + (k % 600) / 100.0, 10.0 + (k % 1200) / 100.0)  # noqa: E731

    def hav(c, s):
        clat, clon = latlon(c)
        slat, slon = latlon(s)
        return (
            2
            * 6371.0088
            * math.asin(
                math.sqrt(
                    math.sin(math.radians(slat - clat) / 2) ** 2
                    + math.cos(math.radians(clat))
                    * math.cos(math.radians(slat))
                    * math.sin(math.radians(slon - clon) / 2) ** 2
                )
            )
        )

    expected = {}
    for c in cust:
        for s in supp:
            d = hav(c, s)
            if d <= 50.0:
                expected[(c, s)] = math.floor(d * 1e4 + 0.5) / 1e4
    got = {
        (r["c_custkey"], r["s_suppkey"]): r["dist_km"]
        for r in REGISTRY["j8b_grid_spatial_join"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert expected, "the radius must actually match some pairs"


def test_i9_matches_sequential_run_length_replay(spark):
    """SCD2 compaction re-derived with a sequential per-user run-length
    pass, plus the interval laws (contiguity, one current row per user,
    event counts partition the stream)."""
    from collections import defaultdict

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    by_user = defaultdict(list)
    for uid, et, ts, eid in zip(
        ev["user_id"], ev["event_type"], ev["ts"], ev["event_id"]
    ):
        by_user[int(uid)].append((ts, int(eid), et))
    expected = {}
    for uid, rows in by_user.items():
        rows.sort()
        runs = []
        for ts, eid, et in rows:
            if runs and runs[-1][0] == et:
                runs[-1][2] += 1
            else:
                runs.append([et, ts, 1])
        for i, (state, vfrom, n) in enumerate(runs):
            vto = runs[i + 1][1] if i + 1 < len(runs) else None
            expected[(uid, vfrom)] = (state, vto, n, vto is None)
    got = {
        (r["user_id"], pd.Timestamp(r["valid_from"])): (
            r["state"],
            pd.Timestamp(r["valid_to"]) if r["valid_to"] is not None else None,
            r["n_events"],
            r["is_current"],
        )
        for r in REGISTRY["i9_scd2_compaction"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    per_user_current = defaultdict(int)
    per_user_events = defaultdict(int)
    for (uid, _), (_, _, n, cur) in got.items():
        per_user_current[uid] += cur
        per_user_events[uid] += n
    assert all(c == 1 for c in per_user_current.values())
    assert per_user_events == {u: len(r) for u, r in by_user.items()}


def test_dd11_matches_sequential_span_replay(spark):
    """Span dedup re-derived with a dict-of-first-occurrence sequential
    pass in (doc_id, pos) order — survivor rule, drop counts, and the
    cleaned-text hash."""
    import hashlib

    chunks = []
    for d, t, *_ in sorted(_docs()):
        w = t.split(" ")
        for i in range((len(w) + 7) // 8):
            chunks.append((d, i, " ".join(w[i * 8 : (i + 1) * 8])))
    first = {}
    for d, pos, c in sorted(chunks):
        first.setdefault(c, (d, pos))
    expected = {}
    from collections import defaultdict

    per_doc = defaultdict(list)
    for d, pos, c in chunks:
        per_doc[d].append((pos, c, first[c] == (d, pos)))
    for d, rows in per_doc.items():
        rows.sort()
        kept = " ".join(c for _, c, keep in rows if keep)
        expected[d] = (
            len(rows),
            sum(not keep for _, _, keep in rows),
            hashlib.md5(kept.encode()).hexdigest(),
        )
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_dropped"], r["cleaned_md5"])
        for r in REGISTRY["dd11_span_dedup"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert any(v[1] > 0 for v in expected.values()), "some spans must dedup"


def test_s6b_matches_python_json_replay(spark):
    """JSON extraction re-derived with Python's json module (third JSON
    parser after Jackson and DuckDB's)."""
    import json
    from collections import defaultdict

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    cells = defaultdict(lambda: [0, None, None, 0])
    for et, props, v in zip(ev["event_type"], ev["props"], ev["value"]):
        k = int(json.loads(props)["k"])
        cell = cells[(et, k // 10)]
        cell[0] += 1
        cell[1] = k if cell[1] is None else min(cell[1], k)
        cell[2] = k if cell[2] is None else max(cell[2], k)
        cell[3] += math.floor(float(v) * 100.0 + 0.5)
    expected = {key: tuple(c) for key, c in cells.items()}
    got = {
        (r["event_type"], r["k_decile"]): (
            r["n"],
            r["k_min"],
            r["k_max"],
            r["value_cents"],
        )
        for r in REGISTRY["s6b_json_props_extract"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_sim10_matches_python_pq_replay(spark):
    """PQ/ADC re-derived in Python: codebook = first 4 vectors' 16-dim
    subspaces, codes by expanded-form L2 argmin (tie min j), ADC =
    lookup-sum in the engines' ((d0+d1)+(d2+d3)) association, top-5."""
    V, _ = _vecs()
    M, K, SUB = 4, 4, 16

    def l2(a, b):
        return (_fold_dot(a, a) - 2 * _fold_dot(a, b)) + _fold_dot(b, b)

    cb = {
        (m, j): V[j][m * SUB : (m + 1) * SUB] for m in range(M) for j in range(K)
    }
    codes = {}
    for vid, v in V.items():
        codes[vid] = tuple(
            min(range(K), key=lambda j: (l2(v[m * SUB : (m + 1) * SUB], cb[(m, j)]), j))
            for m in range(M)
        )
    expected = {}
    for qid in (v for v in V if v < 10):
        lut = {
            (m, j): l2(V[qid][m * SUB : (m + 1) * SUB], cb[(m, j)])
            for m in range(M)
            for j in range(K)
        }
        scored = []
        for c, code in codes.items():
            if c == qid:
                continue
            d = (lut[(0, code[0])] + lut[(1, code[1])]) + (
                lut[(2, code[2])] + lut[(3, code[3])]
            )
            scored.append((d, c))
        for rk, (d, c) in enumerate(sorted(scored)[:5], start=1):
            expected[(qid, c)] = (rk, _q6(d))
    got = {
        (r["query_id"], r["neighbor_id"]): (r["rank"], r["adc_dist"])
        for r in REGISTRY["sim10_pq_adc"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected


# --- st1: streaming tumbling-window counts ----------------------------------


def test_st1_matches_python_hour_buckets(spark):
    """The streamed hourly windows must equal a plain Python dict count
    over epoch-aligned hour floors."""
    from collections import Counter

    got = _run(spark, "st1_stream_windowed_counts")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    exp = Counter(
        (ts.floor("h"), et) for ts, et in zip(ev["ts"], ev["event_type"])
    )
    assert len(got) == len(exp)
    for _, r in got.iterrows():
        assert exp[(pd.Timestamp(r["window_start"]), r["event_type"])] == int(
            r["n"]
        ), (r["window_start"], r["event_type"])


# --- st2: stateful per-user counters ----------------------------------------


def test_st2_matches_sequential_state_replay(spark):
    """Final per-user state re-derived by a sequential replay in
    (ts, event_id) order: monotone count, running value sum (4dp
    floor-quantized), last event type by max (ts, event_id)."""
    got = _run(spark, "st2_stateful_user_counts")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    assert len(got) == ev["user_id"].nunique()
    exp = {}
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        vsum = 0.0
        for v in g["value"]:
            vsum += float(v)
        exp[int(uid)] = (
            len(g),
            math.floor(vsum * 1e4 + 0.5) / 1e4,
            str(g.iloc[-1]["event_type"]),
        )
    for _, r in got.iterrows():
        n, vs, last = exp[int(r["user_id"])]
        assert int(r["n_events"]) == n
        assert abs(r["value_sum"] - vs) <= 1e-4, int(r["user_id"])
        assert r["last_event_type"] == last, int(r["user_id"])


# --- st3: watermarked append-mode finalized windows --------------------------


def test_st3_matches_python_finalization_rule(spark):
    """Emitted set == 10-minute buckets whose end <= max(ts) - 30 min;
    counts from a plain dict; no non-finalized window may appear."""
    from collections import Counter

    got = _run(spark, "st3_watermarked_append")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    mx = ev["ts"].max()
    full = Counter(
        (ts.floor("10min"), et) for ts, et in zip(ev["ts"], ev["event_type"])
    )
    horizon = mx - pd.Timedelta(minutes=30)
    exp = {
        (w, et): n
        for (w, et), n in full.items()
        if w + pd.Timedelta(minutes=10) <= horizon
    }
    assert len(got) == len(exp)
    for _, r in got.iterrows():
        key = (pd.Timestamp(r["window_start"]), r["event_type"])
        assert key in exp and exp[key] == int(r["n"]), key


# --- st5: bounded-state streaming dedup --------------------------------------


def test_st5_doubled_stream_dedups_to_distinct_source(spark):
    """The at-least-once (doubled) stream must dedup to EXACTLY the
    distinct source events — every event_id once, with its own
    (event_type, 4dp value)."""
    got = _run(spark, "st5_streaming_dedup")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    assert len(got) == len(ev) == got["event_id"].nunique()
    exp = {
        int(e): (t, math.floor(float(v) * 1e4 + 0.5) / 1e4)
        for e, t, v in zip(ev["event_id"], ev["event_type"], ev["value"])
    }
    for _, r in got.iterrows():
        t, v = exp[int(r["event_id"])]
        assert r["event_type"] == t and r["value"] == v, int(r["event_id"])


# --- st7: stream-static dimension enrichment ---------------------------------


def test_st7_matches_python_segment_rollup(spark):
    """Segment × type rollup re-derived from a Python dict join of the
    customer dim — exact-integer cents sums make it exact."""
    from collections import defaultdict

    got = _run(spark, "st7_stream_static_join")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")
    seg = dict(zip(cust["c_custkey"].astype(int), cust["c_mktsegment"]))
    exp = defaultdict(lambda: [0, 0])
    dropped = 0
    for u, t, v in zip(ev["user_id"], ev["event_type"], ev["value"]):
        s = seg.get(int(u))
        if s is None:
            dropped += 1
            continue
        cell = exp[(s, t)]
        cell[0] += 1
        cell[1] += math.floor(float(v) * 100.0 + 0.5)
    assert len(got) == len(exp)
    for _, r in got.iterrows():
        n, cents = exp[(r["segment"], r["event_type"])]
        assert (int(r["n"]), int(r["value_cents"])) == (n, cents)
    # inner-join law: totals balance against the dim coverage
    assert int(got["n"].sum()) == len(ev) - dropped


# --- w7: native session windows ----------------------------------------------


def test_w7_matches_sequential_sessionizer(spark):
    """session_window output re-derived by a per-user sequential gap
    scan at full microsecond precision: split at gap >= 1800 s, bounds
    [min ts, max ts + 30 min)."""
    got = _run(spark, "w7_native_session_window")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    exp = set()
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        sessions = []
        for t in g["ts"]:
            ns = pd.Timestamp(t).value
            if sessions and ns - sessions[-1][-1] < 1_800_000_000_000:
                sessions[-1].append(ns)
            else:
                sessions.append([ns])
        for s in sessions:
            exp.add(
                (
                    int(uid),
                    pd.Timestamp(min(s)),
                    pd.Timestamp(max(s)) + pd.Timedelta(minutes=30),
                    len(s),
                )
            )
    have = {
        (
            int(r["user_id"]),
            pd.Timestamp(r["session_start"]),
            pd.Timestamp(r["session_end"]),
            int(r["n_events"]),
        )
        for _, r in got.iterrows()
    }
    assert have == exp
    # session law: per-user event counts are partitioned by sessions
    per_user = got.groupby("user_id")["n_events"].sum()
    for uid, n in ev.groupby("user_id").size().items():
        assert per_user[uid] == n


# --- w11: CUSUM drift --------------------------------------------------------


def test_w11_matches_sequential_cusum(spark):
    """Per-event CUSUM trajectories re-derived by the textbook
    recurrence (identical IEEE op order → exact equality), plus the
    control-chart laws: both sums nonnegative, flags fire iff the
    UNquantized sum exceeds h."""
    got = _run(spark, "w11_cusum_drift")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    exp = {}
    for _, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        s_hi = s_lo = 0.0
        for _, r in g.iterrows():
            v = float(r["value"])
            s_hi = max(0.0, s_hi + (v - 60.0))
            s_lo = max(0.0, s_lo + (40.0 - v))
            exp[int(r["event_id"])] = (
                math.floor(s_hi * 1e6 + 0.5) / 1e6,
                math.floor(s_lo * 1e6 + 0.5) / 1e6,
                s_hi > 300.0,
                s_lo > 300.0,
            )
    assert len(got) == len(exp)
    for _, r in got.iterrows():
        hi, lo, up, dn = exp[int(r["event_id"])]
        assert (r["cusum_hi"], r["cusum_lo"]) == (hi, lo), int(r["event_id"])
        assert (r["drift_up"], r["drift_down"]) == (up, dn), int(r["event_id"])
        assert r["cusum_hi"] >= 0.0 and r["cusum_lo"] >= 0.0


# --- tx11: language-ID confusion matrix --------------------------------------


def test_tx11_matches_python_confusion_matrix(spark):
    """Confusion cells re-derived by a Python argmax replay of the
    marker heuristic (strict-greater precedence fold), label shares
    from exact integer cell counts; per-label shares must sum to ~1."""
    from collections import Counter

    MARKERS = [
        ("en", ["the", "a", "and", "of"]),
        ("de", ["der", "die", "und", "nicht"]),
        ("fr", ["le", "la", "et", "les"]),
        ("es", ["el", "los", "y", "que"]),
        ("zh", ["的", "了", "是"]),
    ]
    got = _run(spark, "tx11_langid_confusion")
    cells = Counter()
    for d, t, lang, _src in _docs():
        toks = t.lower().split(" ")
        best_lang, best_score = MARKERS[0][0], sum(
            1 for x in toks if x in MARKERS[0][1]
        )
        for lg, mk in MARKERS[1:]:
            s = sum(1 for x in toks if x in mk)
            if s > best_score:
                best_lang, best_score = lg, s
        cells[(lang, best_lang)] += 1
    totals = Counter()
    for (lab, _pred), n in cells.items():
        totals[lab] += n
    assert len(got) == len(cells)
    for _, r in got.iterrows():
        key = (r["labeled_lang"], r["predicted_lang"])
        assert cells[key] == int(r["n"]), key
        share = math.floor(cells[key] * 1.0 / totals[key[0]] * 1e6 + 0.5) / 1e6
        assert r["label_share"] == share, key
    sums = got.groupby("labeled_lang")["label_share"].sum()
    assert ((sums - 1.0).abs() < 1e-5).all()


# --- dd4: full n-gram Jaccard (no df cut) ------------------------------------


def test_dd4_matches_counter_jaccard_replay(spark):
    """dd4b's replay without the df cut — the unfiltered Jaccard must
    match Python sets exactly, and dd4 ⊇ dd4b on pair keys is NOT
    guaranteed (the cut changes set sizes), so dd4 is anchored
    independently."""
    from collections import defaultdict

    m = _doc_m()
    corpus = {}
    for d, t, *_ in _docs():
        corpus[d] = t.lower()
        if d % 25 == 0:
            w = t.lower().split(" ")
            corpus[d + m] = " ".join(w[: max((len(w) * 7) // 10, 1)])
    sh = {}
    for d, t in corpus.items():
        w = t.split(" ")
        sh[d] = {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1))}
    inv = defaultdict(list)
    for d, s in sh.items():
        for g in s:
            inv[g].append(d)
    inter = defaultdict(int)
    for g, ds in inv.items():
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                inter[(a, b)] += 1
    expected = {}
    for (a, b), i in inter.items():
        j = i / (len(sh[a]) + len(sh[b]) - i)
        if j >= 0.3:
            expected[(a, b)] = j
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in REGISTRY["dd4_ngram_jaccard"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert expected, "planted truncations must produce pairs"


# --- dp6: two-period drift profile -------------------------------------------


def test_dp6_matches_python_period_split(spark):
    """Both periods' counts/distinct-users/cent-exact means re-derived
    by one Python pass; conservation law: n_a + n_b == total rows per
    type and n_drift == n_b - n_a."""
    from collections import defaultdict

    got = _run(spark, "dp6_drift_profile")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    cut = pd.Timestamp("2024-01-16 00:00:00")
    acc = defaultdict(lambda: [0, 0, set(), set(), 0, 0])
    for ts, u, t, v in zip(ev["ts"], ev["user_id"], ev["event_type"], ev["value"]):
        a = acc[t]
        cents = math.floor(float(v) * 100.0 + 0.5)
        if ts < cut:
            a[0] += 1
            a[2].add(int(u))
            a[4] += cents
        else:
            a[1] += 1
            a[3].add(int(u))
            a[5] += cents
    assert len(got) == len(acc)
    for _, r in got.iterrows():
        na, nb, ua, ub, ca, cb = acc[r["event_type"]]
        assert (int(r["n_a"]), int(r["n_b"])) == (na, nb)
        assert (int(r["users_a"]), int(r["users_b"])) == (len(ua), len(ub))
        assert r["mean_a"] == math.floor(ca / na * 100.0 + 0.5) / 10000.0
        assert r["mean_b"] == math.floor(cb / nb * 100.0 + 0.5) / 10000.0
        assert int(r["n_drift"]) == nb - na


# --- k7: EcoTaxa export file contract ----------------------------------------


def test_k7_matches_python_export_replay(spark):
    """Every data row's formatted fields re-derived by a pure-Python
    replay of the export math (fixed-point strings, lat/lon synthesis,
    the (7·sample + 13·roi) mod 86400 clock), and the file contract:
    exactly one line_no=0 code row per distinct category carrying the
    '[t]'/'[f]' header codes."""
    import duckdb

    got = _run(spark, "k7_ecotaxa_export")
    li = duckdb.sql(
        "SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice, l_discount"
        f" FROM '{SF_SMOKE}/lineitem.parquet' WHERE l_orderkey % 25 = 0"
    ).fetchall()
    od = {
        int(k): (int(c), d)
        for k, c, d in duckdb.sql(
            f"SELECT o_orderkey, o_custkey, o_orderdate FROM '{SF_SMOKE}/orders.parquet'"
        ).fetchall()
    }
    brand = {
        int(p): b
        for p, b in duckdb.sql(
            f"SELECT p_partkey, p_brand FROM '{SF_SMOKE}/part.parquet'"
        ).fetchall()
    }

    def fixed(x, d):
        u = math.floor(x * 10**d + 0.5)
        return f"{u // 10**d}.{str(u % 10**d).zfill(d)}"

    exp_rows = set()
    cats = set()
    for okey, roi, pkey, price, disc in li:
        ck, date = od[int(okey)]
        cat = brand[int(pkey)]
        cats.add(cat)
        secs = (int(okey) * 7 + int(roi) * 13) % 86400
        exp_rows.add(
            (
                cat,
                1,
                f"{okey}_{str(roi).zfill(5)}",
                f"{okey}_{roi}",
                fixed(54.0 + (ck % 600) / 100.0, 2),
                fixed(10.0 + (ck % 1200) / 100.0, 2),
                date.strftime("%Y-%m-%d"),
                f"{str(secs // 3600).zfill(2)}:{str(secs % 3600 // 60).zfill(2)}:{str(secs % 60).zfill(2)}",
                fixed(float(price), 2),
                fixed(float(price) * (1 - float(disc)), 4),
            )
        )
    for cat in cats:
        exp_rows.add(
            (cat, 0, "[t]", "[t]", "[f]", "[f]", "[t]", "[t]", "[f]", "[f]")
        )
    have = {
        (
            r["object_annotation_category"],
            int(r["line_no"]),
            r["img_file_name"],
            r["object_id"],
            r["object_lat"],
            r["object_lon"],
            r["object_date"],
            r["object_time"],
            r["object_area"],
            r["object_biovolume"],
        )
        for _, r in got.iterrows()
    }
    assert have == exp_rows
    # file contract: one code row per category, no orphan code rows
    codes = got[got["line_no"] == 0]
    assert len(codes) == len(cats)
    assert set(codes["object_annotation_category"]) == cats


# --- a22: half-life-decayed engagement ---------------------------------------


def test_a22_matches_integer_weight_replay(spark):
    """Decayed engagement re-derived with pure integer arithmetic
    (cents << (8 - capped-week-age)) — exact, plus the decay law:
    engagement <= 256 * plain cents sum / 25600."""
    from collections import defaultdict

    got = _run(spark, "a22_decayed_engagement")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    us = ev["ts"].astype("datetime64[us]").astype("int64")
    mx = int(us.max())
    acc = defaultdict(lambda: [0, 0])
    for u, t_us, v in zip(ev["user_id"], us, ev["value"]):
        w = min((mx - int(t_us)) // 604_800_000_000, 8)
        cents = math.floor(float(v) * 100.0 + 0.5)
        a = acc[int(u)]
        a[0] += 1
        a[1] += cents << (8 - w)
    assert len(got) == len(acc)
    for _, r in got.iterrows():
        n, units = acc[int(r["user_id"])]
        assert int(r["n_events"]) == n
        assert r["engagement"] == math.floor(units / 25600.0 * 1e4 + 0.5) / 1e4
        assert r["engagement"] >= 0.0


# --- sp2b: two-phase stratified top-k ----------------------------------------


def test_sp2b_matches_hash_ranked_draw(spark):
    """Per-(lang, source) top-3 re-derived by a Python md5-hash sort;
    exactly min(3, |stratum|) rows per stratum with ranks 1..k."""
    import hashlib
    from collections import defaultdict

    got = _run(spark, "sp2b_stratified_topk")
    strata = defaultdict(list)
    for d, _t, lang, src in _docs():
        h = int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16)
        strata[(lang, src)].append((h, d))
    exp = {}
    for key, rows in strata.items():
        for rk, (_h, d) in enumerate(sorted(rows)[:3], start=1):
            exp[d] = (*key, rk)
    assert len(got) == len(exp)
    for _, r in got.iterrows():
        assert exp[int(r["doc_id"])] == (
            r["lang"],
            r["source"],
            int(r["rk"]),
        ), int(r["doc_id"])
    per_stratum = got.groupby(["lang", "source"]).size()
    for key, rows in strata.items():
        assert per_stratum[key] == min(3, len(rows))


# --- dd10: MinHash cross-set decontamination ---------------------------------


def test_dd10_matches_minhash_replay(spark):
    """Full pure-Python replay of the Kirsch-Mitzenmacher MinHash +
    8×2 banding + cross-set bucket join + agreement estimate; recall
    law: every 70%-truncation plant surviving the band join must carry
    est >= 0.5 in BOTH computations."""
    import hashlib
    from collections import defaultdict

    def sig_of(shingles):
        mins = [1 << 40] * 16
        for g in shingles:
            hx = hashlib.md5(g.encode()).hexdigest()
            h1 = int(hx[:8], 16)
            h2 = int(hx[8:16], 16) | 1
            for s in range(16):
                v = (h1 + s * h2) % 4294967296
                if v < mins[s]:
                    mins[s] = v
        return mins

    def shingles_of(text):
        w = text.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1))}

    m = _doc_m()
    train, eval_side = {}, {}
    for d, t, _lang, src in _docs():
        t = t.lower()
        if src == "src0":
            eval_side[d + 5 * m] = t
        else:
            train[d] = t
            if d % 10 == 0:
                w = t.split(" ")
                keep = max(math.floor(len(w) * 7 / 10), 1)
                eval_side[d + 6 * m] = " ".join(w[:keep])
    t_sig = {d: sig_of(shingles_of(t)) for d, t in train.items()}
    e_sig = {d: sig_of(shingles_of(t)) for d, t in eval_side.items()}
    buckets = defaultdict(set)
    for d, s in t_sig.items():
        for b in range(8):
            buckets[(b, s[2 * b], s[2 * b + 1])].add(d)
    expected = {}
    for e, s in e_sig.items():
        cands = set()
        for b in range(8):
            cands |= buckets[(b, s[2 * b], s[2 * b + 1])]
        for tr in cands:
            agree = sum(1 for x, y in zip(t_sig[tr], s) if x == y)
            if agree / 16 >= 0.5:
                expected[(tr, e)] = agree / 16
    got = {
        (r["train_doc"], r["eval_doc"]): r["est_jaccard"]
        for r in REGISTRY["dd10_fuzzy_decontamination"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    assert any(e >= 6 * m for _tr, e in expected), (
        "truncation plants must survive the band join"
    )
    for (tr, e), est in expected.items():
        if e >= 6 * m and tr == e - 6 * m:
            assert est >= 0.5


# --- dd12: asymmetric containment pairs --------------------------------------


def test_dd12_matches_counter_containment_replay(spark):
    """Both containment directions re-derived with Python sets after the
    df<=50 cut; subset law: a planted truncation whose kept set is a
    subset of its source must show cont_a_in_b == 1.0 in the direction
    of the smaller set."""
    from collections import Counter, defaultdict

    m = _doc_m()
    corpus = {}
    for d, t, *_ in _docs():
        corpus[d] = t.lower()
        if d % 25 == 0:
            w = t.lower().split(" ")
            corpus[d + m] = " ".join(w[: max((len(w) * 7) // 10, 1)])
    sh = {}
    for d, t in corpus.items():
        w = t.split(" ")
        sh[d] = {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1))}
    df = Counter(g for s in sh.values() for g in s)
    kept = {d: {g for g in s if df[g] <= 50} for d, s in sh.items()}
    inv = defaultdict(list)
    for d, s in kept.items():
        for g in s:
            inv[g].append(d)
    inter = defaultdict(int)
    for g, ds in inv.items():
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                inter[(a, b)] += 1
    expected = {}
    for (a, b), i in inter.items():
        na, nb = len(kept[a]), len(kept[b])
        if na and nb:
            cab, cba = i / na, i / nb
            if cab >= 0.9 or cba >= 0.9:
                expected[(a, b)] = (
                    math.floor(cab * 1e6 + 0.5) / 1e6,
                    math.floor(cba * 1e6 + 0.5) / 1e6,
                )
    got = {
        (r["doc_a"], r["doc_b"]): (r["cont_a_in_b"], r["cont_b_in_a"])
        for r in REGISTRY["dd12_containment_pairs"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected
    full_cover = [
        (a, b) for (a, b), (cab, cba) in expected.items()
        if b == a + m and kept[b] <= kept[a]
    ]
    assert full_cover, "subset plants must appear"
    for a, b in full_cover:
        assert expected[(a, b)][1] == 1.0


# --- mm7: modality coverage QC -----------------------------------------------


def test_mm7_matches_dict_join_coverage(spark):
    """Per-source embedding coverage re-derived by a Python dict join
    with the md5 drop rule; coverage law: 0 <= coverage <= 1 and
    n_with_embedding <= n_docs."""
    import duckdb
    import hashlib
    from collections import defaultdict

    got = _run(spark, "mm7_modality_coverage")
    vec_ids = {
        int(v)
        for (v,) in duckdb.sql(
            f"SELECT vec_id FROM '{SF_SMOKE}/embeddings.parquet'"
        ).fetchall()
        if int(hashlib.md5(str(int(v)).encode()).hexdigest()[:8], 16) % 4 != 0
    }
    acc = defaultdict(lambda: [0, 0])
    for d, _t, _lang, src in _docs():
        a = acc[src]
        a[0] += 1
        a[1] += int(d in vec_ids)
    assert len(got) == len(acc)
    for _, r in got.iterrows():
        n, ne = acc[r["source"]]
        assert (int(r["n_docs"]), int(r["n_with_embedding"])) == (n, ne)
        assert r["coverage"] == math.floor(ne / n * 1e6 + 0.5) / 1e6
        assert 0.0 <= r["coverage"] <= 1.0 and ne <= n


# --- tp3: incremental corpus refresh -----------------------------------------


def test_tp3_matches_python_delta_replay(spark):
    """The carried/cleaned funnel re-derived in Python: carried = all
    non-delta v2 docs untouched; cleaned = delta docs surviving the
    lang/len/stop-ratio gates; splits by md5 hash.  Refresh law: no doc
    appears twice, and every carried doc's n_tok matches its v2 text."""
    import hashlib

    STOP = {"the", "a", "and", "of", "to", "in", "is"}
    got = _run(spark, "tp3_incremental_refresh")
    m = _doc_m()
    v2 = {}
    for d, t, lang, _src in _docs():
        t = t.lower()
        if d % 30 != 0:
            if d % 25 == 0:
                v2[d] = (lang, "rewritten: " + t, True)
            else:
                v2[d] = (lang, t, False)
        else:
            v2[d + 3 * m] = (lang, "fresh copy " + t, True)
    exp = {}
    for doc, (lang, text, is_delta) in v2.items():
        ws = text.split(" ")
        n_tok = len(ws)
        split = (
            "train"
            if int(hashlib.md5(str(doc).encode()).hexdigest()[:8], 16) % 100 < 90
            else "eval"
        )
        if not is_delta:
            exp[doc] = ("carried", n_tok, split)
        else:
            stop_ratio = sum(1 for x in ws if x in STOP) / n_tok
            if lang == "en" and n_tok >= 20 and stop_ratio >= 0.02:
                exp[doc] = ("cleaned", n_tok, split)
    assert len(got) == len(exp) == got["doc"].nunique()
    for _, r in got.iterrows():
        assert exp[int(r["doc"])] == (r["status"], int(r["n_tok"]), r["split"]), (
            int(r["doc"])
        )
    assert (got["status"] == "cleaned").any() and (got["status"] == "carried").any()


# --- mm5 / mm10: audio PCM frame features and VAD ----------------------------


def _pcm_frames():
    """Closed-form replay of the shared mm5/mm10 audio fixture: per
    (audio, frame) -> (rms_raw, zcr, peak), straight from the PCM
    synthesis rule x_g = (a*13 + g*7) % 251 - 125."""
    import duckdb

    feats = {}
    for (a,) in duckdb.sql(
        f"SELECT o_orderkey FROM '{SF_SMOKE}/orders.parquet'"
        " WHERE o_orderkey % 300 = 0"
    ).fetchall():
        a = int(a)
        n = (a % 1000) + 500
        for f in range(n // 64):
            xs = [((a * 13 + (f * 64 + i) * 7) % 251) - 125 for i in range(64)]
            rms = math.sqrt(sum(x * x for x in xs) / 64)
            zcr = sum(
                1 for i in range(63) if (xs[i] >= 0) != (xs[i + 1] >= 0)
            ) / 63.0
            feats[(str(a), f)] = (rms, zcr, max(abs(x) for x in xs))
    return feats


def test_mm5_matches_closed_form_pcm(spark):
    """Every frame's RMS/ZCR/peak from the real mapInPandas kernel must
    equal the closed-form PCM replay (integer-exact mean under sqrt →
    exact equality after 6dp floor quantization)."""
    got = _run(spark, "mm5_audio_frame_features")
    exp = _pcm_frames()
    assert len(got) == len(exp)
    for _, r in got.iterrows():
        rms, zcr, peak = exp[(r["audio_id"], int(r["frame_idx"]))]
        assert r["rms"] == math.floor(rms * 1e6 + 0.5) / 1e6
        assert r["zcr"] == math.floor(zcr * 1e6 + 0.5) / 1e6
        assert int(r["peak"]) == peak


def test_mm10_matches_python_run_segments(spark):
    """VAD segments re-derived by a sequential run scanner over the
    closed-form frames: energy gate rms >= 73, runs of consecutive
    active frames, segments kept at length >= 3; segment laws:
    n_frames == seg_end - seg_start + 1 and segments never overlap."""
    from collections import defaultdict

    got = _run(spark, "mm10_voice_activity")
    frames = defaultdict(list)
    for (aid, f), (rms, _zcr, peak) in _pcm_frames().items():
        frames[aid].append((f, rms >= 73.0, peak))
    exp = set()
    for aid, fs in frames.items():
        run = []
        for f, active, peak in sorted(fs):
            if active:
                run.append((f, peak))
            else:
                if len(run) >= 3:
                    exp.add(
                        (aid, run[0][0], run[-1][0], len(run), max(p for _f, p in run))
                    )
                run = []
        if len(run) >= 3:
            exp.add((aid, run[0][0], run[-1][0], len(run), max(p for _f, p in run)))
    have = {
        (
            r["audio_id"],
            int(r["seg_start"]),
            int(r["seg_end"]),
            int(r["n_frames"]),
            int(r["max_peak"]),
        )
        for _, r in got.iterrows()
    }
    assert have == exp
    for aid, s, e, n, _p in exp:
        assert n == e - s + 1
    by_audio = defaultdict(list)
    for aid, s, e, *_ in sorted(exp):
        by_audio[aid].append((s, e))
    for segs in by_audio.values():
        for (s1, e1), (s2, _e2) in zip(segs, segs[1:]):
            assert e1 < s2 - 1, "adjacent active runs must be gap-separated"


# --- mm9: dHash perceptual dedup ---------------------------------------------


def test_mm9_matches_closed_form_dhash(spark):
    """The real decode→resize→dHash chain must reproduce the closed-form
    gradient-sign hash (nearest-resize index algebra done independently
    in Python); manifest laws: Σ n_rois == total ROI count and
    canonical_sample == min over the group."""
    import duckdb
    from collections import defaultdict

    got = _run(spark, "mm9_perceptual_dedup")
    groups = defaultdict(lambda: [0, set()])
    total = 0
    for (okey,) in duckdb.sql(
        f"SELECT o_orderkey FROM '{SF_SMOKE}/orders.parquet'"
        " WHERE o_orderkey % 200 = 0"
    ).fetchall():
        okey = int(okey)
        for roi in range(1, (okey % 50) + 2):
            w, h = 8 + roi % 16, 8 + (roi * 3) % 16
            hi = lo = 0
            for y in range(8):
                vs = [
                    (roi * 31 + ((y * h) // 8) * w + ((x * w) // 9)) % 251
                    for x in range(9)
                ]
                for x in range(8):
                    if vs[x + 1] > vs[x]:
                        pos = y * 8 + x
                        if pos >= 32:
                            hi |= 1 << (pos - 32)
                        else:
                            lo |= 1 << pos
            g = groups[(hi, lo)]
            g[0] += 1
            g[1].add(okey)
            total += 1
    assert len(got) == len(groups)
    for _, r in got.iterrows():
        n, samples = groups[(int(r["dhash_hi"]), int(r["dhash_lo"]))]
        assert int(r["n_rois"]) == n
        assert int(r["n_samples"]) == len(samples)
        assert int(r["canonical_sample"]) == min(samples)
    assert int(got["n_rois"].sum()) == total


# --- dd14/dd15: MinHash-LSH recall audit + S-curve parameter sweep ----------
#
# Both queries share one stack: corpus (500 docs + planted 70%-prefix
# truncations at doc_id+M for doc_id%25==0) -> distinct 3-word
# shingles -> 16 Kirsch-Mitzenmacher MinHashes (md5-derived h1/h2, h2
# forced odd, mod 2^32) -> banded equi-join candidates.  The replay
# below re-derives every stage from the raw parquet with hashlib +
# dict-of-lists buckets — no Spark, no DuckDB, no shared helpers.


def _lsh_minhash_replay():
    import hashlib
    from collections import defaultdict

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    m = max(10000, int(docs["doc_id"].max()) + 1)
    corpus = {}
    for did, text in zip(docs["doc_id"], docs["text"]):
        did = int(did)
        t = text.lower()
        corpus[did] = t
        if did % 25 == 0:
            w = t.split(" ")
            corpus[did + m] = " ".join(w[: max(1, (len(w) * 7) // 10)])
    sigs = {}
    for doc, t in corpus.items():
        w = t.split(" ")
        shingles = {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1))}
        mins = [1 << 40] * 16
        for s in shingles:
            h = hashlib.md5(s.encode()).hexdigest()
            h1, h2 = int(h[:8], 16), int(h[8:16], 16) | 1
            for seed in range(16):
                v = (h1 + seed * h2) % 4294967296
                if v < mins[seed]:
                    mins[seed] = v
        sigs[doc] = mins

    def candidates(bands, rows):
        buckets = defaultdict(list)
        for doc, mh in sigs.items():
            for b in range(bands):
                key = (b, tuple(mh[b * rows : (b + 1) * rows]))
                buckets[key].append(doc)
        cand = set()
        for members in buckets.values():
            members.sort()
            for i in range(len(members)):
                for j in range(i + 1, len(members)):
                    cand.add((members[i], members[j]))
        return cand

    truth = {(d, d + m) for d in corpus if d < m and d % 25 == 0}
    return candidates, truth


def _q6(x: float) -> float:
    return math.floor(x * 1000000.0 + 0.5) / 1000000.0


def test_dd14_lsh_recall_bruteforce_replay(spark):
    got = _run(spark, "dd14_lsh_recall")
    assert len(got) == 1
    candidates, truth = _lsh_minhash_replay()
    cand = candidates(8, 2)
    hit = {p for p in truth if p in cand}
    assert int(got["n_true"].iloc[0]) == len(truth)
    assert int(got["n_candidates"].iloc[0]) == len(cand)
    assert int(got["n_hit"].iloc[0]) == len(hit)
    assert float(got["recall"].iloc[0]) == _q6(len(hit) / len(truth))
    # laws: hits bounded by both sets; every planted pair is a real
    # 70%-containment near-dup so recall must be strictly positive
    assert len(hit) <= min(len(truth), len(cand))
    assert len(hit) > 0


def test_dd15_sweep_replay_and_scurve_nesting(spark):
    got = _run(spark, "dd15_lsh_parameter_sweep").sort_values("bands")
    candidates, truth = _lsh_minhash_replay()
    sets = {b: candidates(b, r) for b, r in [(2, 8), (4, 4), (8, 2)]}
    for _, row in got.iterrows():
        cand = sets[int(row["bands"])]
        hit = {p for p in truth if p in cand}
        assert int(row["rows_per_band"]) * int(row["bands"]) == 16
        assert int(row["n_candidates"]) == len(cand)
        assert int(row["n_hit"]) == len(hit)
        assert int(row["n_true"]) == len(truth)
        assert float(row["recall"]) == _q6(len(hit) / len(truth))
    # nesting law: the three configs band the SAME 16 seeds in nested
    # slices ([0:8] = [0:4]+[4:8] ...), so agreement on a wide band
    # implies agreement on both its halves — candidate sets must nest,
    # hence candidate volume and recall are monotone in band count
    assert sets[2] <= sets[4] <= sets[8]
    g = got.set_index("bands")
    assert (
        g.loc[2, "n_candidates"] <= g.loc[4, "n_candidates"] <= g.loc[8, "n_candidates"]
    )
    assert g.loc[2, "recall"] <= g.loc[4, "recall"] <= g.loc[8, "recall"]
    # dd14 audits the (8, 2) configuration — its row must agree exactly
    dd14 = _run(spark, "dd14_lsh_recall")
    assert int(dd14["n_candidates"].iloc[0]) == int(g.loc[8, "n_candidates"])
    assert int(dd14["n_hit"].iloc[0]) == int(g.loc[8, "n_hit"])


# --- sim11: MIPS via norm-augmentation reduction ----------------------------


def _seq_dot(a, b) -> float:
    # left-to-right IEEE accumulation — the exact association of the
    # engine's F.aggregate(zip_with(...)) fold
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def test_sim11_mips_bruteforce_and_reduction_law(spark):
    got = _run(spark, "sim11_mips_topk").sort_values(["query_id", "rank"])
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb.itertuples()}

    exp_rows = []
    for q in sorted(v for v in vecs if v < 5):
        scored = sorted(
            ((_seq_dot(vecs[q], vecs[c]), c) for c in vecs if c != q),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (d, c) in enumerate(scored[:5], start=1):
            exp_rows.append((q, c, rank, _q6(d)))
    exp = pd.DataFrame(
        exp_rows, columns=["query_id", "neighbor_id", "rank", "dot_product"]
    )
    assert got[["query_id", "neighbor_id", "rank"]].values.tolist() == exp[
        ["query_id", "neighbor_id", "rank"]
    ].values.tolist()
    assert got["dot_product"].tolist() == exp["dot_product"].tolist()

    # reduction law (Neyshabur-Srebro): with M = max corpus norm,
    # x' = [x/M, sqrt(1-|x|^2/M^2)], q' = [q, 0] gives |x'| = 1 and
    # cos(q', x') = <q, x>/(M|q|) — cosine order IS inner-product order
    msq = max(_seq_dot(v, v) for v in vecs.values())
    for q in range(5):
        qv = vecs[q]
        qn = math.sqrt(_seq_dot(qv, qv))
        by_dot, by_cos = [], []
        for c, cv in vecs.items():
            if c == q:
                continue
            aug = [x / math.sqrt(msq) for x in cv]
            aug.append(math.sqrt(max(0.0, 1.0 - _seq_dot(cv, cv) / msq)))
            assert abs(_seq_dot(aug, aug) - 1.0) < 1e-9
            cos = _seq_dot(qv + [0.0], aug) / qn  # |aug| = 1
            by_dot.append((-_seq_dot(qv, cv), c))
            by_cos.append((-cos * math.sqrt(msq), c))
        order_dot = [c for _, c in sorted(by_dot)]
        order_cos = [c for _, c in sorted(by_cos)]
        assert order_dot[:5] == order_cos[:5]


# --- sim12: kNN graph from banded sign-LSH candidates -----------------------


def test_sim12_knn_graph_bucket_replay(spark):
    import hashlib
    from collections import defaultdict

    got = _run(spark, "sim12_knn_graph").sort_values(["src", "rank"])
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb.itertuples()}

    # planes re-derived from the md5 spec inline (component i of plane p
    # is +1 iff md5("p#i") first hex digit >= '8'), NOT imported
    planes = [
        [
            1.0 if hashlib.md5(f"{p}#{i}".encode()).hexdigest()[0] >= "8" else -1.0
            for i in range(64)
        ]
        for p in range(64)
    ]
    buckets = defaultdict(list)
    for vid, v in vecs.items():
        for b in range(8):
            sig = "".join(
                "1" if _seq_dot(v, planes[b * 8 + r]) > 0 else "0" for r in range(8)
            )
            buckets[(b, sig)].append(vid)
    cand = set()
    for members in buckets.values():
        for a in members:
            for b in members:
                if a != b:
                    cand.add((a, b))

    exp_rows = []
    for src in sorted({s for s, _ in cand}):
        dsts = sorted(d for s, d in cand if s == src)
        scored = sorted(
            (
                (
                    _q6(
                        _seq_dot(vecs[src], vecs[d])
                        / math.sqrt(
                            _seq_dot(vecs[src], vecs[src]) * _seq_dot(vecs[d], vecs[d])
                        )
                    ),
                    d,
                )
                for d in dsts
            ),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (cs, d) in enumerate(scored[:3], start=1):
            exp_rows.append((src, d, rank, cs))
    exp = pd.DataFrame(exp_rows, columns=["src", "dst", "rank", "cos_sim"])
    assert got[["src", "dst", "rank"]].values.tolist() == exp[
        ["src", "dst", "rank"]
    ].values.tolist()
    assert got["cos_sim"].tolist() == exp["cos_sim"].tolist()
    # laws: candidate symmetry ((a,b) in cand iff (b,a) in cand — the
    # bucket relation is symmetric), <= 3 contiguous ranks per node, and
    # every emitted edge came from a shared bucket
    assert all((b, a) in cand for a, b in cand)
    for src, grp in got.groupby("src"):
        assert grp["rank"].tolist() == list(range(1, len(grp) + 1))
        assert len(grp) <= 3
    assert all((int(r.src), int(r.dst)) in cand for r in got.itertuples())


# --- dp8/a20/dp2/a24: exact-quantile + skew-rollup family -------------------
#
# All four re-derive order statistics or integer-exact rollups from the
# raw parquet with numpy/pandas — independent of both the distributed
# rank machinery (operators/windows.grouped_prefix_sum, operators/skew) and
# the DuckDB quantile_cont implementation.


def test_dp8_exact_quantiles_sequential_recompute(spark):
    got = _run(spark, "dp8_exact_quantiles").sort_values("quantile")
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet", columns=["l_extendedprice"])
    cents = sorted(
        int(math.floor(v * 100.0 + 0.5)) for v in li["l_extendedprice"].tolist()
    )
    n = len(cents)
    exp = {}
    for p in (0.25, 0.5, 0.75):
        rf = (n - 1) * p
        lo = cents[int(math.floor(rf))]
        hi = cents[min(int(math.floor(rf)) + 1, n - 1)]
        exp[p] = (lo + (rf - math.floor(rf)) * (hi - lo)) / 100.0
    assert got["quantile"].tolist() == [0.25, 0.5, 0.75]
    assert got["q_value"].tolist() == [exp[0.25], exp[0.5], exp[0.75]]
    # laws: monotone in p, inside the data range
    assert exp[0.25] <= exp[0.5] <= exp[0.75]
    assert cents[0] / 100.0 <= exp[0.25] and exp[0.75] <= cents[-1] / 100.0


def test_a20_grouped_percentiles_numpy_recompute(spark):
    import numpy as np

    got = _run(spark, "a20_grouped_percentiles").sort_values("l_returnflag")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet", columns=["l_returnflag", "l_extendedprice"]
    )
    for _, row in got.iterrows():
        vals = li.loc[
            li["l_returnflag"] == row["l_returnflag"], "l_extendedprice"
        ].to_numpy()
        p50 = math.floor(float(np.quantile(vals, 0.5)) * 100.0 + 0.5) / 100.0
        p95 = math.floor(float(np.quantile(vals, 0.95)) * 100.0 + 0.5) / 100.0
        assert float(row["p50"]) == p50
        assert float(row["p95"]) == p95
        assert p50 <= p95
    assert set(got["l_returnflag"]) == set(li["l_returnflag"].unique())


def test_dp2_winsorize_numpy_recompute(spark):
    import numpy as np

    got = _run(spark, "dp2_winsorize").sort_values("l_returnflag")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet", columns=["l_returnflag", "l_extendedprice"]
    )
    for _, row in got.iterrows():
        vals = li.loc[
            li["l_returnflag"] == row["l_returnflag"], "l_extendedprice"
        ].to_numpy()
        lo, hi = float(np.quantile(vals, 0.01)), float(np.quantile(vals, 0.99))
        v_e4 = [
            int(math.floor(max(lo, min(hi, float(v))) * 10000.0 + 0.5)) for v in vals
        ]
        mean = math.floor(sum(v_e4) / (100.0 * len(vals)) + 0.5) / 100.0
        clipped = int(((vals < lo) | (vals > hi)).sum())
        assert int(row["n"]) == len(vals)
        assert float(row["winsorized_mean"]) == mean
        assert int(row["n_clipped"]) == clipped
        # laws: bounds ordered, clipping touches at most ~2% of rows,
        # and the winsorized mean sits inside the clip interval
        assert lo <= hi
        assert clipped <= 0.03 * len(vals) + 2
        assert lo - 0.01 <= mean <= hi + 0.01


def test_a24_salted_rollup_matches_plain_groupby(spark):
    got = _run(spark, "a24_salted_skew_rollup").sort_values("l_returnflag")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_returnflag", "l_extendedprice", "l_quantity"],
    )
    li = li.assign(
        cents=[
            int(math.floor(v * 100.0 + 0.5)) for v in li["l_extendedprice"].tolist()
        ]
    )
    exp = (
        li.groupby("l_returnflag")
        .agg(n=("cents", "size"), price_cents=("cents", "sum"), max_qty=("l_quantity", "max"))
        .reset_index()
        .sort_values("l_returnflag")
    )
    assert got["l_returnflag"].tolist() == exp["l_returnflag"].tolist()
    assert got["n"].tolist() == exp["n"].tolist()
    assert got["price_cents"].tolist() == exp["price_cents"].tolist()
    assert got["max_qty"].tolist() == exp["max_qty"].tolist()
    # accounting law: the salted partial/final must lose no rows
    assert int(got["n"].sum()) == len(li)


# --- st6/st8/w9/w12: streaming windows + rolling anomaly family -------------


def test_st6_sliding_windows_pandas_replay(spark):
    got = _run(spark, "st6_sliding_window_rates")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["ts", "event_type"])
    bucket = ev["ts"].dt.floor("30min")
    both = pd.concat(
        [
            pd.DataFrame({"window_start": bucket, "event_type": ev["event_type"]}),
            pd.DataFrame(
                {
                    "window_start": bucket - pd.Timedelta(minutes=30),
                    "event_type": ev["event_type"],
                }
            ),
        ]
    )
    exp = (
        both.groupby(["window_start", "event_type"])
        .size()
        .rename("n")
        .reset_index()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    g = got.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    assert g["window_start"].tolist() == exp["window_start"].tolist()
    assert g["event_type"].tolist() == exp["event_type"].tolist()
    assert g["n"].tolist() == exp["n"].tolist()
    # law: every event lands in exactly two overlapping windows
    assert int(got["n"].sum()) == 2 * len(ev)


def test_st8_streaming_sessions_sequential_replay(spark):
    got = _run(spark, "st8_streaming_sessions").sort_values(
        ["user_id", "session_start"]
    )
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["user_id", "ts"])
    mx = ev["ts"].max()
    horizon = mx - pd.Timedelta(minutes=40)
    gap = pd.Timedelta(minutes=30)
    exp_rows = []
    for uid, grp in ev.groupby("user_id"):
        tss = sorted(grp["ts"])
        start = prev = tss[0]
        n = 1
        for t in tss[1:]:
            if (t - prev) >= gap:
                if prev + gap <= horizon:
                    exp_rows.append((int(uid), start, prev + gap, n))
                start, n = t, 0
            n += 1
            prev = t
        if prev + gap <= horizon:
            exp_rows.append((int(uid), start, prev + gap, n))
    exp = pd.DataFrame(
        exp_rows, columns=["user_id", "session_start", "session_end", "n_events"]
    ).sort_values(["user_id", "session_start"])
    assert got["user_id"].tolist() == exp["user_id"].tolist()
    assert got["session_start"].tolist() == exp["session_start"].tolist()
    assert got["session_end"].tolist() == exp["session_end"].tolist()
    assert got["n_events"].tolist() == exp["n_events"].tolist()
    # laws: sessions of one user never overlap (next start >= prev end),
    # every emitted session closed before the final watermark, and
    # every session spans exactly (last event + 30 min)
    for _, grp in got.groupby("user_id"):
        se = grp.sort_values("session_start")
        assert (
            se["session_start"].iloc[1:].reset_index(drop=True)
            >= se["session_end"].iloc[:-1].reset_index(drop=True)
        ).all()
    assert (got["session_end"] <= horizon).all()
    assert (got["n_events"] >= 1).all()


def test_w9_rolling_zscore_sequential_replay(spark):
    got = _run(spark, "w9_rolling_zscore")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["event_id", "user_id", "ts", "value"]
    )
    exp_z, exp_a = {}, {}
    for uid, grp in ev.groupby("user_id"):
        grp = grp.sort_values(["ts", "event_id"])
        vals = grp["value"].astype(float).tolist()
        for i, eid in enumerate(grp["event_id"]):
            window = vals[max(0, i - 20) : i]
            n = len(window)
            z = None
            anom = False
            if n >= 10:
                s1 = 0.0
                s2 = 0.0
                for v in window:
                    s1 += v
                    s2 += v * v
                var = (s2 - s1 * s1 / n) / (n - 1)
                if var > 0:
                    zr = (vals[i] - s1 / n) / math.sqrt(var)
                    z = math.floor(zr * 10000.0 + 0.5) / 10000.0
                    anom = abs(vals[i] - s1 / n) > 2.5 * math.sqrt(var)
            exp_z[int(eid)] = z
            exp_a[int(eid)] = anom
    assert len(got) == len(ev)
    for r in got.itertuples():
        ez = exp_z[int(r.event_id)]
        if ez is None:
            assert pd.isna(r.z)
        else:
            # engine windowed sums accumulate in a different order than
            # the sequential replay (~1e-12 relative) — allow one 1e-4
            # grid unit on the rounded z
            assert abs(float(r.z) - ez) <= 1e-4 + 1e-12
        assert bool(r.is_anomaly) == exp_a[int(r.event_id)]
    # law: warm-up rows (fewer than 10 prior readings) are never flagged
    nulls = got["z"].isna()
    assert not got.loc[nulls, "is_anomaly"].any()


def test_w12_mad_outliers_numpy_recompute(spark):
    import numpy as np

    got = _run(spark, "w12_mad_outliers").sort_values("event_id")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["event_id", "event_type", "value"]
    )
    cents = ev["value"].map(lambda v: int(math.floor(v * 100.0 + 0.5)))
    exp_rows = []
    for et, grp in ev.assign(cents=cents).groupby("event_type"):
        med = float(np.quantile(grp["cents"].to_numpy(), 0.5))
        dev = (grp["cents"] - med).abs()
        mad = float(np.quantile(dev.to_numpy(), 0.5))
        for eid, c in zip(grp["event_id"], grp["cents"]):
            z = 0.6745 * (c - med) / mad
            if abs(z) > 3.5:
                exp_rows.append(
                    (
                        int(eid),
                        et,
                        c / 100.0,
                        math.floor(z * 10000.0 + 0.5) / 10000.0,
                    )
                )
    exp = pd.DataFrame(
        exp_rows, columns=["event_id", "event_type", "value", "robust_z"]
    ).sort_values("event_id")
    assert got["event_id"].tolist() == exp["event_id"].tolist()
    assert got["event_type"].tolist() == exp["event_type"].tolist()
    assert got["value"].tolist() == exp["value"].tolist()
    assert got["robust_z"].tolist() == exp["robust_z"].tolist()
    # laws: every emitted row exceeds the 3.5 threshold; outliers are a
    # small minority of the stream
    assert (got["robust_z"].abs() > 3.5).all()
    assert len(got) < 0.1 * len(ev)


# --- j9/j9b/i12/sp8: geo tagging, algebraic maintenance, DSIR ---------------


def test_j9_basin_rectangles_replay(spark):
    got = _run(spark, "j9_basin_tagging").sort_values("c_custkey")
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet", columns=["c_custkey"])
    rects = [
        ("Skagerrak", 57.5, 59.5, 8.0, 11.0),
        ("Kattegat", 55.5, 57.5, 10.0, 13.0),
        ("Baltic Proper", 54.0, 60.0, 13.0, 22.0),
    ]
    assert len(got) == len(cust)
    for r in got.itertuples():
        k = int(r.c_custkey)
        lat, lon = 54.0 + (k % 600) / 100.0, 10.0 + (k % 1200) / 100.0
        assert float(r.lat) == lat and float(r.lon) == lon
        basin = None
        near = False
        for name, la0, la1, lo0, lo1 in rects:
            if la0 <= lat <= la1 and lo0 <= lon <= lo1:
                basin = name
                near = (
                    lat - la0 < 0.1
                    or la1 - lat < 0.1
                    or lon - lo0 < 0.1
                    or lo1 - lon < 0.1
                )
                break
        assert (r.basin if pd.notna(r.basin) else None) == basin
        assert bool(r.near_land) == near
        if basin is None:
            assert pd.isna(r.in_baltic)
        else:
            assert bool(r.in_baltic) == (basin == "Baltic Proper")


def test_j9b_polygon_raycast_replay(spark):
    got = _run(spark, "j9b_polygon_tagging").sort_values("c_custkey")
    ring = [
        (10.0, 54.0), (18.0, 54.0), (18.0, 57.0),
        (14.0, 57.0), (14.0, 60.0), (10.0, 60.0),
    ]

    def inside(x, y):
        cnt = 0
        for i, (ax, ay) in enumerate(ring):
            bx, by = ring[(i + 1) % len(ring)]
            if ay == by:
                continue
            if ((ay > y) != (by > y)) and x < (bx - ax) * (y - ay) / (by - ay) + ax:
                cnt += 1
        return cnt % 2 == 1

    def dist(x, y):
        best = float("inf")
        for i, (ax, ay) in enumerate(ring):
            bx, by = ring[(i + 1) % len(ring)]
            dx, dy = bx - ax, by - ay
            t = min(max(((x - ax) * dx + (y - ay) * dy) / (dx * dx + dy * dy), 0.0), 1.0)
            u, v = x - (ax + t * dx), y - (ay + t * dy)
            best = min(best, math.sqrt(u * u + v * v))
        return best

    n_in = 0
    for r in got.itertuples():
        lat, lon = float(r.lat), float(r.lon)
        if inside(lon, lat):
            n_in += 1
            assert r.basin == "L"
            assert bool(r.near_land) == (dist(lon, lat) < 0.05)
        else:
            assert pd.isna(r.basin)
            assert not bool(r.near_land)
    # at sf0.001 the 150-key lattice (lat <= 55.49, lon <= 11.49) sits
    # entirely inside the L-shape, so the discriminating signal here is
    # near_land: the boundary-distance branch must fire both ways
    assert n_in > 0
    assert got["near_land"].nunique() == 2


def test_i12_incremental_merge_equals_full_recompute(spark):
    got = _run(spark, "i12_incremental_rollup").sort_values("event_type")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["ts", "event_type", "value"]
    )
    ev = ev.assign(cents=ev["value"].map(lambda v: int(math.floor(v * 100.0 + 0.5))))
    cutoff = pd.Timestamp("2024-01-20")

    def partial(df):
        return {
            et: (
                len(g),
                int(g["cents"].sum()),
                int(g["cents"].min()),
                int(g["cents"].max()),
            )
            for et, g in df.groupby("event_type")
        }

    base, delta = partial(ev[ev["ts"] < cutoff]), partial(ev[ev["ts"] >= cutoff])
    merged = {}
    for side in (base, delta):
        for et, (n, s, mn, mx) in side.items():
            if et in merged:
                n0, s0, mn0, mx0 = merged[et]
                merged[et] = (n0 + n, s0 + s, min(mn0, mn), max(mx0, mx))
            else:
                merged[et] = (n, s, mn, mx)
    full = partial(ev)
    # the algebraic-maintenance law itself, engine-free
    assert merged == full
    # and the engine's incremental result equals both
    for r in got.itertuples():
        assert merged[r.event_type] == (
            int(r.n),
            int(r.cents),
            int(r.min_cents),
            int(r.max_cents),
        )
    assert set(got["event_type"]) == set(merged)


def test_sp8_dsir_hashed_trigram_replay(spark):
    import hashlib
    from collections import Counter, defaultdict

    got = _run(spark, "sp8_importance_resampling").sort_values("doc_id")
    docs = pd.read_parquet(
        f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text", "lang"]
    )
    B = 1 << 20
    doc_tris = {}
    cs, ct = Counter(), Counter()
    for r in docs.itertuples():
        t = r.text.lower()
        buckets = [
            int(hashlib.md5(t[i : i + 3].encode()).hexdigest()[:8], 16) % B
            for i in range(max(len(t) - 2, 1))
        ]
        doc_tris[int(r.doc_id)] = buckets
        for b in buckets:
            cs[b] += 1
            if r.lang == "en":
                ct[b] += 1
    ns, nt, v = float(sum(cs.values())), float(sum(ct.values())), float(len(cs))
    lr_u = {
        b: int(
            math.floor(
                math.log(((ct[b] + 1) / (nt + v)) / ((cs[b] + 1) / (ns + v)))
                * 1000000000.0
                + 0.5
            )
        )
        for b in cs
    }
    assert len(got) == len(docs)
    en_scores, other_scores = [], []
    lang_of = dict(zip(docs["doc_id"].astype(int), docs["lang"]))
    for r in got.itertuples():
        buckets = doc_tris[int(r.doc_id)]
        s = sum(lr_u[b] for b in buckets)
        assert int(r.n_trigrams) == len(buckets)
        assert float(r.logratio) == _q6(s / (len(buckets) * 1000000000.0))
        assert bool(r.kept) == (s > 0)
        (en_scores if lang_of[int(r.doc_id)] == "en" else other_scores).append(
            float(r.logratio)
        )
    # DSIR law: the target-model likelihood ratio must favor the target
    # slice in aggregate — mean log-ratio of 'en' docs above the rest
    assert en_scores and other_scores
    assert sum(en_scores) / len(en_scores) > sum(other_scores) / len(other_scores)


# --- mm11/mm12/tp4/sim3: video cuts, DFT frames, curriculum, centroids ------


def test_mm11_scene_cuts_sequential_replay(spark):
    got = _run(spark, "mm11_scene_cuts").sort_values(["video_id", "frame_idx"])
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet", columns=["o_orderkey"])
    vids = sorted(int(k) for k in orders["o_orderkey"] if k % 500 == 0)
    assert vids, "fixture must contain at least one video key"
    exp_rows = []
    for v in vids:
        n = (v % 24) + 4
        frames = [
            [(v * 7 + f * 13 + i) % 251 for i in range(144)] for f in range(n)
        ]
        for f in range(1, n):
            l1 = sum(abs(a - b) for a, b in zip(frames[f], frames[f - 1]))
            exp_rows.append((str(v), f, l1, l1 > 3600))
    exp = pd.DataFrame(
        exp_rows, columns=["video_id", "frame_idx", "l1_delta", "is_cut"]
    ).sort_values(["video_id", "frame_idx"])
    assert got["video_id"].tolist() == exp["video_id"].tolist()
    assert got["frame_idx"].tolist() == exp["frame_idx"].tolist()
    assert got["l1_delta"].tolist() == exp["l1_delta"].tolist()
    assert got["is_cut"].tolist() == exp["is_cut"].tolist()
    # laws: one delta row per consecutive frame pair, all deltas
    # non-negative and bounded by the max possible L1 (144 * 250)
    for v in vids:
        rows = got[got["video_id"] == str(v)]
        assert rows["frame_idx"].tolist() == list(range(1, (v % 24) + 4))
    assert ((got["l1_delta"] >= 0) & (got["l1_delta"] <= 144 * 250)).all()


def test_mm12_spectral_frames_sequential_replay(spark):
    got = _run(spark, "mm12_spectral_frames").sort_values(["audio_id", "frame_idx"])
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet", columns=["o_orderkey"])
    auds = sorted(int(k) for k in orders["o_orderkey"] if k % 300 == 0)
    assert auds, "fixture must contain at least one audio key"
    cos = [[math.cos(2 * math.pi * k * n / 8) for n in range(8)] for k in range(5)]
    sin = [[math.sin(2 * math.pi * k * n / 8) for n in range(8)] for k in range(5)]
    exp_rows = []
    for a in auds:
        n = (a % 1000) + 500
        for f in range(n // 64):
            x = [(a * 13 + (f * 64 + i) * 7) % 251 - 125 for i in range(8)]
            powers = []
            for k in range(5):
                re = 0.0
                im = 0.0
                for i in range(8):
                    re += x[i] * cos[k][i]
                    im += x[i] * sin[k][i]
                powers.append(math.floor((re * re + im * im) * 1e6 + 0.5) / 1e6)
            exp_rows.append((str(a), f, *powers))
    exp = pd.DataFrame(
        exp_rows,
        columns=["audio_id", "frame_idx"] + [f"power_{k}" for k in range(5)],
    ).sort_values(["audio_id", "frame_idx"])
    assert got["audio_id"].tolist() == exp["audio_id"].tolist()
    assert got["frame_idx"].tolist() == exp["frame_idx"].tolist()
    for k in range(5):
        assert got[f"power_{k}"].tolist() == exp[f"power_{k}"].tolist()
    # laws: power is non-negative, and the DC bin equals the squared
    # frame sum (k=0 -> cos=1, sin=0)
    for k in range(5):
        assert (got[f"power_{k}"] >= 0).all()
    for a in auds:
        n = (a % 1000) + 500
        for f in range(min(3, n // 64)):
            s = float(sum((a * 13 + (f * 64 + i) * 7) % 251 - 125 for i in range(8)))
            dc = float(
                got.loc[
                    (got["audio_id"] == str(a)) & (got["frame_idx"] == f), "power_0"
                ].iloc[0]
            )
            assert dc == math.floor(s * s * 1e6 + 0.5) / 1e6


def test_tp4_curriculum_exact_integer_rank_replay(spark):
    import hashlib
    import re as _re

    got = _run(spark, "tp4_curriculum_order").sort_values("curriculum_rank")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    keyed = []
    for r in docs.itertuples():
        n_tok = len(_re.split(r"\s+", r.text.strip()))
        h = int(hashlib.md5(f"cur-{int(r.doc_id)}".encode()).hexdigest()[:8], 16)
        keyed.append((n_tok, h, int(r.doc_id)))
    keyed.sort()
    exp_rows = [
        (
            d,
            n,
            0 if n < 20 else (1 if n < 40 else 2),
            rank,
            (rank - 1) // 64,
        )
        for rank, (n, h, d) in enumerate(keyed, start=1)
    ]
    exp = pd.DataFrame(
        exp_rows, columns=["doc_id", "n_tok", "phase", "curriculum_rank", "shard"]
    )
    for c in exp.columns:
        assert got[c].tolist() == exp[c].tolist()
    # laws: rank is a permutation of 1..n, phase is nondecreasing along
    # the curriculum (it is monotone in the primary sort key), shards
    # hold at most 64 docs
    assert got["curriculum_rank"].tolist() == list(range(1, len(docs) + 1))
    assert (got["phase"].diff().dropna() >= 0).all()
    assert int(got.groupby("shard").size().max()) <= 64


def test_sim3_label_centroids_numpy_recompute(spark):
    got = _run(spark, "sim3_label_centroids").sort_values(["label", "dim"])
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet", columns=["label", "embedding"])
    labels = sorted(emb["label"].unique())
    assert got["label"].nunique() == len(labels)
    for lbl in labels:
        vecs = [list(map(float, v)) for v in emb.loc[emb["label"] == lbl, "embedding"]]
        sub = got[got["label"] == lbl]
        assert sub["dim"].tolist() == list(range(64))
        for d, c in zip(sub["dim"], sub["centroid"]):
            col = [v[int(d)] for v in vecs]
            mean = sum(col) / len(col)
            # engine partial-aggregation order differs from the
            # sequential sum (~1e-12 relative); allow one 1e-6 grid unit
            assert abs(float(c) - math.floor(mean * 1e6 + 0.5) / 1e6) <= 1e-6 + 1e-12
            # law: a mean lies within the per-dimension value range
            assert min(col) - 1e-6 <= float(c) <= max(col) + 1e-6


# --- w4 + o-family: ordering, union, pivot, set algebra ---------------------


def test_w4_newest_topk_replay(spark):
    got = _run(spark, "w4_newest_topk")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_id", "ts"])
    exp = ev.sort_values(["ts", "event_id"], ascending=False).head(50)
    assert len(got) == min(50, len(ev))
    assert sorted(got["event_id"]) == sorted(exp["event_id"])
    # law: the oldest kept row is at least as new as every dropped row
    cut = got.sort_values(["ts", "event_id"]).iloc[0]
    dropped = ev[~ev["event_id"].isin(set(got["event_id"]))]
    assert (
        (dropped["ts"] < cut["ts"])
        | ((dropped["ts"] == cut["ts"]) & (dropped["event_id"] < cut["event_id"]))
    ).all()


def test_o1_multi_key_rank_replay(spark):
    got = _run(spark, "o1_multi_key_sort").sort_values("rank")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet",
        columns=["o_orderkey", "o_orderpriority", "o_totalprice"],
    )
    f = orders[orders["o_totalprice"] > 400000]
    exp = sorted(
        f.itertuples(),
        key=lambda r: (r.o_orderpriority, r.o_totalprice, -r.o_orderkey),
        reverse=True,
    )
    assert got["o_orderkey"].tolist() == [r.o_orderkey for r in exp]
    assert got["rank"].tolist() == list(range(1, len(exp) + 1))
    # law: the materialized rank respects the key ordering pairwise
    prev = None
    for r in got.itertuples():
        cur = (r.o_orderpriority, r.o_totalprice, -r.o_orderkey)
        if prev is not None:
            assert cur <= prev
        prev = cur


def test_o3_union_by_name_replay(spark):
    got = _run(spark, "o3_union_by_name")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet",
        columns=["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    )
    o = orders[orders["o_orderstatus"] == "O"]
    fr = orders[orders["o_orderstatus"] == "F"]
    assert len(got) == len(o) + len(fr)
    auto = got[got["provenance"] == "auto"].sort_values("o_orderkey")
    man = got[got["provenance"] == "manual"].sort_values("o_orderkey")
    assert auto["o_orderkey"].tolist() == sorted(o["o_orderkey"])
    assert man["o_orderkey"].tolist() == sorted(fr["o_orderkey"])
    # law: the schema-reconciled column is null exactly on the manual side
    assert man["o_orderpriority"].isna().all()
    assert auto["o_orderpriority"].notna().all()


def test_o5_split_apply_union_replay(spark):
    got = _run(spark, "o5_split_apply_union")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"],
    )
    assert len(got) == len(li)
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem,
    # so compare full-row multisets instead of key-aligned positions
    exp_rows = sorted(
        (
            int(r.l_orderkey),
            int(r.l_linenumber),
            r.l_returnflag,
            float(r.l_quantity) * 0.5 if r.l_returnflag == "N" else float(r.l_quantity),
            "unclassified" if r.l_returnflag == "N" else "classified",
        )
        for r in li.itertuples()
    )
    got_rows = sorted(
        (
            int(r.l_orderkey),
            int(r.l_linenumber),
            r.l_returnflag,
            float(r.measure),
            r.kind,
        )
        for r in got.itertuples()
    )
    assert got_rows == exp_rows
    # law: the transform fires exactly on the split branch
    assert (got.loc[got["l_returnflag"] == "N", "kind"] == "unclassified").all()
    assert (got.loc[got["l_returnflag"] != "N", "kind"] == "classified").all()


def test_o6_pivot_wider_replay_and_mass_conservation(spark):
    got = _run(spark, "o6_pivot_wider").sort_values("nation")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet",
        columns=["o_custkey", "o_orderstatus", "o_totalprice"],
    )
    cust = pd.read_parquet(
        f"{SF_SMOKE}/customer.parquet", columns=["c_custkey", "c_nationkey"]
    )
    nation = pd.read_parquet(
        f"{SF_SMOKE}/nation.parquet", columns=["n_nationkey", "n_name"]
    )
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey").merge(
        nation, left_on="c_nationkey", right_on="n_nationkey"
    )
    for r in got.itertuples():
        sub = j[j["n_name"] == r.nation]
        for status, col in (("O", r.status_O), ("F", r.status_F), ("P", r.status_P)):
            s = float(sub.loc[sub["o_orderstatus"] == status, "o_totalprice"].sum())
            # sum order differs between engine partials and pandas;
            # one 1e-2 grid unit of slack
            assert abs(float(col) - math.floor(s * 100.0 + 0.5) / 100.0) <= 0.01 + 1e-9
    # law: pivot conserves mass — the three columns total the joined sum
    total = float(got[["status_O", "status_F", "status_P"]].to_numpy().sum())
    assert abs(total - float(j["o_totalprice"].sum())) <= 0.05 * len(got)


def test_o6_pivot_longer_replay(spark):
    got = _run(spark, "o6_pivot_longer")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_orderkey", "l_linenumber", "l_quantity", "l_discount"],
    )
    sub = li[li["l_orderkey"] % 100 == 0]
    assert len(got) == 2 * len(sub)
    # full-row multiset compare ((l_orderkey, l_linenumber) is not unique)
    exp_rows = sorted(
        [
            (int(r.l_orderkey), int(r.l_linenumber), "quantity", float(r.l_quantity))
            for r in sub.itertuples()
        ]
        + [
            (int(r.l_orderkey), int(r.l_linenumber), "discount", float(r.l_discount))
            for r in sub.itertuples()
        ]
    )
    got_rows = sorted(
        (int(r.l_orderkey), int(r.l_linenumber), r.parameter, float(r.value))
        for r in got.itertuples()
    )
    assert got_rows == exp_rows
    # law: longer is lossless — each source row contributes exactly one
    # row per parameter, so the per-parameter halves are equal-sized
    assert (got["parameter"] == "quantity").sum() == len(sub)
    assert (got["parameter"] == "discount").sum() == len(sub)


def test_o7_set_ops_replay_and_partition_law(spark):
    inter = _run(spark, "o7_set_intersect")
    exc = _run(spark, "o7_set_except")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet", columns=["o_custkey", "o_orderdate"]
    )
    y = pd.to_datetime(orders["o_orderdate"]).dt.year
    a = set(orders.loc[y == 1995, "o_custkey"].astype(int))
    b = set(orders.loc[y == 1996, "o_custkey"].astype(int))
    assert set(inter["o_custkey"].astype(int)) == a & b
    assert set(exc["o_custkey"].astype(int)) == a - b
    # laws: set semantics (no duplicates) and the partition identity
    # (A∩B) ⊎ (A−B) = A
    assert not inter["o_custkey"].duplicated().any()
    assert not exc["o_custkey"].duplicated().any()
    assert (a & b) | (a - b) == a and not ((a & b) & (a - b))


# --- a9/c4/c5/dp1/tp6: lookups, profile, dataset card -----------------------


def test_a9_class_counts_replay(spark):
    got = _run(spark, "a9_class_counts").sort_values("class")
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet", columns=["l_partkey"])
    part = pd.read_parquet(
        f"{SF_SMOKE}/part.parquet", columns=["p_partkey", "p_brand"]
    )
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    exp = j.groupby("p_brand").size()
    assert got["class"].tolist() == sorted(exp.index)
    assert got["n_images"].tolist() == [int(exp[c]) for c in got["class"]]
    # law: an inner join on a complete dimension loses no fact rows
    assert int(got["n_images"].sum()) == len(j) == len(li)


def test_c4_taxa_resolver_hash_replay(spark):
    import hashlib

    got = _run(spark, "c4_taxa_resolver")
    part = pd.read_parquet(
        f"{SF_SMOKE}/part.parquet", columns=["p_partkey", "p_brand"]
    )
    assert len(got) == len(part)
    brand_of = dict(zip(part["p_partkey"].astype(int), part["p_brand"]))
    for r in got.itertuples():
        name = brand_of[int(r.p_partkey)]
        h = int(hashlib.md5(name.encode()).hexdigest()[:8], 16)
        assert r.class_name == name
        assert int(r.aphia_id) == h % 900000
        assert r.rank == ("Species" if h % 3 == 0 else "Genus")
    # laws: the resolver is a FUNCTION of the name (one id per name) and
    # ids stay in the aphia range
    per_name = got.groupby("class_name")["aphia_id"].nunique()
    assert (per_name == 1).all()
    assert got["aphia_id"].between(0, 899999).all()


def test_c5_trophic_lookup_replay(spark):
    got = _run(spark, "c5_trophic_lookup")
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet", columns=["p_partkey", "p_type"])
    assert len(got) == len(part)
    mapping = {"ECONOMY": ("AU", True), "SMALL": ("HT", False)}
    for r in got.itertuples():
        tt, isd = mapping.get(r.p_type, ("NS", False))
        assert r.trophic_type == tt
        assert bool(r.is_diatom) == isd
    # law: the left join + coalesce defaults exactly the unmapped types
    assert (
        got.loc[~got["p_type"].isin(mapping), "trophic_type"] == "NS"
    ).all()


def test_dp1_column_profile_replay(spark):
    got = _run(spark, "dp1_column_profile").sort_values("column_name")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_quantity", "l_discount", "l_extendedprice"],
    )
    for r in got.itertuples():
        col = li[r.column_name]
        assert int(r.n) == len(col)
        assert int(r.n_null) == int(col.isna().sum())
        assert float(r.min_val) == math.floor(float(col.min()) * 100.0 + 0.5) / 100.0
        assert float(r.max_val) == math.floor(float(col.max()) * 100.0 + 0.5) / 100.0
        assert int(r.n_distinct) == col.nunique()
        # laws: profile consistency
        assert float(r.min_val) <= float(r.max_val)
        assert int(r.n_distinct) <= int(r.n) - int(r.n_null)
    assert set(got["column_name"]) == {"l_quantity", "l_discount", "l_extendedprice"}


def test_tp6_dataset_card_recomputed_from_tp1(spark):
    got = _run(spark, "tp6_dataset_card").sort_values(["split", "bucket"])
    corpus = _run(spark, "tp1_training_corpus")
    bucket = corpus["n_tok"].map(
        lambda n: 20 if n < 32 else (32 if n < 64 else (64 if n < 128 else (128 if n < 256 else 256)))
    )
    agg = (
        corpus.assign(bucket=bucket)
        .groupby(["split", "bucket"])
        .agg(n_docs=("n_tok", "size"), n_tokens=("n_tok", "sum"))
        .reset_index()
        .sort_values(["split", "bucket"])
    )
    assert got["split"].tolist() == agg["split"].tolist()
    assert got["bucket"].tolist() == agg["bucket"].tolist()
    assert got["n_docs"].tolist() == agg["n_docs"].tolist()
    assert got["n_tokens"].tolist() == [int(x) for x in agg["n_tokens"]]
    for split, grp in got.groupby("split"):
        tot = int(agg.loc[agg["split"] == split, "n_tokens"].sum())
        grp = grp.sort_values("bucket")
        shares = [_q6(int(n) / tot) for n in grp["n_tokens"]]
        assert grp["token_share"].tolist() == shares
        cums = [
            _q6(int(grp["n_tokens"].iloc[: i + 1].sum()) / tot)
            for i in range(len(grp))
        ]
        assert grp["cum_token_share"].tolist() == cums
        # laws: shares sum to ~1 (quantization slack), cumulative share
        # is nondecreasing and ends at ~1
        assert abs(sum(shares) - 1.0) <= len(grp) * 1e-6
        assert all(a <= b + 1e-12 for a, b in zip(cums, cums[1:]))
        assert abs(cums[-1] - 1.0) <= 1e-6


# --- mm6: augmentation panel consistency laws -------------------------------
# The mm6 oracle is already a hand-specified golden VALUES table; this
# anchor adds engine-free CONSISTENCY laws the U1-U12 chain must satisfy
# on any input, so a regression that shifted the whole panel coherently
# (and was hand-copied into a new golden table) would still be caught.


def test_mm6_augmentation_panel_laws(spark):
    got = _run(spark, "mm6_augmentation_panel")
    # every sample appears under exactly the two rigid transforms
    per = got.groupby("sample")["transform"].apply(lambda s: sorted(s))
    assert all(v == ["flip_h", "rot90"] for v in per)
    # geometric ranges: pixel-count area is a positive integer, the
    # perimeter of a lattice blob exceeds that of no blob, solidity is a
    # ratio to the convex hull, eccentricity of a real axis fit is [0,1)
    assert (got["Area"] > 0).all()
    assert (got["Area"] == got["Area"].round()).all()
    assert (got["Perimeter"] > 0).all()
    # Solidity uses the reference's Heron+perimeter/2 hull-area form
    # (blob_geometry.py:149-171), whose half-pixel rasterization
    # adjustment genuinely under-counts the hull on straight-edged
    # blobs — a 10x10 square's hull area is 99 vs 100 pixels, so
    # Solidity lands slightly ABOVE 1 there (reference-certified in
    # test_golden_chain_parity).  Bound: (0, 1.05].
    assert got["Solidity"].between(0.0, 1.05, inclusive="right").all()
    assert got["Eccentricity"].between(0.0, 1.0, inclusive="left").all()
    assert (got["Biovolume"] > 0).all()
    # single-blob panel: the summed-roi epilogue must equal the blob area
    assert (got["summedArea"] == got["Area"]).all()
    # isoperimetric bound on the lattice: 4*pi*A <= P^2, with slack for
    # the reference's estimators: the round-17 reference-exact
    # segmentation (MATLAB-LUT thinning ∪ k-means mask,
    # test_golden_family_parity) leaves 1-px spurs that add area while
    # the Benkrid sub-pixel perimeter weights (perimeter.py:24-38)
    # barely move — rect_10x10 lands at 4πA/P² ≈ 1.0084.  Bound: 1.02.
    assert (
        4 * math.pi * got["Area"] <= got["Perimeter"] ** 2 * 1.02 + 1e-6
    ).all()
    # branch-selection implication (U5 rule: sor iff convex_area/area <
    # 1.2 OR (ecc < 0.8 and p > 0.8); Solidity = area/convex_area, so
    # Solidity > 1/1.2 forces the first disjunct)
    forced = got["Solidity"] > 1.0 / 1.2 + 1e-9
    assert (got.loc[forced, "BiovolumeBranch"] == "sor").all()
    # and every emitted branch is one of the two real kernels
    assert set(got["BiovolumeBranch"]) <= {"sor", "distmap"}


# --- dd3/tx6/j8/dp7: simhash, corpus LM, theta join, histogram quantiles ----


def _replay_corpus_shingles():
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    m = max(10000, int(docs["doc_id"].max()) + 1)
    corpus = {}
    for did, text in zip(docs["doc_id"], docs["text"]):
        did = int(did)
        t = text.lower()
        corpus[did] = t
        if did % 25 == 0:
            w = t.split(" ")
            corpus[did + m] = " ".join(w[: max(1, (len(w) * 7) // 10)])
    shingles = {
        doc: {
            " ".join(t.split(" ")[i : i + 3])
            for i in range(max(len(t.split(" ")) - 2, 1))
        }
        for doc, t in corpus.items()
    }
    return corpus, shingles, m


def test_dd3_simhash_bitvote_replay(spark):
    import hashlib

    got = _run(spark, "dd3_simhash")
    _, shingles, m = _replay_corpus_shingles()
    exp = {}
    for doc, sh in shingles.items():
        votes = [0] * 32
        for s in sh:
            h = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
            for b in range(32):
                votes[b] += 1 if (h >> b) & 1 else -1
        exp[doc] = sum(1 << b for b in range(32) if votes[b] > 0)
    assert len(got) == len(exp)
    for r in got.itertuples():
        assert int(r.simhash) == exp[int(r.doc)]
    # SimHash locality law: planted 70%-prefix variants must be closer
    # in Hamming distance (on average) than random doc pairs
    planted = [
        bin(exp[d] ^ exp[d + m]).count("1")
        for d in exp
        if d < m and d % 25 == 0 and d + m in exp
    ]
    base_docs = sorted(d for d in exp if d < m)
    rand = [
        bin(exp[base_docs[i]] ^ exp[base_docs[-1 - i]]).count("1")
        for i in range(min(40, len(base_docs) // 2))
    ]
    assert planted and rand
    assert sum(planted) / len(planted) < sum(rand) / len(rand)


def test_tx6_trigram_logprob_replay(spark):
    from collections import Counter

    got = _run(spark, "tx6_trigram_logprob")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    tris = {
        int(r.doc_id): [
            r.text.lower()[i : i + 3]
            for i in range(max(len(r.text.lower()) - 2, 1))
        ]
        for r in docs.itertuples()
    }
    model = Counter()
    for g in tris.values():
        model.update(g)
    n = float(sum(model.values()))
    assert len(got) == len(tris)
    for r in got.itertuples():
        g = tris[int(r.doc_id)]
        s = 0.0
        for t in g:
            s += math.log(model[t] / n)
        lp = _q6(s / len(g))
        assert int(r.n_trigrams) == len(g)
        # engine mean accumulates in a different order (~1e-12 rel);
        # one 1e-6 grid unit of slack
        assert abs(float(r.trigram_logprob) - lp) <= 1e-6 + 1e-12
        # law: every trigram probability < 1, so the mean log-prob is
        # strictly negative
        assert float(r.trigram_logprob) < 0


def test_j8_haversine_theta_join_replay(spark):
    got = _run(spark, "j8_haversine_theta_join")
    cust = pd.read_parquet(
        f"{SF_SMOKE}/customer.parquet", columns=["c_custkey", "c_nationkey"]
    )
    supp = pd.read_parquet(
        f"{SF_SMOKE}/supplier.parquet", columns=["s_suppkey", "s_nationkey"]
    )

    def hav(k1, k2):
        la1, lo1 = 54.0 + (k1 % 600) / 100.0, 10.0 + (k1 % 1200) / 100.0
        la2, lo2 = 54.0 + (k2 % 600) / 100.0, 10.0 + (k2 % 1200) / 100.0
        return (
            2
            * 6371.0088
            * math.asin(
                math.sqrt(
                    math.sin(math.radians(la2 - la1) / 2) ** 2
                    + math.cos(math.radians(la1))
                    * math.cos(math.radians(la2))
                    * math.sin(math.radians(lo2 - lo1) / 2) ** 2
                )
            )
        )

    exp = {}
    for c in cust.itertuples():
        for s in supp.itertuples():
            if c.c_nationkey == s.s_nationkey:
                d = hav(int(c.c_custkey), int(s.s_suppkey))
                if d <= 200.0:
                    exp[(int(c.c_custkey), int(s.s_suppkey))] = (
                        math.floor(d * 10000.0 + 0.5) / 10000.0
                    )
    assert len(got) == len(exp)
    for r in got.itertuples():
        d = exp[(int(r.c_custkey), int(r.s_suppkey))]
        assert abs(float(r.dist_km) - d) <= 1e-4 + 1e-9
    # laws: output is a subset of the same-nation pairs (at sf0.001 the
    # 150-key lattice keeps every such pair inside 200 km, so the theta
    # cut is vacuous here — the replay equality above is the real check)
    n_same_nation = int(
        cust.groupby("c_nationkey").size().mul(
            supp.groupby("s_nationkey").size(), fill_value=0
        ).sum()
    )
    assert 0 < len(got) <= n_same_nation
    assert (got["dist_km"] <= 200.0001).all()


def test_dp7_binned_quantiles_order_statistic_replay(spark):
    got = _run(spark, "dp7_binned_quantiles").sort_values(["event_type", "quantile"])
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_type", "value"])
    for r in got.itertuples():
        vals = sorted(ev.loc[ev["event_type"] == r.event_type, "value"].astype(float))
        k = math.ceil(r.quantile * len(vals))
        # alternative derivation: the histogram rule returns the lower
        # edge of the bin holding the ceil(p*n)-th order statistic
        kth = vals[k - 1]
        est = min(int(kth / 0.5), 999) * 0.5
        assert float(r.est_value) == est
        # law: the estimate under-shoots the true order statistic by at
        # most one bin width
        assert est <= kth < est + 0.5 or est == 499.5
    # law: estimates are nondecreasing in p per type
    for _, grp in got.groupby("event_type"):
        v = grp.sort_values("quantile")["est_value"].to_numpy()
        assert (v[1:] >= v[:-1]).all()


# --- j4b/j5/j6/j7: as-of, interval, fill, full-outer join family ------------


def test_j4b_asof_backward_linear_scan_replay(spark):
    got = _run(spark, "j4b_asof_backward")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["event_id", "ts", "event_type"]
    )
    secs = {
        int(r.event_id): int(r.ts.value // 1_000_000_000) for r in ev.itertuples()
    }
    purchases = ev[ev["event_type"] == "purchase"]
    views = [(secs[int(r.event_id)], int(r.event_id)) for r in ev[ev["event_type"] == "view"].itertuples()]
    exp = {}
    for r in purchases.itertuples():
        lsec = secs[int(r.event_id)]
        best = None
        for rsec, vid in views:
            if rsec <= lsec and lsec - rsec <= 300:
                key = (lsec - rsec, vid)
                if best is None or key < best:
                    best = key
        exp[int(r.event_id)] = best[1] if best else None
    assert len(got) == len(purchases)  # left preservation
    for r in got.itertuples():
        want = exp[int(r.purchase_id)]
        if want is None:
            assert pd.isna(r.view_id)
        else:
            assert int(r.view_id) == want
    # law: the as-of match is never in the future and never > 300 s old
    for r in got.itertuples():
        if pd.notna(r.view_id):
            d = secs[int(r.purchase_id)] - secs[int(r.view_id)]
            assert 0 <= d <= 300


def test_j5_interval_join_replay(spark):
    got = _run(spark, "j5_interval_join")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["event_id", "user_id", "ts"]
    )
    cruises = {}
    for g, grp in ev.groupby(ev["user_id"] % 20):
        start = grp["ts"].min()
        cruises[int(g)] = (start, start + pd.Timedelta(days=3))
    exp_rows = []
    for r in ev.itertuples():
        hits = [
            c for c, (s, e) in cruises.items() if s <= r.ts <= e
        ]
        if hits:
            for c in sorted(hits):
                exp_rows.append((int(r.event_id), c))
        else:
            exp_rows.append((int(r.event_id), None))
    got_rows = sorted(
        (int(r.event_id), None if pd.isna(r.cruise_no) else int(r.cruise_no))
        for r in got.itertuples()
    )
    assert got_rows == sorted(exp_rows, key=lambda t: (t[0], -1 if t[1] is None else t[1]))
    # laws: left-outer preserves every event at least once; multi-match
    # intervals genuinely overlap (output has more rows than events iff
    # some event is covered twice)
    assert set(r[0] for r in got_rows) == set(ev["event_id"].astype(int))
    assert len(got) >= len(ev)


def test_j6_coalescing_fill_replay(spark):
    got = _run(spark, "j6_coalescing_fill_join")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet",
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
    )
    cust = pd.read_parquet(
        f"{SF_SMOKE}/customer.parquet", columns=["c_custkey", "c_acctbal"]
    )
    bal = dict(zip(cust["c_custkey"].astype(int), cust["c_acctbal"].astype(float)))
    meta = {
        int(r.o_orderkey): (r.o_orderstatus, float(r.o_totalprice), int(r.o_custkey))
        for r in orders.itertuples()
    }
    assert len(got) == len(orders)
    for r in got.itertuples():
        status, price, ck = meta[int(r.o_orderkey)]
        if status == "P":
            assert bool(r.was_filled)
            assert float(r.totalprice_filled) == bal[ck]
        else:
            assert not bool(r.was_filled)
            assert float(r.totalprice_filled) == price
    # law: the fallback column only ever surfaces on filled rows
    filled = got[got["was_filled"]]
    assert len(filled) == (orders["o_orderstatus"] == "P").sum()


def test_j7_full_outer_replay(spark):
    got = _run(spark, "j7_full_outer_join")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet", columns=["o_custkey", "o_orderdate"]
    )
    y = pd.to_datetime(orders["o_orderdate"]).dt.year
    n95 = orders.loc[y == 1995, "o_custkey"].value_counts()
    n96 = orders.loc[y == 1996, "o_custkey"].value_counts()
    keys = set(n95.index.astype(int)) | set(n96.index.astype(int))
    assert set(got["custkey"].astype(int)) == keys
    assert len(got) == len(keys)
    for r in got.itertuples():
        k = int(r.custkey)
        if k in n95.index:
            assert int(r.n95) == int(n95[k])
        else:
            assert pd.isna(r.n95)
        if k in n96.index:
            assert int(r.n96) == int(n96[k])
        else:
            assert pd.isna(r.n96)
    # law: a full-outer row never has both sides null
    assert not (got["n95"].isna() & got["n96"].isna()).any()


# --- a5/a6/a7/a8/a13/a14: argmax + categorize + histogram family ------------


def test_a5_grouped_top1_replay(spark):
    got = _run(spark, "a5_grouped_top1").sort_values("p_brand")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_partkey", "l_orderkey", "l_linenumber", "l_extendedprice"],
    )
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet", columns=["p_partkey", "p_brand"])
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    exp = {}
    for r in j.itertuples():
        key = (-float(r.l_extendedprice), int(r.l_orderkey), int(r.l_linenumber))
        if r.p_brand not in exp or key < exp[r.p_brand]:
            exp[r.p_brand] = key
    assert len(got) == len(exp)  # exactly one winner per brand
    for r in got.itertuples():
        kp, ko, kl = exp[r.p_brand]
        assert float(r.l_extendedprice) == -kp
        assert int(r.l_orderkey) == ko and int(r.l_linenumber) == kl
    # law: each winner's price is the group maximum
    mx = j.groupby("p_brand")["l_extendedprice"].max()
    for r in got.itertuples():
        assert float(r.l_extendedprice) == float(mx[r.p_brand])


def test_a6_bloom_categorize_replay(spark):
    got = _run(spark, "a6_bloom_categorize")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet", columns=["l_orderkey", "l_quantity"]
    )
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet", columns=["o_orderkey"])
    j = li[li["l_orderkey"].isin(set(orders["o_orderkey"]))]
    totals = j.groupby("l_orderkey")["l_quantity"].sum()
    assert len(got) == len(totals)
    for r in got.itertuples():
        t = float(totals[int(r.sample)])
        assert abs(float(r.total) - math.floor(t * 100.0 + 0.5) / 100.0) <= 0.01 + 1e-9
        cat = (
            "major bloom"
            if t > 120
            else ("bloom" if t >= 70 else ("minor bloom" if t >= 40 else "no bloom"))
        )
        assert r.category == cat
    # law: the category thresholds partition the totals
    assert (got.loc[got["category"] == "major bloom", "total"] > 120 - 0.01).all()
    assert (got.loc[got["category"] == "no bloom", "total"] < 40 + 0.01).all()


def test_a7_global_top1_replay(spark):
    got = _run(spark, "a7_global_top1")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet", columns=["o_orderkey", "o_totalprice"]
    )
    best = min(
        orders.itertuples(), key=lambda r: (-float(r.o_totalprice), int(r.o_orderkey))
    )
    assert len(got) == 1
    assert int(got["o_orderkey"].iloc[0]) == int(best.o_orderkey)
    assert float(got["o_totalprice"].iloc[0]) == float(orders["o_totalprice"].max())


def test_a8_last_per_group_replay(spark):
    got = _run(spark, "a8_last_per_group")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["user_id", "event_id", "event_type", "ts"]
    )
    exp = {}
    for r in ev.itertuples():
        key = (r.ts, int(r.event_id))
        if int(r.user_id) not in exp or key > exp[int(r.user_id)][0]:
            exp[int(r.user_id)] = (key, int(r.event_id), r.event_type)
    assert len(got) == len(exp)  # one row per user
    for r in got.itertuples():
        _, eid, et = exp[int(r.user_id)]
        assert int(r.event_id) == eid and r.event_type == et
    # law: the kept timestamp equals the user's max
    mx = ev.groupby("user_id")["ts"].max()
    for r in got.itertuples():
        assert r.ts == mx[int(r.user_id)]


def test_a13_grid_cell_frequency_replay(spark):
    got = _run(spark, "a13_grid_cell_frequency")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["user_id"])
    from collections import Counter

    cnt = Counter(
        (
            int(math.floor((10.0 + (int(u) % 1200) / 100.0) / 0.3)),
            int(math.floor((54.0 + (int(u) % 600) / 100.0) / 0.25)),
        )
        for u in ev["user_id"]
    )
    assert len(got) == len(cnt)
    for r in got.itertuples():
        assert int(r.n) == cnt[(int(r.grid_lon), int(r.grid_lat))]
    # law: the histogram conserves mass
    assert int(got["n"].sum()) == len(ev)


def test_a14_monthly_histogram_replay(spark):
    got = _run(spark, "a14_monthly_histogram")
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet", columns=["o_orderdate"])
    d = pd.to_datetime(orders["o_orderdate"])
    exp = d.groupby([d.dt.year, d.dt.month]).size()
    assert len(got) == len(exp)
    for r in got.itertuples():
        assert int(r.n) == int(exp[(int(r.year), int(r.month))])
    assert int(got["n"].sum()) == len(orders)
    assert got["month"].between(1, 12).all()


# --- dd6/dd7: LSH clusters via union-find replay ----------------------------


def test_dd6_dup_clusters_unionfind_replay(spark):
    got = _run(spark, "dd6_dup_clusters")
    candidates, _ = _lsh_minhash_replay()
    edges = candidates(8, 2)
    nodes = sorted({n for e in edges for n in e})
    comp = _union_find_components(edges, nodes)
    from collections import Counter

    sizes = Counter(comp.values())
    assert len(got) == len(nodes)
    for r in got.itertuples():
        assert int(r.cluster) == comp[int(r.doc)]
        assert int(r.cluster_size) == sizes[comp[int(r.doc)]]
    # laws: only collided docs appear, so every cluster has >= 2 members,
    # and the label is the component minimum (a member of the cluster)
    assert (got["cluster_size"] >= 2).all()
    assert (got.groupby("cluster")["doc"].min() == got.groupby("cluster")["doc"].max().index).all()


def test_dd7_dedup_materialize_replay(spark):
    got = _run(spark, "dd7_dedup_materialize")
    candidates, _ = _lsh_minhash_replay()
    edges = candidates(8, 2)
    nodes = sorted({n for e in edges for n in e})
    comp = _union_find_components(edges, nodes)
    corpus, _, _ = _replay_corpus_shingles()
    assert len(got) == len(corpus)
    for r in got.itertuples():
        d = int(r.doc)
        cl = comp.get(d, d)
        assert int(r.cluster) == cl
        assert bool(r.is_kept) == (d == cl)
    # laws: exactly one kept doc per cluster, and dedup keeps
    # |corpus| - (collided - #components) docs overall
    kept = got[got["is_kept"]]
    assert kept["cluster"].is_unique and len(kept) == got["cluster"].nunique()
    n_components = len(set(comp.values()))
    assert len(kept) == len(corpus) - len(nodes) + n_components


# --- a10/a11/a12/a15: dup detection, distinct, minmax, mean collapse --------


def test_a10_duplicate_detection_replay(spark):
    got = _run(spark, "a10_duplicate_detection")
    part = pd.read_parquet(
        f"{SF_SMOKE}/part.parquet", columns=["p_name", "p_type", "p_brand"]
    )
    g = part.groupby(["p_name", "p_type"]).agg(
        n=("p_brand", "size"), n_brands=("p_brand", "nunique")
    )
    exp = g[g["n"] > 1]
    assert len(got) == len(exp)
    for r in got.itertuples():
        e = exp.loc[(r.p_name, r.p_type)]
        assert int(r.n) == int(e["n"]) and int(r.n_brands) == int(e["n_brands"])
    # law: brands per dup group never exceed the copy count
    assert (got["n_brands"] <= got["n"]).all()


def test_a11_distinct_replay(spark):
    got = _run(spark, "a11_distinct")
    cust = pd.read_parquet(
        f"{SF_SMOKE}/customer.parquet", columns=["c_mktsegment", "c_nationkey"]
    )
    exp = set(map(tuple, cust.drop_duplicates().itertuples(index=False)))
    assert set(map(tuple, got.itertuples(index=False))) == exp
    assert len(got) == len(exp)  # set semantics: no duplicates


def test_a12_minmax_summary_replay(spark):
    got = _run(spark, "a12_minmax_summary")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet", columns=["o_orderkey", "o_orderdate"]
    )
    d = pd.to_datetime(orders["o_orderdate"])
    for r in got.itertuples():
        sub = orders[d.dt.year == int(r.year)]
        sd = pd.to_datetime(sub["o_orderdate"])
        assert pd.Timestamp(r.first_order) == sd.min()
        assert pd.Timestamp(r.last_order) == sd.max()
        assert int(r.max_key) == int(sub["o_orderkey"].max())
        # law: year boundaries contain the extremes
        assert sd.min().year == int(r.year) == sd.max().year
    assert set(got["year"].astype(int)) == set(d.dt.year.unique())


def test_a15_mean_collapse_integer_cents_replay(spark):
    got = _run(spark, "a15_mean_collapse")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_orderkey", "l_partkey", "l_extendedprice"],
    )
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet", columns=["o_orderkey", "o_custkey", "o_orderdate"]
    )
    cust = pd.read_parquet(
        f"{SF_SMOKE}/customer.parquet", columns=["c_custkey", "c_mktsegment"]
    )
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet", columns=["p_partkey", "p_type"])
    j = (
        li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust, left_on="o_custkey", right_on="c_custkey")
        .merge(part, left_on="l_partkey", right_on="p_partkey")
    )
    j = j.assign(
        cents=j["l_extendedprice"].map(lambda v: int(math.floor(v * 100.0 + 0.5))),
        year=pd.to_datetime(j["o_orderdate"]).dt.year,
    )
    agg = j.groupby(["c_mktsegment", "p_type", "year"]).agg(
        s=("cents", "sum"), n=("cents", "size")
    )
    assert len(got) == len(agg)
    for r in got.itertuples():
        e = agg.loc[(r.c_mktsegment, r.p_type, int(r.year))]
        mean = math.floor(int(e["s"]) * 100.0 / int(e["n"]) + 0.5) / 10000.0
        assert float(r.mean_price) == mean
        # law: an average sits inside the group's value range
        sub = j[
            (j["c_mktsegment"] == r.c_mktsegment)
            & (j["p_type"] == r.p_type)
            & (j["year"] == int(r.year))
        ]["l_extendedprice"]
        assert sub.min() - 0.01 <= mean <= sub.max() + 0.01


# --- tx1-tx4: token stats, quality, lang-id, fingerprints -------------------


def test_tx1_token_count_replay(spark):
    import re as _re

    got = _run(spark, "tx1_token_count")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    assert len(got) == len(docs)
    text_of = dict(zip(docs["doc_id"].astype(int), docs["text"]))
    for r in got.itertuples():
        t = text_of[int(r.doc_id)]
        assert int(r.n_tokens_ws) == len(_re.split(r"\s+", t.strip()))
        assert int(r.n_tokens_bpe) == len(
            _re.findall(r"[a-z]+|[0-9]+|[^a-z0-9 ]", t.lower())
        )
        n_types = len(set(t.lower().split(" ")))
        assert int(r.n_types) == n_types
        # law: distinct types never exceed the space-token count
        assert n_types <= len(t.lower().split(" "))


def test_tx2_quality_score_replay(spark):
    got = _run(spark, "tx2_quality_score")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    stop = {"the", "a", "and", "of", "to", "in", "is"}
    text_of = dict(zip(docs["doc_id"].astype(int), docs["text"]))
    assert len(got) == len(docs)
    for r in got.itertuples():
        t = text_of[int(r.doc_id)]
        toks = t.lower().split(" ")
        sr = _q6(sum(1 for x in toks if x in stop) / len(toks))
        pr = _q6(sum(1 for ch in t if ch in ".,;:!?") / len(t))
        mtl = _q6(sum(len(x) for x in toks) / len(toks))
        assert int(r.n_chars_actual) == len(t)
        assert float(r.stop_ratio) == sr
        assert float(r.punct_ratio) == pr
        assert float(r.mean_tok_len) == mtl
        q = "high" if sr >= 0.5 else ("medium" if sr >= 0.25 else "low")
        assert r.quality == q
    # law: ratios are proper fractions
    assert got["stop_ratio"].between(0, 1).all()
    assert got["punct_ratio"].between(0, 1).all()


def test_tx3_lang_id_argmax_replay(spark):
    from ifcb_data_pipeline_spark.operators.text import LANG_MARKERS

    got = _run(spark, "tx3_lang_id")
    docs = pd.read_parquet(
        f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text", "lang"]
    )
    text_of = dict(zip(docs["doc_id"].astype(int), docs["text"]))
    lang_of = dict(zip(docs["doc_id"].astype(int), docs["lang"]))
    langs = [lang for lang, _ in LANG_MARKERS]
    agree = 0
    for r in got.itertuples():
        toks = text_of[int(r.doc_id)].lower().split(" ")
        best_lang, best_score = LANG_MARKERS[0][0], sum(
            1 for x in toks if x in set(LANG_MARKERS[0][1])
        )
        for lang, markers in LANG_MARKERS[1:]:
            s = sum(1 for x in toks if x in set(markers))
            if s > best_score:
                best_lang, best_score = lang, s
        assert r.predicted_lang == best_lang
        assert r.labeled_lang == lang_of[int(r.doc_id)]
        if r.predicted_lang == r.labeled_lang:
            agree += 1
    # laws: predictions come from the marker vocabulary, and the
    # heuristic genuinely tracks the synthetic labels (the corpus is
    # English-marker-heavy across labels, so the rate is modest — but it
    # must clearly beat the 1/|langs| chance rate)
    assert set(got["predicted_lang"]) <= set(langs)
    assert agree / len(got) > 1.5 / len(langs)


def test_tx4_fingerprint_replay(spark):
    import hashlib
    import re as _re

    got = _run(spark, "tx4_fingerprint")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    text_of = dict(zip(docs["doc_id"].astype(int), docs["text"]))

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    for r in got.itertuples():
        t = _re.sub(r"\s+", " ", text_of[int(r.doc_id)].lower()).strip()
        w = t.split(" ")
        assert r.fp_md5 == hashlib.md5(t.encode()).hexdigest()
        assert int(r.fp32) == h32(t)
        assert int(r.fp_head) == h32(" ".join(w[:5]))
        assert int(r.fp_tail) == h32(" ".join(w[-5:]))
    # law: full-text fingerprints are injective on this corpus iff the
    # normalized texts are distinct — count equality both ways
    norm = {_re.sub(r"\s+", " ", t.lower()).strip() for t in text_of.values()}
    assert got["fp_md5"].nunique() == len(norm)


# --- a2/a3/a4/a17/a18: rollup + provenance aggregate family -----------------


def test_a2_taxon_rollup_replay(spark):
    got = _run(spark, "a2_taxon_rollup")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet", columns=["l_orderkey", "l_partkey", "l_quantity"]
    )
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet", columns=["p_partkey", "p_brand"])
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    rolled = (
        j.groupby(["l_orderkey", "p_brand"])["l_quantity"].sum().reset_index()
    )
    rolled["taxon"] = rolled["p_brand"].str[:7]
    agg = rolled.groupby(["l_orderkey", "taxon"]).agg(
        qty=("l_quantity", "sum"),
        n_classes=("p_brand", "size"),
        classes=("p_brand", lambda s: ", ".join(sorted(s))),
    )
    assert len(got) == len(agg)
    for r in got.itertuples():
        e = agg.loc[(int(r.sample), r.taxon)]
        assert abs(float(r.qty) - math.floor(float(e["qty"]) * 100.0 + 0.5) / 100.0) <= 0.01 + 1e-9
        assert int(r.n_classes) == int(e["n_classes"])
        assert r.class_provenance == e["classes"]
    # law: provenance lists exactly n_classes comma-separated entries,
    # each sharing the taxon prefix
    for r in got.itertuples():
        cs = r.class_provenance.split(", ")
        assert len(cs) == int(r.n_classes)
        assert all(c[:7] == r.taxon for c in cs)


def test_a3_flag_frequency_replay(spark):
    got = _run(spark, "a3_flag_frequency")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_type"])
    exp = ev["event_type"].value_counts()
    assert len(got) == len(exp)
    for r in got.itertuples():
        assert int(r.n) == int(exp[r.flag])
    assert int(got["n"].sum()) == len(ev)


def test_a4_monthly_stats_replay(spark):
    got = _run(spark, "a4_monthly_stats")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet", columns=["o_custkey", "o_orderdate", "o_totalprice"]
    )
    cust = pd.read_parquet(
        f"{SF_SMOKE}/customer.parquet", columns=["c_custkey", "c_nationkey"]
    )
    nation = pd.read_parquet(
        f"{SF_SMOKE}/nation.parquet", columns=["n_nationkey", "n_name"]
    )
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey").merge(
        nation, left_on="c_nationkey", right_on="n_nationkey"
    )
    j = j.assign(
        month=pd.to_datetime(j["o_orderdate"]).dt.month,
        cents=j["o_totalprice"].map(lambda v: int(math.floor(v * 100.0 + 0.5))),
    )
    agg = j.groupby(["n_name", "month"])
    assert len(got) == agg.ngroups
    for r in got.itertuples():
        grp = j[(j["n_name"] == r.basin) & (j["month"] == int(r.month))]
        s, n = int(grp["cents"].sum()), len(grp)
        mean = math.floor(s * 100.0 / n + 0.5) / 10000.0
        assert float(r.mean_val) == mean
        assert int(r.n) == n
        # sample stddev via the two-pass textbook formula
        if n >= 2:
            mu = grp["o_totalprice"].astype(float).mean()
            var = ((grp["o_totalprice"].astype(float) - mu) ** 2).sum() / (n - 1)
            sd = math.floor(math.sqrt(var) * 10000.0 + 0.5) / 10000.0
            # engine accumulates moments in a different order; the sqrt
            # makes boundary hits measure-zero, allow one grid unit
            assert abs(float(r.sd_val) - sd) <= 1e-4 + 1e-9
            assert float(r.sd_val) >= 0
        else:
            assert pd.isna(r.sd_val)


def test_a17_qc_sums_integer_cents_replay(spark):
    got = _run(spark, "a17_qc_sums")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet", columns=["l_orderkey", "l_extendedprice"]
    )
    li = li.assign(
        cents=li["l_extendedprice"].map(lambda v: int(math.floor(v * 100.0 + 0.5)))
    )
    agg = li.groupby("l_orderkey")["cents"].agg(["sum", "size"])
    assert len(got) == len(agg)
    for r in got.itertuples():
        e = agg.loc[int(r.sample)]
        s, n = int(e["sum"]), int(e["size"])
        assert float(r.total_price) == s / 100.0
        assert int(r.n_items) == n
        assert float(r.price_per_item) == math.floor(s / n + 0.5) / 100.0
        # law: mean payment per item sits inside the per-item range
        assert float(r.price_per_item) * n <= s / 100.0 * 1.01 + 0.01 * n


def test_a18_provenance_summary_replay(spark):
    got = _run(spark, "a18_provenance_summary")
    docs = pd.read_parquet(
        f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "lang", "source"]
    )
    agg = docs.groupby("source").agg(
        n=("doc_id", "size"), n_langs=("lang", "nunique"), n_docs=("doc_id", "nunique")
    )
    assert len(got) == len(agg)
    for r in got.itertuples():
        e = agg.loc[r.source_owner]
        assert (int(r.n), int(r.n_langs), int(r.n_docs)) == (
            int(e["n"]),
            int(e["n_langs"]),
            int(e["n_docs"]),
        )
    # laws: doc_id is a key (n == n_docs) and language diversity is
    # bounded by the group size
    assert (got["n"] == got["n_docs"]).all()
    assert (got["n_langs"] <= got["n"]).all()


# --- j1/j10-j13: enrichment + semi/anti/provenance/classlist joins ----------


def test_j1_enrichment_chain_replay(spark):
    got = _run(spark, "j1_enrichment_chain")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=[
            "l_orderkey", "l_linenumber", "l_suppkey", "l_partkey",
            "l_extendedprice", "l_discount",
        ],
    )
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet",
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )
    cust = pd.read_parquet(
        f"{SF_SMOKE}/customer.parquet",
        columns=["c_custkey", "c_nationkey", "c_mktsegment"],
    )
    nation = pd.read_parquet(
        f"{SF_SMOKE}/nation.parquet", columns=["n_nationkey", "n_regionkey", "n_name"]
    )
    region = pd.read_parquet(
        f"{SF_SMOKE}/region.parquet", columns=["r_regionkey", "r_name"]
    )
    supp = pd.read_parquet(
        f"{SF_SMOKE}/supplier.parquet", columns=["s_suppkey", "s_name"]
    )
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet", columns=["p_partkey", "p_brand"])
    j = (
        li.merge(orders, left_on="l_orderkey", right_on="o_orderkey", how="left")
        .merge(cust, left_on="o_custkey", right_on="c_custkey", how="left")
        .merge(nation, left_on="c_nationkey", right_on="n_nationkey", how="left")
        .merge(region, left_on="n_regionkey", right_on="r_regionkey", how="left")
        .merge(supp, left_on="l_suppkey", right_on="s_suppkey", how="left")
        .merge(part, left_on="l_partkey", right_on="p_partkey", how="left")
    )
    # all dims are keys here, so a left chain preserves fact cardinality
    assert len(got) == len(j) == len(li)
    g = got.sort_values(["l_orderkey", "l_linenumber", "revenue"]).reset_index(drop=True)
    j = j.assign(
        revenue=[
            math.floor(float(p) * (1 - float(d)) * 100.0 + 0.5) / 100.0
            for p, d in zip(j["l_extendedprice"], j["l_discount"])
        ]
    )
    e = j.sort_values(["l_orderkey", "l_linenumber", "revenue"]).reset_index(drop=True)
    for col_g, col_e in [
        ("o_orderstatus", "o_orderstatus"), ("c_mktsegment", "c_mktsegment"),
        ("cust_nation", "n_name"), ("cust_region", "r_name"),
        ("supp_name", "s_name"), ("p_brand", "p_brand"),
    ]:
        assert g[col_g].fillna("∅").tolist() == e[col_e].fillna("∅").tolist()
    assert g["revenue"].tolist() == e["revenue"].tolist()


def test_j10_semi_join_replay(spark):
    got = _run(spark, "j10_semi_join")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet", columns=["o_custkey", "o_orderpriority"]
    )
    cust = pd.read_parquet(
        f"{SF_SMOKE}/customer.parquet", columns=["c_custkey", "c_name"]
    )
    urgent = set(
        orders.loc[orders["o_orderpriority"] == "1-URGENT", "o_custkey"].astype(int)
    )
    exp = cust[cust["c_custkey"].astype(int).isin(urgent)]
    assert sorted(got["c_custkey"].astype(int)) == sorted(exp["c_custkey"].astype(int))
    # laws: semi-join never duplicates and never invents rows
    assert got["c_custkey"].is_unique
    assert len(got) <= len(cust)


def test_j11_incremental_anti_join_replay(spark):
    got = _run(spark, "j11_incremental_anti_join")
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet", columns=["o_orderkey"])
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet", columns=["l_orderkey", "l_returnflag"]
    )
    processed = set(li.loc[li["l_returnflag"] == "R", "l_orderkey"].astype(int))
    exp = set(orders["o_orderkey"].astype(int)) - processed
    assert set(got["o_orderkey"].astype(int)) == exp
    # law: anti + semi partition the left side
    assert len(got) + len(set(orders["o_orderkey"].astype(int)) & processed) == len(
        orders
    )


def test_j12_provenance_merge_replay(spark):
    got = _run(spark, "j12_provenance_merge")
    nation = pd.read_parquet(
        f"{SF_SMOKE}/nation.parquet", columns=["n_nationkey", "n_name"]
    )
    cust = pd.read_parquet(
        f"{SF_SMOKE}/customer.parquet",
        columns=["c_custkey", "c_nationkey", "c_mktsegment"],
    )
    per_nation = cust.groupby("c_nationkey").size()
    # left join multiplicity: one row per customer, plus one null row for
    # customer-less nations
    exp_len = sum(
        int(per_nation.get(k, 0)) or 1 for k in nation["n_nationkey"].astype(int)
    )
    assert len(got) == exp_len
    for r in nation.itertuples():
        sub = got[got["n_name"] == r.n_name]
        n_cust = int(per_nation.get(int(r.n_nationkey), 0))
        if n_cust == 0:
            assert len(sub) == 1 and sub["c_custkey"].isna().all()
        else:
            assert len(sub) == n_cust
            assert sorted(sub["c_custkey"].astype(int)) == sorted(
                cust.loc[cust["c_nationkey"] == r.n_nationkey, "c_custkey"].astype(int)
            )


def test_j13_classlist_full_join_replay(spark):
    got = _run(spark, "j13_classlist_full_join")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet", columns=["l_partkey", "l_shipdate"]
    )
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet", columns=["p_partkey", "p_brand"])
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey")
    cut = pd.Timestamp("1998-01-01")
    ship = pd.to_datetime(j["l_shipdate"])
    early = set(j.loc[ship < cut, "p_brand"])
    late = set(j.loc[ship >= cut, "p_brand"])
    assert set(got["brand"]) == early | late
    for r in got.itertuples():
        assert bool(r.in_early) == (r.brand in early)
        assert bool(r.in_late) == (r.brand in late)
    # laws: one row per brand; no row with both flags false
    assert got["brand"].is_unique
    assert (got["in_early"] | got["in_late"]).all()


# --- f1/f6/f11/qf/s6/c3/u13b: filters, flag union, JSON, taxa, PSD ----------


def test_f1_select_rename_replay(spark):
    got = _run(spark, "f1_select_rename")
    region = pd.read_parquet(
        f"{SF_SMOKE}/region.parquet", columns=["r_regionkey", "r_name"]
    )
    assert len(got) == len(region)
    exp = dict(zip(region["r_regionkey"].astype(int), region["r_name"].str.lower()))
    for r in got.itertuples():
        assert r.region_name == exp[int(r.region_id)]


def test_f6_regional_filter_replay(spark):
    got = _run(spark, "f6_regional_filter")
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet", columns=["c_custkey"])
    exp = []
    for k in cust["c_custkey"].astype(int):
        lat, lon = 54.0 + (k % 600) / 100.0, 10.0 + (k % 1200) / 100.0
        in_baltic = 54.0 <= lat <= 60.0 and 13.0 <= lon <= 22.0
        in_skag = 57.5 <= lat <= 59.5 and 8.0 <= lon <= 11.0
        in_katt = 55.5 <= lat <= 57.5 and 10.0 <= lon <= 13.0
        if in_baltic and not in_skag and not in_katt:
            exp.append(k)
    assert sorted(got["c_custkey"].astype(int)) == sorted(exp)
    # law: output is a strict subset (the filter excludes someone)
    assert 0 < len(got) < len(cust) or len(exp) in (0, len(cust))


def test_f11_missing_position_replay(spark):
    got = _run(spark, "f11_missing_position_filter")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_id", "value"])
    exp = {int(r.event_id) for r in ev.itertuples() if float(r.value) * 20 > 600}
    assert set(got["event_id"].astype(int)) == exp


def test_qf_flag_unification_replay(spark):
    got = _run(spark, "qf_flag_unification")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet", columns=["l_suppkey", "l_discount"]
    )
    supp = pd.read_parquet(f"{SF_SMOKE}/supplier.parquet", columns=["s_suppkey"])
    psd = set()
    for k, grp in li.groupby("l_suppkey"):
        vals = grp["l_discount"].astype(float).tolist()
        s = 0.0
        for v in vals:
            s += v
        if s / len(vals) > 0.05:
            psd.add(int(k))
    geo = {int(k) for k in supp["s_suppkey"] if k % 3 == 0}
    exp = {}
    for k in psd | geo:
        parts = (["bubbles"] if k in psd else []) + (["near land"] if k in geo else [])
        flag = ", ".join(parts)
        exp[k] = flag[0].upper() + flag[1:]
    assert len(got) == len(exp)
    for r in got.itertuples():
        assert exp[int(r.sample)] == r.flag
    # laws: the unified flag is sentence-cased and drawn from the closed
    # vocabulary of flag combinations
    assert set(got["flag"]) <= {"Bubbles", "Near land", "Bubbles, near land"}


def test_s6_json_scan_replay(spark):
    import json as _json

    got = _run(spark, "s6_json_scan")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_id", "props"])
    assert len(got) == len(ev)
    k_of = {
        int(r.event_id): _json.loads(r.props).get("k") for r in ev.itertuples()
    }
    for r in got.itertuples():
        k = k_of[int(r.event_id)]
        if k is None:
            assert pd.isna(r.k)
        else:
            assert int(r.k) == int(k)
            assert bool(r.k_in_range) == (0 <= int(k) <= 49)


def test_c3_name_type_split_regex_replay(spark):
    import re as _re

    got = _run(spark, "c3_name_type_split")
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet", columns=["p_partkey", "p_name"])
    assert len(got) == len(part)
    meta = {}
    for r in part.itertuples():
        w = r.p_name.split(" ")
        w1 = w[0][:1].upper() + w[0][1:].lower()
        w2 = w[1].lower()
        w2cap = w[1][:1].upper() + w[1][1:].lower()
        k = int(r.p_partkey) % 5
        cleaned = [
            f"{w1} {w2}",
            f"{w1} cf {w2}",
            f"{w1}-like",
            f"{w1} {w2cap}",
            f"{w1} {w2} group",
        ][k]
        if _re.search(r"\bgroup$", cleaned):
            nt = "group"
        elif _re.search(r"\bcf\b", cleaned):
            nt = "cf"
        elif _re.search(r"-like$", cleaned):
            nt = "like"
        elif _re.search(r"^[A-Z][a-z]+-[A-Z][a-z]+$", cleaned) or _re.search(
            r"^[A-Z].*\s[A-Z]", cleaned
        ):
            nt = "multi"
        else:
            nt = "direct"
        if nt == "cf":
            qn = [_re.sub(r"\s+cf\s+", " ", cleaned)]
        elif nt == "like":
            qn = [_re.sub(r"-like$", "", cleaned)]
        elif nt == "multi":
            if _re.search(r"^[A-Z][a-z]+-[A-Z][a-z]+$", cleaned):
                qn = cleaned.split("-")
            else:
                qn = _re.sub(r"\s+([A-Z])", r"|\1", cleaned).split("|")
        else:
            qn = [_re.sub(r"\s+sp$", "", _re.sub(r"\s+spp$", "", cleaned))]
        meta[int(r.p_partkey)] = (cleaned, nt, "|".join(qn))
    for r in got.itertuples():
        cleaned, nt, qn = meta[int(r.p_partkey)]
        assert r.cleaned == cleaned
        assert r.name_type == nt
        assert r.query_names == qn
    # law: the five k-branches force known name-type outcomes
    k_series = got["p_partkey"].astype(int) % 5
    assert (got.loc[(k_series == 1).values, "name_type"] == "cf").all()
    assert (got.loc[(k_series == 2).values, "name_type"] == "like").all()
    assert (got.loc[(k_series == 4).values, "name_type"] == "group").all()


def test_u13b_psd_fit_independent_loglog_recovery(spark):
    got = _run(spark, "u13b_psd_fit_pandas").sort_values("sample")
    assert len(got) == 100
    for r in got.itertuples():
        s = int(r.sample)
        a_true, k_true = 50.0 + 10.0 * s, -1.5 - 0.02 * s
        # independent estimator: on an EXACT power law n = a*bin^k, a
        # log-log OLS recovers the generating parameters too — agreement
        # of two different estimators on the same histogram
        xs = [math.log(b) for b in range(15, 35)]
        ys = [math.log(a_true * b**k_true) for b in range(15, 35)]
        n = len(xs)
        mx, my = sum(xs) / n, sum(ys) / n
        k_ols = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        a_ols = math.exp(my - k_ols * mx)
        assert abs(float(r.k) - k_ols) < 1e-6
        assert abs(float(r.a) - a_ols) < 1e-3 * a_ols
        assert float(r.r_sqr) == 1.0
        assert int(r.n_bins) == 20


# --- st4/tp2: stream-stream join, multimodal corpus flagship ----------------


def test_st4_stream_stream_join_replay(spark):
    got = _run(spark, "st4_stream_stream_join")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["event_id", "ts", "user_id", "event_type"]
    )
    clicks = ev[ev["event_type"] == "click"]
    purch = ev[ev["event_type"] == "purchase"]
    exp = {}
    for c in clicks.itertuples():
        for p in purch.itertuples():
            if (
                int(c.user_id) == int(p.user_id)
                and p.ts > c.ts
                and p.ts <= c.ts + pd.Timedelta(hours=2)
            ):
                # lag counts SECOND BOUNDARIES crossed (truncate both
                # endpoints, then diff) — the date_diff semantic, not
                # floor of the elapsed fractional seconds
                exp[(int(c.event_id), int(p.event_id))] = (
                    int(c.user_id),
                    int(
                        (p.ts.floor("s") - c.ts.floor("s")).total_seconds()
                    ),
                )
    assert len(got) == len(exp)
    for r in got.itertuples():
        uid, lag = exp[(int(r.click_id), int(r.purchase_id))]
        assert int(r.user_id) == uid
        assert int(r.lag_seconds) == lag
    # laws: attribution lag is inside the 2 h window (boundary-count lag
    # can be 0 for sub-second gaps)
    assert ((got["lag_seconds"] >= 0) & (got["lag_seconds"] <= 7200)).all()


def test_tp2_multimodal_corpus_full_replay(spark):
    import hashlib

    got = _run(spark, "tp2_multimodal_corpus")
    docs = pd.read_parquet(
        f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text", "lang"]
    )
    m = max(10000, int(docs["doc_id"].max()) + 1)
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet", columns=["vec_id", "embedding"])
    vec_of = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb.itertuples()}
    corpus = {}
    for r in docs.itertuples():
        d = int(r.doc_id)
        if d not in vec_of:
            continue
        n_tok = len(r.text.lower().split(" "))
        corpus[d] = (r.lang, n_tok, vec_of[d])
        if d % 10 == 0:
            corpus[d + m] = (r.lang, n_tok, [x * 1.5 for x in vec_of[d]])
    # sign-LSH replay: 16 md5-spec planes, 4 bands x 4 rows
    planes = [
        [
            1.0 if hashlib.md5(f"{p}#{i}".encode()).hexdigest()[0] >= "8" else -1.0
            for i in range(64)
        ]
        for p in range(16)
    ]
    from collections import defaultdict

    buckets = defaultdict(list)
    for d, (_, _, v) in corpus.items():
        for b in range(4):
            sig = "".join(
                "1" if _seq_dot(v, planes[b * 4 + r]) > 0 else "0" for r in range(4)
            )
            buckets[(b, sig)].append(d)
    dup = set()
    seen = set()
    for members in buckets.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = members[i], members[j]
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                va, vb = corpus[a][2], corpus[b][2]
                cos = _q6(
                    _seq_dot(va, vb)
                    / math.sqrt(_seq_dot(va, va) * _seq_dot(vb, vb))
                )
                if cos >= 0.95:
                    dup.add(b)
    exp = {}
    for d, (lang, n_tok, _) in corpus.items():
        if d in dup or n_tok < 10:
            continue
        h = int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16)
        exp[d] = (lang, n_tok, "train" if h % 100 < 80 else "eval")
    assert len(got) == len(exp)
    for r in got.itertuples():
        lang, n_tok, split = exp[int(r.doc)]
        assert r.lang == lang
        assert int(r.n_tok) == n_tok
        assert r.split == split
    # laws: every planted x1.5-scaled copy is cosine-identical to its
    # base, so LSH recall on them is 1.0 — no variant id survives; the
    # token gate holds; the hash split is roughly 80/20
    assert not (got["doc"] >= m).any()
    assert (got["n_tok"] >= 10).all()
    frac = (got["split"] == "train").mean()
    assert 0.6 < frac < 0.95


# --- f2/f3/f4/f7/f8/f10/f12/f13: filter-family replays ----------------------


def _bin_id(ts, user_id):
    return f"D{ts.strftime('%Y%m%d')}T{ts.strftime('%H%M%S')}_IFCB{int(user_id) % 200}"


def test_f2_gps_staleness_replay(spark):
    got = _run(spark, "f2_gps_staleness")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["event_id", "user_id", "value"]
    )
    meta = {
        int(r.event_id): (int(r.user_id), float(r.value) * 20 > 600)
        for r in ev.itertuples()
    }
    assert len(got) == len(ev)
    for r in got.itertuples():
        u, stale = meta[int(r.event_id)]
        assert bool(r.gps_stale) == stale
        if stale:
            assert pd.isna(r.lat) and pd.isna(r.lon)
        else:
            assert float(r.lat) == 54.0 + (u % 600) / 100.0
            assert float(r.lon) == 10.0 + (u % 1200) / 100.0
    # law: positions are nulled EXACTLY on stale rows
    assert (got["lat"].isna() == got["gps_stale"]).all()


def test_f3_blacklist_prefix_anti_replay(spark):
    got = _run(spark, "f3_blacklist_prefix_anti")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["event_id", "user_id", "ts"]
    )
    sample_of = {
        int(r.event_id): _bin_id(r.ts, r.user_id) for r in ev.itertuples()
    }
    exact = {s for eid, s in sample_of.items() if eid % 250 == 0}
    prefixes = {"D20240115"}
    exp = {
        eid: s
        for eid, s in sample_of.items()
        if s not in exact and s[:9] not in prefixes
    }
    assert len(got) == len(exp)
    for r in got.itertuples():
        assert exp[int(r.event_id)] == r.sample
    # laws: no survivor matches an exact entry or a blacklisted day
    assert not any(s in exact for s in got["sample"])
    assert not any(s.startswith("D20240115") for s in got["sample"])


def test_f4_flag_removal_replay(spark):
    got = _run(spark, "f4_flag_removal")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_id", "event_type"])
    keep = ev[
        ~ev["event_type"].str.lower().str.contains("err")
        & ~ev["event_type"].str.lower().str.contains("sign")
    ]
    assert sorted(got["event_id"].astype(int)) == sorted(keep["event_id"].astype(int))
    # law: the removal is substring-based, so no surviving type contains
    # a banned token
    assert not got["event_type"].str.lower().str.contains("err|sign").any()


def test_f7_qc_gating_replay(spark):
    import json as _json

    got = _run(spark, "f7_qc_gating")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["event_id", "value", "props"]
    )
    meta = {
        int(r.event_id): (_json.loads(r.props).get("k"), float(r.value))
        for r in ev.itertuples()
    }
    assert len(got) == len(ev)
    for r in got.itertuples():
        k, v = meta[int(r.event_id)]
        assert int(r.q) == int(k)
        if int(k) % 4 == 1:
            assert float(r.value_gated) == v
        else:
            assert pd.isna(r.value_gated)
    # law: gating keeps exactly the quality-1 rows
    assert (got["value_gated"].notna() == (got["q"] % 4 == 1)).all()


def test_f8_sentinel_normalization_replay(spark):
    got = _run(spark, "f8_sentinel_normalization")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet", columns=["event_id", "value"])
    val = dict(zip(ev["event_id"].astype(int), ev["value"].astype(float)))
    assert len(got) == len(ev)
    for r in got.itertuples():
        eid = int(r.event_id)
        v = val[eid]
        if eid % 13 == 0:
            assert pd.isna(r.value_clean)
        else:
            assert float(r.value_clean) == v
        if eid % 17 == 0 or v == 0.0:
            assert pd.isna(r.ph_clean)
        else:
            assert float(r.ph_clean) == v
    # law: no sentinel survives in either cleaned column
    assert not (got["value_clean"] == -999.0).any()
    assert not (got["ph_clean"] == 0.0).any()


def test_f10_timestamp_range_replay(spark):
    got = _run(spark, "f10_timestamp_range")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["event_id", "user_id", "ts"]
    )
    exp = {
        int(r.event_id): _bin_id(r.ts, r.user_id)
        for r in ev.itertuples()
        if "D20240110" <= _bin_id(r.ts, r.user_id) <= "D20240120"
    }
    assert len(got) == len(exp)
    for r in got.itertuples():
        assert exp[int(r.event_id)] == r.sample
    # law: the string range on a D-prefixed id equals the date range
    ts_of = dict(zip(ev["event_id"].astype(int), ev["ts"]))
    for eid in exp:
        assert pd.Timestamp("2024-01-10") <= ts_of[eid] < pd.Timestamp("2024-01-20")


def test_f12_value_threshold_replay(spark):
    got = _run(spark, "f12_value_threshold")
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet", columns=["l_partkey"])
    cnt = li["l_partkey"].value_counts()
    exp = cnt[cnt > 40]
    assert len(got) == len(exp)
    for r in got.itertuples():
        assert int(r.n) == int(exp[int(r.l_partkey)])
    assert (got["n"] > 40).all()


def test_f13_membership_filter_replay(spark):
    got = _run(spark, "f13_membership_filter")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet",
        columns=["o_orderkey", "o_orderpriority", "o_orderstatus"],
    )
    exp = orders[
        orders["o_orderpriority"].isin(["1-URGENT", "2-HIGH"])
        & (orders["o_orderstatus"] == "F")
    ]
    assert sorted(got["o_orderkey"].astype(int)) == sorted(exp["o_orderkey"].astype(int))
    assert set(got["o_orderpriority"]) <= {"1-URGENT", "2-HIGH"}
    assert (got["o_orderstatus"] == "F").all()


# --- c2/c6/c8/c9/c10/c11/c12: scalar-cascade family -------------------------

_TAXA_SUFFIXES = ["", "_chain", "_single_cell", "_cf", "_spp", "_larger_than_30", "_group"]


def _raw_label(name, key):
    base = (name[:1].upper() + name[1:].lower()).replace(" ", "_")
    return base + _TAXA_SUFFIXES[int(key) % 7]


def test_c2_species_flag_replay(spark):
    import re as _re

    got = _run(spark, "c2_species_flag")
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet", columns=["p_partkey", "p_name"])
    assert len(got) == len(part)
    exp = {}
    for r in part.itertuples():
        raw = _raw_label(r.p_name, r.p_partkey) + (
            "-like" if int(r.p_partkey) % 11 == 0 else ""
        )
        norm = raw.replace("_", " ")
        flag = ""
        if "-like" in raw or "_cf_" in raw or "_like" in raw:
            flag += "CF "
        if _re.search(r"\bspp\b", norm):
            flag += "SPP "
        if _re.search(r"\bgroup\b", norm):
            flag += "GRP "
        if _re.search(r"\bsp\b", norm):
            flag += "SP "
        exp[int(r.p_partkey)] = flag.strip() or None
    for r in got.itertuples():
        want = exp[int(r.p_partkey)]
        if want is None:
            assert pd.isna(r.sflag)
        else:
            assert r.sflag == want
    # law: flags come from the closed combination vocabulary in append
    # order CF > SPP > GRP > SP
    vocab = set(got["sflag"].dropna())
    for v in vocab:
        parts = v.split(" ")
        order = {"CF": 0, "SPP": 1, "GRP": 2, "SP": 3}
        assert all(p in order for p in parts)
        assert [order[p] for p in parts] == sorted(order[p] for p in parts)


def test_c6_parse_bin_id_roundtrip_replay(spark):
    got = _run(spark, "c6_parse_bin_id")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["event_id", "user_id", "ts"]
    )
    meta = {int(r.event_id): (r.ts, int(r.user_id)) for r in ev.itertuples()}
    assert len(got) == len(ev)
    for r in got.itertuples():
        ts, uid = meta[int(r.event_id)]
        sample = _bin_id(ts, uid)
        assert r.sample == sample
        assert pd.Timestamp(r.parsed_ts) == ts.floor("s")
        assert pd.Timestamp(r.parsed_date) == ts.normalize()
        assert (int(r.year), int(r.month), int(r.day)) == (ts.year, ts.month, ts.day)
        assert r.time == ts.strftime("%H:%M:%S")
        assert r.ifcb_number == f"IFCB{uid % 200}"
        assert r.sample_prefix == sample.split("_")[0]
    # law: parsing inverts formatting exactly to second precision
    assert (pd.to_datetime(got["parsed_ts"]).dt.strftime("%H:%M:%S") == got["time"]).all()


def test_c8_f1_score_replay(spark):
    got = _run(spark, "c8_f1_score")
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet", columns=["p_partkey"])
    assert len(got) == len(part)
    for r in got.itertuples():
        k = int(r.p_partkey)
        p, rc = (k % 97) / 96.0, (k % 89) / 88.0
        if p + rc == 0:
            assert pd.isna(r.f1)
        else:
            f1 = _q6(2 * p * rc / (p + rc))
            assert float(r.f1) == f1
            # laws: F1 is the harmonic mean — bounded by min and max
            assert f1 <= max(p, rc) + 1e-6
            assert f1 >= 0


def test_c9_signif_round_replay(spark):
    got = _run(spark, "c9_signif_round")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet", columns=["o_orderkey", "o_totalprice"]
    )
    price = dict(zip(orders["o_orderkey"].astype(int), orders["o_totalprice"].astype(float)))
    assert len(got) == len(orders)
    for r in got.itertuples():
        v = price[int(r.o_orderkey)]
        if v == 0:
            assert float(r.price_signif3) == 0
            continue
        mag = math.floor(math.log10(abs(v)))
        s = math.floor(v / 10.0**mag * 100.0 + 0.5) / 100.0 * 10.0**mag
        assert float(r.price_signif3) == s
        # law: 3-significant-digit rounding moves the value < 0.5 ulp of
        # the third digit
        assert abs(s - v) <= 0.5 * 10.0 ** (mag - 2) * 1.0001


def test_c10_date_format_replay(spark):
    got = _run(spark, "c10_date_format")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet", columns=["o_orderkey", "o_orderdate"]
    )
    d = dict(zip(orders["o_orderkey"].astype(int), pd.to_datetime(orders["o_orderdate"])))
    assert len(got) == len(orders)
    for r in got.itertuples():
        ts = d[int(r.o_orderkey)]
        assert r.ts_compact == ts.strftime("%Y%m%d%H%M%S")
        assert int(r.month) == ts.month
        assert bool(r.in_season) == (5 <= ts.month <= 10)


def test_c11_encoding_fix_replay(spark):
    got = _run(spark, "c11_encoding_fix")
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet", columns=["p_partkey", "p_name"])
    tr = str.maketrans("åäöÅÄÖµ\\", "aaoAAOu/")
    exp = {
        int(r.p_partkey): (r.p_name + " å ä ö µm").translate(tr)
        for r in part.itertuples()
    }
    for r in got.itertuples():
        assert r.normalized == exp[int(r.p_partkey)]
    # law: no Nordic/micro characters survive normalization
    assert not got["normalized"].str.contains("[åäöÅÄÖµ]", regex=True).any()


def test_c12_haversine_replay(spark):
    got = _run(spark, "c12_haversine")
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet", columns=["c_custkey"])
    assert len(got) == len(cust)
    for r in got.itertuples():
        k = int(r.c_custkey)
        la1, lo1 = 54.0 + (k % 600) / 100.0, 10.0 + (k % 1200) / 100.0
        d = (
            2
            * 6371.0088
            * math.asin(
                math.sqrt(
                    math.sin(math.radians(57.7 - la1) / 2) ** 2
                    + math.cos(math.radians(la1))
                    * math.cos(math.radians(57.7))
                    * math.sin(math.radians(11.97 - lo1) / 2) ** 2
                )
            )
        )
        assert abs(float(r.dist_to_gbg_km) - math.floor(d * 10000.0 + 0.5) / 10000.0) <= 1e-4 + 1e-9
        # law: distances are bounded by the lattice's great-circle reach
        assert 0 <= float(r.dist_to_gbg_km) < 1500


# --- dd2/dd8/j4/w3: minhash estimate, decontamination, as-of, gap fill ------


def test_dd2_minhash_estimate_replay(spark):
    import hashlib

    got = _run(spark, "dd2_minhash_lsh")
    corpus, shingles, _ = _replay_corpus_shingles()
    sigs = {}
    for doc, sh in shingles.items():
        mins = [1 << 40] * 16
        for s in sh:
            h = hashlib.md5(s.encode()).hexdigest()
            h1, h2 = int(h[:8], 16), int(h[8:16], 16) | 1
            for seed in range(16):
                v = (h1 + seed * h2) % 4294967296
                if v < mins[seed]:
                    mins[seed] = v
        sigs[doc] = mins
    from collections import defaultdict

    buckets = defaultdict(list)
    for doc, mh in sigs.items():
        for b in range(8):
            buckets[(b, tuple(mh[b * 2 : b * 2 + 2]))].append(doc)
    cand = set()
    for members in buckets.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                cand.add((members[i], members[j]))
    exp = {}
    for a, b in cand:
        est = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y) / 16.0
        if est >= 0.5:
            exp[(a, b)] = est
    assert len(got) == len(exp)
    for r in got.itertuples():
        assert float(r.est_jaccard) == exp[(int(r.doc_a), int(r.doc_b))]
    # laws: the estimate is a /16 grid fraction in [0.5, 1], and every
    # emitted pair shares at least one full band (>= 2 agreeing seeds)
    assert all(abs(v * 16 - round(v * 16)) < 1e-9 for v in got["est_jaccard"])
    assert got["est_jaccard"].between(0.5, 1.0).all()


def test_dd8_contamination_replay(spark):
    got = _run(spark, "dd8_benchmark_contamination")
    docs = pd.read_parquet(
        f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text", "source"]
    )
    sh_of = {}
    for r in docs.itertuples():
        w = r.text.lower().split(" ")
        sh_of[int(r.doc_id)] = (
            {" ".join(w[i : i + 4]) for i in range(max(len(w) - 3, 1))},
            r.source,
        )
    bench = set()
    for sh, src in sh_of.values():
        if src == "src0":
            bench |= sh
    exp = {}
    for d, (sh, src) in sh_of.items():
        if src == "src0":
            continue
        hits = len(sh & bench)
        if hits:
            exp[d] = (hits, len(sh), _q6(hits / len(sh)))
    assert len(got) == len(exp)
    for r in got.itertuples():
        hits, tot, frac = exp[int(r.doc_id)]
        assert int(r.n_contaminated) == hits
        assert int(r.n_shingles) == tot
        assert float(r.contamination_frac) == frac
    # laws: contamination is a proper fraction and benchmark docs are
    # never scored against themselves
    assert (got["n_contaminated"] <= got["n_shingles"]).all()
    src0_ids = {int(r.doc_id) for r in docs.itertuples() if r.source == "src0"}
    assert not set(got["doc_id"].astype(int)) & src0_ids


def test_j4_asof_nearest_replay(spark):
    got = _run(spark, "j4_asof_join")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet",
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    secs = {int(r.event_id): int(r.ts.value // 1_000_000_000) for r in ev.itertuples()}
    purchases = ev[ev["event_type"] == "purchase"]
    views = [
        (secs[int(r.event_id)], int(r.event_id), float(r.value))
        for r in ev[ev["event_type"] == "view"].itertuples()
    ]
    exp = {}
    for r in purchases.itertuples():
        lsec = secs[int(r.event_id)]
        best = None
        for rsec, vid, vv in views:
            if abs(rsec - lsec) <= 300:
                key = (abs(rsec - lsec), vid)
                if best is None or key < best[0]:
                    best = (key, vid, vv)
        exp[int(r.event_id)] = (best[1], best[2]) if best else None
    assert len(got) == len(purchases)
    for r in got.itertuples():
        want = exp[int(r.purchase_id)]
        if want is None:
            assert pd.isna(r.view_id)
        else:
            assert int(r.view_id) == want[0]
            assert float(r.view_value) == want[1]
    # law: the nearest match is within the +-300 s tolerance
    for r in got.itertuples():
        if pd.notna(r.view_id):
            assert abs(secs[int(r.purchase_id)] - secs[int(r.view_id)]) <= 300


def test_w3_gap_fill_downup_replay(spark):
    got = _run(spark, "w3_gap_fill")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet", columns=["event_id", "user_id", "ts", "value"]
    )
    assert len(got) == len(ev)
    exp = {}
    for uid, grp in ev.groupby("user_id"):
        grp = grp.sort_values(["ts", "event_id"])
        vals = [
            None if int(e) % 5 == 0 else float(v)
            for e, v in zip(grp["event_id"], grp["value"])
        ]
        # forward fill then backward fill
        last = None
        ff = []
        for v in vals:
            if v is not None:
                last = v
            ff.append(last)
        nxt = None
        for i in range(len(ff) - 1, -1, -1):
            if ff[i] is not None:
                nxt = ff[i]
            elif nxt is not None:
                ff[i] = nxt
        for eid, v in zip(grp["event_id"], ff):
            exp[int(eid)] = v
    for r in got.itertuples():
        want = exp[int(r.event_id)]
        if want is None:
            assert pd.isna(r.v_filled)
        else:
            assert float(r.v_filled) == want
    # law: filling never invents values — every filled value occurs among
    # the user's observed (non-nulled) readings
    obs = {
        int(u): set(
            float(v)
            for e, v in zip(
                ev.loc[ev["user_id"] == u, "event_id"], ev.loc[ev["user_id"] == u, "value"]
            )
            if int(e) % 5 != 0
        )
        for u in ev["user_id"].unique()
    }
    for r in got.itertuples():
        if pd.notna(r.v_filled):
            assert float(r.v_filled) in obs[int(r.user_id)]


# --- dp3/dp4/dp5/tx10: categorical profile, mixture, correlation, tf-idf ----


def test_dp3_categorical_profile_replay(spark):
    got = _run(spark, "dp3_categorical_profile").sort_values("column_name")
    orders = pd.read_parquet(
        f"{SF_SMOKE}/orders.parquet", columns=["o_orderstatus", "o_orderpriority"]
    )
    for r in got.itertuples():
        col = orders[r.column_name]
        cnt = col.value_counts()
        top_freq = int(cnt.max())
        top_value = min(v for v, c in cnt.items() if c == top_freq)
        assert int(r.n) == len(col)
        assert int(r.n_null) == int(col.isna().sum())
        assert float(r.null_frac) == _q6(int(col.isna().sum()) / len(col))
        assert int(r.n_distinct) == col.nunique()
        assert r.top_value == top_value
        assert int(r.top_freq) == top_freq
        # law: the mode's frequency is at least n/n_distinct
        assert top_freq * col.nunique() >= len(col) - int(col.isna().sum())
    assert set(got["column_name"]) == {"o_orderstatus", "o_orderpriority"}


def test_dp4_domain_mixture_replay(spark):
    import re as _re

    got = _run(spark, "dp4_domain_mixture").sort_values("source")
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["source", "text"])
    toks = docs["text"].map(lambda t: len(_re.split(r"\s+", t.strip())))
    agg = docs.assign(n_tok=toks).groupby("source").agg(
        n_docs=("n_tok", "size"), n_tokens=("n_tok", "sum")
    )
    total = float(agg["n_tokens"].sum())
    n_src = float(len(agg))
    assert len(got) == len(agg)
    for r in got.itertuples():
        e = agg.loc[r.source]
        assert int(r.n_docs) == int(e["n_docs"])
        assert int(r.n_tokens) == int(e["n_tokens"])
        assert float(r.actual_share) == _q6(int(e["n_tokens"]) / total)
        assert float(r.target_share) == _q6(1.0 / n_src)
        assert float(r.sample_weight) == _q6(
            min((total / n_src) / int(e["n_tokens"]), 4.0)
        )
    # laws: shares sum to ~1; upsampling is capped at 4x; a source above
    # its uniform target gets weight < 1
    assert abs(got["actual_share"].sum() - 1.0) <= len(got) * 1e-6
    assert (got["sample_weight"] <= 4.0).all()
    over = got["actual_share"] > got["target_share"]
    assert (got.loc[over, "sample_weight"] < 1.0 + 1e-6).all()


def test_dp5_correlation_matrix_replay(spark):
    got = _run(spark, "dp5_correlation_matrix")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    assert len(got) == 6
    for r in got.itertuples():
        x = li[r.col_a].astype(float)
        y = li[r.col_b].astype(float)
        # two-pass textbook Pearson r — a different algorithm than the
        # engines' one-pass co-moment accumulation
        mx, my = x.mean(), y.mean()
        r_exp = float(((x - mx) * (y - my)).sum()) / math.sqrt(
            float(((x - mx) ** 2).sum()) * float(((y - my) ** 2).sum())
        )
        assert abs(float(r.r) - math.floor(r_exp * 1e6 + 0.5) / 1e6) <= 2e-6
        # law: correlations live in [-1, 1]
        assert -1.0 - 1e-9 <= float(r.r) <= 1.0 + 1e-9
    # law: all 6 unordered pairs of the 4 columns appear exactly once
    assert len(set(zip(got["col_a"], got["col_b"]))) == 6


def test_tx10_tfidf_top_terms_replay(spark):
    from collections import Counter

    got = _run(spark, "tx10_tfidf_top_terms").sort_values(["doc_id", "rank"])
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"])
    tf = {}
    df = Counter()
    for r in docs.itertuples():
        c = Counter(r.text.lower().split(" "))
        tf[int(r.doc_id)] = c
        df.update(c.keys())
    n_docs = float(len(docs))
    exp_rows = []
    for d in sorted(tf):
        scored = sorted(
            (
                (-t * math.log(n_docs / df[w]), w, t)
                for w, t in tf[d].items()
            ),
        )
        for rank, (neg, w, t) in enumerate(scored[:3], start=1):
            exp_rows.append((d, w, t, _q6(-neg), rank))
    exp = pd.DataFrame(exp_rows, columns=["doc_id", "term", "tf", "tfidf", "rank"])
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["term"].tolist() == exp["term"].tolist()
    assert got["tf"].tolist() == exp["tf"].tolist()
    assert got["rank"].tolist() == exp["rank"].tolist()
    for g, e in zip(got["tfidf"], exp["tfidf"]):
        assert abs(float(g) - e) <= 1e-6 + 1e-12
    # law: a corpus-universal term (df = n_docs) has idf 0 and can only
    # surface when a document has fewer than 3 discriminative terms
    assert (got["tfidf"] >= -1e-9).all()


# --- mm1/u13/p3/sim8: roi features, PSD flags, dashboard, k-means -----------


def test_mm1_multimodal_features_replay(spark):
    got = _run(spark, "mm1_multimodal_features")
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet", columns=["o_orderkey"])
    keys = sorted(int(k) for k in orders["o_orderkey"] if k % 100 == 0)
    assert len(got) == len(keys)
    for r in got.itertuples():
        okey = int(r.sample)
        n = (okey % 50) + 1
        areas, bios, bys, pers = [], [], [], []
        for roi in range(1, n + 1):
            w, h = 8 + roi % 16, 8 + (roi * 3) % 16
            area = w * h * 0.7
            ed = math.sqrt(4.0 * area / math.pi)
            areas.append(area)
            bios.append(area * ed * 0.5)
            bys.append(w * h)
            pers.append(2.0 * (w + h))
        assert int(r.n_rois) == n
        assert abs(float(r.total_area) - math.floor(sum(areas) * 1e4 + 0.5) / 1e4) <= 1e-4
        assert abs(float(r.total_biovolume) - math.floor(sum(bios) * 1e4 + 0.5) / 1e4) <= 1e-4
        assert int(r.total_bytes) == sum(bys)
        assert float(r.max_perimeter) == math.floor(max(pers) * 1e4 + 0.5) / 1e4
    # law: biovolume grows superlinearly in area (every ROI contributes
    # area^1.5-scaled volume), so total_biovolume > total_area whenever
    # the equivalent diameter exceeds 2
    assert (got["total_biovolume"] > got["total_area"]).all()


def test_u13_psd_fit_full_replay(spark):
    from collections import Counter, defaultdict

    from ifcb_data_pipeline_spark.operators.psd import (
        PROFILE_INGEST,
        PROFILE_PIPELINE,
    )

    got = _run(spark, "u13_psd_fit").sort_values("sample")
    li = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_suppkey", "l_quantity", "l_discount", "l_returnflag", "l_tax"],
    )
    hist = defaultdict(Counter)
    for r in li.itertuples():
        b = int(math.floor(float(r.l_quantity) * 30.0 / 5.0))
        if b >= 15:
            hist[int(r.l_suppkey)][b] += 1
    exp = {}
    for s, grp in li.groupby("l_suppkey"):
        h = hist[int(s)]
        if len(h) < 3:
            continue
        xs = [math.log10(b) for b in h]
        ys = [math.log10(h[b]) for b in h]
        nb = len(xs)
        mx, my = sum(xs) / nb, sum(ys) / nb
        vx = sum((x - mx) ** 2 for x in xs) / nb
        vy = sum((y - my) ** 2 for y in ys) / nb
        cxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / nb
        if vx <= 0:
            continue
        afit = 10.0 ** (my - (cxy / vx) * mx)
        kfit = cxy / vx
        r2 = (cxy * cxy) / (vx * vy) if vy > 0 else None
        max_n = max(h.values())
        peak_bin = min(b for b, n in h.items() if n == max_n)
        avg_n = sum(h.values()) / len(h)
        triggers = len(grp) * 25.0
        ml = float(grp["l_discount"].astype(float).mean()) * 100.0
        cell_ratio = float((grp["l_returnflag"] == "N").mean())
        biomass = float(grp["l_tax"].astype(float).mean()) * 100000.0
        humidity = (int(s) * 37) % 100

        def flags(p):
            out = []
            if r2 is not None and r2 < p.r_sqr:
                out.append("Poor fit")
            if afit > p.beads:
                out.append("Beads")
            if peak_bin * 5.0 * p.micron_factor >= p.bubbles:
                out.append("Bubbles")
            if triggers < p.incomplete[0] or ml < p.incomplete[1]:
                out.append("Incomplete Run")
            if cell_ratio < p.missing_cells:
                out.append("Missing cells")
            if biomass < p.biomass:
                out.append("Biomass")
            if max_n > p.bloom * avg_n:
                out.append("Bloom")
            if humidity > p.humidity:
                out.append("Humidity")
            return ", ".join(out) or None

        exp[int(s)] = (
            len(h), afit, kfit, r2, flags(PROFILE_PIPELINE), flags(PROFILE_INGEST)
        )
    assert len(got) == len(exp)
    for r in got.itertuples():
        nb, afit, kfit, r2, fp, fi = exp[int(r.sample)]
        assert int(r.n_bins) == nb
        assert abs(float(r.a) - afit) <= 2e-6 + 2e-6 * abs(afit)
        assert abs(float(r.k) - kfit) <= 2e-6
        if r2 is None:
            assert pd.isna(r.r_sqr)
        else:
            assert abs(float(r.r_sqr) - r2) <= 2e-6
            # law: r^2 of a straight-line fit is in [0, 1]
            assert -1e-9 <= float(r.r_sqr) <= 1.0 + 1e-9
        assert (r.flag_pipeline if pd.notna(r.flag_pipeline) else None) == fp
        assert (r.flag_ingest if pd.notna(r.flag_ingest) else None) == fi
    # law: the synthetic quantity histogram is near-uniform in log-log
    # space, so fits hover around slope 0 with weak explanatory power —
    # a runaway estimator (|k| blowing up) would break this bound
    assert got["k"].abs().max() < 2.0
    assert got["r_sqr"].max() <= 1.0 + 1e-9


def test_p3_dashboard_metadata_replay(spark):
    got = _run(spark, "p3_dashboard_metadata")
    ev = pd.read_parquet(
        f"{SF_SMOKE}/events.parquet",
        columns=["event_id", "ts", "user_id", "event_type", "value"],
    )
    cruises = {}
    for g, grp in ev.groupby(ev["user_id"] % 20):
        start = grp["ts"].min()
        cruises[int(g)] = (start, start + pd.Timedelta(days=3))
    exp_rows = []
    for r in ev.itertuples():
        stale = float(r.value) * 20 > 600
        lat = None if stale else 54.0 + (int(r.user_id) % 600) / 100.0
        lon = None if stale else 10.0 + (int(r.user_id) % 1200) / 100.0
        hits = sorted(c for c, (s, e) in cruises.items() if s <= r.ts <= e) or [None]
        for c in hits:
            exp_rows.append(
                (
                    int(r.event_id),
                    _bin_id(r.ts, r.user_id),
                    lat,
                    lon,
                    r.event_type == "error",
                    c,
                    None if lat is None else f"basin_{int(math.floor(lat / 0.25))}",
                    lat is None,
                )
            )
    exp = sorted(exp_rows, key=lambda t: (t[0], -1 if t[5] is None else t[5]))
    g = got.sort_values(
        ["event_id", "cruise_no"], na_position="first"
    ).reset_index(drop=True)
    assert len(g) == len(exp)
    for i, (eid, sample, lat, lon, qc, cruise, basin, skip) in enumerate(exp):
        r = g.iloc[i]
        assert int(r["event_id"]) == eid
        assert r["sample"] == sample
        if lat is None:
            assert pd.isna(r["latitude"]) and pd.isna(r["longitude"])
            assert pd.isna(r["basin"]) and bool(r["skip"])
        else:
            assert float(r["latitude"]) == lat and float(r["longitude"]) == lon
            assert r["basin"] == basin and not bool(r["skip"])
        assert bool(r["qc_bad"]) == qc
        if cruise is None:
            assert pd.isna(r["cruise_no"])
        else:
            assert int(r["cruise_no"]) == cruise
    # law: skip is exactly the GPS-stale set
    assert (g["skip"] == g["latitude"].isna()).all()


def test_sim8_kmeans_numpy_replay(spark):
    import numpy as np

    got = _run(spark, "sim8_kmeans_refine").sort_values(["cell", "dim"])
    emb = pd.read_parquet(
        f"{SF_SMOKE}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    vecs = {int(r.vec_id): np.array(r.embedding, dtype=np.float64) for r in emb.itertuples()}
    cents = {k: vecs[k].copy() for k in range(8)}
    out = None
    for _ in range(2):
        assign = {}
        for vid, v in vecs.items():
            best = None
            for c, cv in sorted(cents.items()):
                d2 = float(v @ v) - 2 * float(v @ cv) + float(cv @ cv)
                if best is None or d2 < best[0] - 1e-12:
                    best = (d2, c)
            assign[vid] = best[1]
        out = {}
        for c in sorted(cents):
            members = [vecs[v] for v, cc in assign.items() if cc == c]
            if members:
                mean = np.mean(members, axis=0)
                out[c] = np.floor(mean * 1e6 + 0.5) / 1e6
        cents = out
    exp_rows = []
    for c in sorted(out):
        for d in range(64):
            exp_rows.append((c, d, out[c][d]))
    assert len(got) == len(exp_rows)
    for r, (c, d, v) in zip(got.itertuples(), exp_rows):
        assert int(r.cell) == c and int(r.dim) == d
        # mean accumulation order differs; one quantization grid unit
        assert abs(float(r.centroid) - v) <= 1e-6 + 1e-9
    # law: every refined centroid stays inside the data's bounding box
    lo = np.min([v for v in vecs.values()], axis=0)
    hi = np.max([v for v in vecs.values()], axis=0)
    for c in out:
        assert (out[c] >= lo - 1e-6).all() and (out[c] <= hi + 1e-6).all()


# --- dd20/a28/a29/st9: substring dedup, HLL, count-min, join-state audit ---


def _dround(x: float, d: int) -> float:
    f = float(10.0**d)
    return math.floor(x * f + 0.5) / f


def test_dd20_bruteforce_gram_replay(spark):
    got = (
        REGISTRY["dd20_exact_substring_dedup"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    k = 40
    by_gram: dict[str, set[int]] = {}
    positions: dict[int, list[int]] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        if len(text) < k:
            continue
        for i in range(len(text) - k + 1):
            by_gram.setdefault(text[i : i + k], set()).add(int(doc_id))
    dup_grams = {g for g, ds in by_gram.items() if len(ds) >= 2}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        ps = [
            i
            for i in range(max(0, len(text) - k + 1))
            if text[i : i + k] in dup_grams
        ]
        if ps:
            positions[int(doc_id)] = ps

    assert set(got.index) == set(positions)
    for doc_id, ps in positions.items():
        text_len = int(docs.loc[docs["doc_id"] == doc_id, "n_chars"].iloc[0])
        # exact union-of-intervals coverage, independently via a char set
        covered = set()
        for p in ps:
            covered.update(range(p, p + k))
        row = got.loc[doc_id]
        assert row["n_dup_positions"] == len(ps)
        assert row["first_pos"] == min(ps)
        assert row["n_dup_chars"] == len(covered)
        assert row["dup_frac"] == _dround(len(covered) / text_len, 6)
        assert bool(row["flag_dup"]) == (len(covered) * 5 >= text_len)
        # structural bounds: k <= coverage <= min(len, n_positions * k)
        assert k <= row["n_dup_chars"] <= min(text_len, len(ps) * k)


def _hll_replay(keys) -> tuple[float, int]:
    m, regs = 64, [0] * 64
    for key in keys:
        h = _h32(f"c{key}")
        b, w = h % m, h // m
        rho = 27 if w == 0 else 27 - w.bit_length()
        regs[b] = max(regs[b], rho)
    used = sum(1 for r in regs if r > 0)
    z = sum(2.0 ** -r for r in regs)
    e_raw = 0.709 * m * m / z
    v = m - used
    if e_raw <= 2.5 * m and v > 0:
        return m * math.log(m / v), used
    return e_raw, used


def test_a28_hashlib_hll_replay(spark):
    got = REGISTRY["a28_hll_distinct_sketch"].fn(spark, SF_SMOKE).toPandas()
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    months = orders["o_orderdate"].astype("datetime64[ns]").dt.strftime("%Y-%m")
    for month, grp in orders.groupby(months):
        est, used = _hll_replay(grp["o_custkey"])
        exact = grp["o_custkey"].nunique()
        row = got.loc[got["month"] == month].iloc[0]
        assert row["exact_distinct"] == exact
        assert row["n_buckets_used"] == used
        est_u = math.floor(est * 10000.0 + 0.5)  # the op's 1e-4 quantization
        assert row["hll_estimate"] == est_u / 10000.0
        assert row["rel_err_pct"] == _dround(
            (est_u - 10000 * exact) / (100.0 * exact), 4
        )
        # HLL family laws: estimate positive; used <= min(m, exact) —
        # registers only fill from actual keys
        assert row["hll_estimate"] > 0
        assert row["n_buckets_used"] <= min(64, exact)
    assert len(got) == months.nunique()


def test_a28_register_monotone_under_subset():
    # structural law, data-free: adding keys can only grow registers,
    # so `used` is monotone and the raw-branch estimate is monotone in
    # the registers
    keys = [f"k{i}" for i in range(200)]
    _, used_half = _hll_replay(keys[:100])
    _, used_full = _hll_replay(keys)
    assert used_half <= used_full


def test_a28_linear_counting_ln_parity_exhaustive(spark, duck):
    """a28's small-range correction is `64 * ln(64 / v)` with v in 1..63
    — a FINITE transcendental input domain, so the JVM-vs-libm one-ulp
    hazard (the documented Math.pow(10,-5) divergence class, SCALE.md)
    is checkable exhaustively rather than probabilistically.  The check
    FOUND real divergence: JVM Math.log is 1 ulp off libm (= CPython =
    DuckDB) at v in {21, 23, 26, 35, 40, 52} — which is why a28
    quantizes the estimate to integer 1e-4 units (e_u) before both
    output columns.  This test certifies the full safety argument for
    every possible input: (a) the three engines agree within 1 ulp,
    (b) floor(e*1e4+0.5) is stable under ±2 ulp around EACH engine's
    value, and (c) the resulting e_u is identical across engines — so
    a28's outputs are bit-deterministic for any data whatsoever."""
    import math
    import struct

    def bits(x: float) -> int:
        return struct.unpack("<q", struct.pack("<d", x))[0]

    def of_bits(b: int) -> float:
        return struct.unpack("<d", struct.pack("<q", b))[0]

    rows = spark.range(1, 64).selectExpr(
        "id AS v", "64.0 * ln(64.0 / cast(id AS double)) AS e"
    ).collect()
    sp = {r["v"]: r["e"] for r in rows}
    du = dict(
        duck.execute(
            "SELECT v, 64.0 * ln(64.0 / v::DOUBLE) FROM"
            " (SELECT unnest(range(1, 64)) AS v)"
        ).fetchall()
    )
    known_divergent = {21, 23, 26, 35, 40, 52}
    for v in range(1, 64):
        py = 64.0 * math.log(64.0 / v)
        vals = (sp[v], py, du[v])
        spread = max(bits(x) for x in vals) - min(bits(x) for x in vals)
        assert spread <= 1, (v, vals)
        if spread:
            assert v in known_divergent, f"NEW divergent input v={v}: {vals}"
        e_us = set()
        for x in vals:
            base = math.floor(x * 10000.0 + 0.5)
            e_us.add(base)
            for ulps in (-2, -1, 1, 2):
                nudged = math.floor(of_bits(bits(x) + ulps) * 10000.0 + 0.5)
                assert nudged == base, (v, x, ulps)
        assert len(e_us) == 1, (v, e_us)


def test_a29_hashlib_cms_replay_and_one_sided_law(spark):
    got = REGISTRY["a29_cms_heavy_hitters"].fn(spark, SF_SMOKE).toPandas()
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    n = len(events)
    counters: dict[tuple[int, int], int] = {}
    for uid in events["user_id"]:
        for r in range(3):
            b = _h32(f"r{r}|{uid}") % 256
            counters[(r, b)] = counters.get((r, b), 0) + 1
    exact = events.groupby("user_id").size()
    assert set(got["user_id"]) == set(exact.index)
    for _, row in got.iterrows():
        uid = row["user_id"]
        est = min(counters[(r, _h32(f"r{r}|{uid}") % 256)] for r in range(3))
        assert row["n_exact"] == exact[uid]
        assert row["n_est"] == est
        assert row["overestimate"] == est - exact[uid]
        # CM's defining one-sided guarantee
        assert row["n_est"] >= row["n_exact"]
        assert bool(row["is_heavy_hitter"]) == (est * 100 >= n)
    # conservation: each CM row's counters sum to exactly N
    for r in range(3):
        assert sum(v for (rr, _), v in counters.items() if rr == r) == n


def test_st9_nested_loop_replay_and_monotone_loss(spark):
    got = (
        REGISTRY["st9_join_state_audit"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("delay_s")
        .sort_index()
    )
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev = events[["user_id", "event_type", "ts"]].copy()
    ev["us"] = ev["ts"].astype("datetime64[ns]").astype("int64") // 1000
    gaps = []
    for _, grp in ev.groupby("user_id"):
        clicks = grp.loc[grp["event_type"] == "click", "us"]
        views = grp.loc[grp["event_type"] == "view", "us"]
        for c in clicks:
            for v in views:
                if v <= c < v + 600_000_000:
                    gaps.append(c - v)
    for d in (60, 180, 600):
        lost = sum(1 for g in gaps if g > d * 1_000_000)
        row = got.loc[d]
        assert row["n_pairs"] == len(gaps)
        assert row["n_retained"] == len(gaps) - lost
        assert row["n_lost"] == lost
        assert row["loss_frac"] == _dround(lost / len(gaps), 6)
        assert row["max_gap_s"] == max(gaps) // 1_000_000
        assert row["mean_gap_s"] == _dround(sum(gaps) / len(gaps) / 1e6, 4)
    # retention is monotone in the delay, and the 600s delay (= the join
    # window) loses nothing by construction
    assert got["n_lost"].tolist() == sorted(got["n_lost"].tolist(), reverse=True)
    assert got.loc[600, "n_lost"] == 0


# --- tx16/pk4/w13/sim13: bigram vocab, CDC chunks, MAD gate, int8 quantization ---


def test_tx16_counter_replay_and_bite(spark):
    # Contract since the r12-verdict fix: min-count cut on the EXACT
    # bigram (Counter), membership via the fixed 2^22 md5-prefix hash
    # buckets (the sp8 template) — replayed here with hashlib,
    # independent of Spark's md5/conv pipeline.
    from ifcb_data_pipeline_spark.queries.text import TX16_BUCKETS

    got = (
        REGISTRY["tx16_bigram_vocab_coverage"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("lang")
        .sort_index()
    )
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    per_lang: dict[str, list[str]] = {}
    en_counts: Counter = Counter()
    for lang, text in zip(docs["lang"], docs["text"]):
        toks = text.split(" ")
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        per_lang.setdefault(lang, []).extend(bgs)
        if lang == "en":
            en_counts.update(bgs)
    vocab_hb = {_h32(bg) % TX16_BUCKETS for bg, c in en_counts.items() if c >= 3}

    assert set(got.index) == set(per_lang)
    for lang, bgs in per_lang.items():
        inv = sum(1 for bg in bgs if _h32(bg) % TX16_BUCKETS in vocab_hb)
        oov_types = len({bg for bg in bgs if _h32(bg) % TX16_BUCKETS not in vocab_hb})
        row = got.loc[lang]
        assert row["n_bigrams"] == len(bgs)
        assert row["n_in_vocab"] == inv
        assert row["oov_types"] == oov_types
        assert row["coverage"] == _dround(inv / len(bgs), 6)
        # vocabulary trained on en only -> coverage is a true fraction
        assert 0.0 < row["coverage"] <= 1.0
    # the min-count cut bites: some OOV mass exists somewhere
    assert (got["oov_types"] > 0).any()
    assert (got["coverage"] < 1.0).any()


def _cdc_chunks(text: str) -> list[str]:
    starts = [0]
    if len(text) >= 9:
        for p in range(1, len(text) - 7):
            if _h32(text[p : p + 8]) % 32 == 0:
                starts.append(p)
    bounds = starts + [len(text)]
    return [text[a:b] for a, b in zip(bounds, bounds[1:])]


def test_pk4_hashlib_replay_conservation_and_bite(spark):
    got = (
        REGISTRY["pk4_cdc_chunking"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    chunks_by_doc = {
        int(doc_id): _cdc_chunks(text)
        for doc_id, text in zip(docs["doc_id"], docs["text"])
    }
    corpus_counts: Counter = Counter()
    for chunks in chunks_by_doc.values():
        corpus_counts.update(chunks)

    assert set(got.index) == set(chunks_by_doc)
    any_shared = False
    for doc_id, chunks in chunks_by_doc.items():
        text = docs.loc[docs["doc_id"] == doc_id, "text"].iloc[0]
        # conservation: CDC chunking is a partition of the document
        assert "".join(chunks) == text
        shared = [c for c in chunks if corpus_counts[c] >= 2]
        row = got.loc[doc_id]
        assert row["n_chunks"] == len(chunks)
        assert row["max_chunk_len"] == max(len(c) for c in chunks)
        assert row["mean_chunk_len"] == _dround(len(text) / len(chunks), 4)
        assert row["n_shared_chunks"] == len(shared)
        assert row["shared_chars"] == sum(len(c) for c in shared)
        assert row["dup_frac"] == _dround(sum(len(c) for c in shared) / len(text), 6)
        assert 0 <= row["shared_chars"] <= len(text)
        any_shared = any_shared or bool(shared)
    # the dedup accounting bites on this corpus
    assert any_shared


def test_pk4_boundary_locality_law():
    # CDC's defining property: an edit inside one chunk leaves every
    # boundary outside the 8-gram horizon of the edit untouched
    text = "the quick brown fox jumps over the lazy dog " * 20
    edited = text[:200] + "X" + text[201:]
    b_orig = {p for p in range(1, len(text) - 7) if _h32(text[p : p + 8]) % 32 == 0}
    b_edit = {p for p in range(1, len(edited) - 7) if _h32(edited[p : p + 8]) % 32 == 0}
    far = {p for p in b_orig if p < 193 or p > 208}
    assert far == {p for p in b_edit if p < 193 or p > 208}


def test_w13_order_statistic_replay_and_laws(spark):
    got = (
        REGISTRY["w13_mad_anomaly"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    total_anom = 0
    assert set(got.index) == set(events["user_id"].unique())
    for uid, grp in events.groupby("user_id"):
        rows = sorted(zip(grp["value"], grp["event_id"]))
        n = len(rows)
        med = rows[(n + 1) // 2 - 1][0]
        devs = sorted(
            (abs(v - med), eid) for v, eid in zip(grp["value"], grp["event_id"])
        )
        mad = devs[(n + 1) // 2 - 1][0]
        n_anom = sum(1 for d, _ in devs if d > 3.0 * mad)
        row = got.loc[uid]
        assert row["n_events"] == n
        assert row["med_value"] == med  # exact: an order statistic is a data value
        assert row["mad_value"] == mad
        assert row["n_anomalies"] == n_anom
        assert row["anomaly_frac"] == _dround(n_anom / n, 6)
        # family laws
        assert mad >= 0.0
        assert grp["value"].min() <= med <= grp["value"].max()
        assert row["n_anomalies"] < n  # the median itself can never be anomalous
        total_anom += n_anom
    assert total_anom > 0  # the gate bites on this corpus


def test_sim13_ieee_exact_replay_and_laws(spark):
    got = (
        REGISTRY["sim13_int8_quant_error"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    vecs = {
        int(v): [float(x) for x in e] for v, e in zip(emb["vec_id"], emb["embedding"])
    }
    d = len(next(iter(vecs.values())))
    scales = [max(abs(vec[i]) for vec in vecs.values()) for i in range(d)]

    def q(x, s):
        if s <= 0:
            return 0
        return max(-127, min(127, math.floor(x * 127.0 / s + 0.5)))

    sat_total = 0
    for vec_id, vec in vecs.items():
        qv = [q(x, s) for x, s in zip(vec, scales)]
        rx = [qi * s / 127.0 for qi, s in zip(qv, scales)]
        se2 = sum(math.floor((x - r) * (x - r) * 1e12 + 0.5) for x, r in zip(vec, rx))
        sxr = sum(math.floor(x * r * 1e12 + 0.5) for x, r in zip(vec, rx))
        sxx = sum(math.floor(x * x * 1e12 + 0.5) for x in vec)
        srr = sum(math.floor(r * r * 1e12 + 0.5) for r in rx)
        n_sat = sum(1 for qi in qv if abs(qi) == 127)
        row = got.loc[vec_id]
        assert row["n_dims"] == d
        assert row["n_saturated"] == n_sat
        assert row["mse_q"] == _dround(se2 * 1.0 / 1e12 / d, 12)
        assert row["cos_sim_q"] == _dround(sxr / math.sqrt(float(sxx) * float(srr)), 6)
        # family laws: faithful reconstruction at int8 granularity
        assert 0.0 <= row["mse_q"] < (max(scales) / 254.0) ** 2 + 1e-12
        assert row["cos_sim_q"] <= 1.0 + 1e-6  # Cauchy-Schwarz (+pico-grid slack)
        assert row["cos_sim_q"] > 0.99  # int8 keeps cosine fidelity
        sat_total += n_sat
    # every dimension's max-|x| achiever saturates to ±127 by construction
    assert sat_total >= d


def test_sim13_scale_invariance_law():
    # quantization is scale-free: doubling a dimension doubles its scale
    # and leaves every q untouched (structural, data-free)
    xs = [0.31, -0.5, 0.02, 0.499999]
    s = max(abs(x) for x in xs)

    def q(x, sc):
        return max(-127, min(127, math.floor(x * 127.0 / sc + 0.5)))

    assert [q(2 * x, 2 * s) for x in xs] == [q(x, s) for x in xs]


# --- i13/sp12/w14/o10: incremental MinHash, grouped split, Spearman, zone maps ---


def _shingles(text: str) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def test_i13_hashlib_replay_and_merge_law(spark):
    got = (
        REGISTRY["i13_incremental_minhash"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index(["lang_a", "lang_b"])
        .sort_index()
    )
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    full: dict[str, set[str]] = defaultdict(set)
    base: dict[str, set[str]] = defaultdict(set)
    delta: dict[str, set[str]] = defaultdict(set)
    for doc_id, lang, text in zip(docs["doc_id"], docs["lang"], docs["text"]):
        sh = _shingles(text)
        full[lang] |= sh
        (base if doc_id % 10 != 0 else delta)[lang] |= sh

    def sig(shingles: set[str]) -> list[int]:
        return [
            min(_h32(f"{p}|{s}") for s in shingles) for p in range(_I13_PERMS)
        ]

    fsig = {lang: sig(s) for lang, s in full.items()}
    # the maintenance law, proven independently: least-merge of slice
    # signatures equals the recomputed full signature
    for lang in full:
        merged = [
            min(
                a if a is not None else b,
                b if b is not None else a,
            )
            for a, b in zip(
                sig(base[lang]) if base[lang] else [None] * _I13_PERMS,
                sig(delta[lang]) if delta[lang] else [None] * _I13_PERMS,
            )
        ]
        assert merged == fsig[lang]

    langs = sorted(full)
    expected_pairs = {(a, b) for i, a in enumerate(langs) for b in langs[i + 1 :]}
    assert set(got.index) == expected_pairs
    for (a, b), row in got.iterrows():
        agree = sum(1 for x, y in zip(fsig[a], fsig[b]) if x == y)
        inter = len(full[a] & full[b])
        union = len(full[a] | full[b])
        assert row["n_perms"] == _I13_PERMS
        assert row["n_agree"] == agree
        assert row["jaccard_est"] == _dround(agree / _I13_PERMS, 6)
        assert row["n_inter"] == inter
        assert row["n_union"] == union
        assert row["jaccard_exact"] == _dround(inter / union, 6)
        assert bool(row["merged_equals_full"])
        # family laws
        assert 0.0 <= row["jaccard_est"] <= 1.0
        assert inter <= min(len(full[a]), len(full[b]))


def test_sp12_replay_partition_law_and_planted_leak(spark):
    got = (
        REGISTRY["sp12_grouped_split_balance"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("split")
        .sort_index()
    )
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")

    def split_of(uid: int) -> str:
        h = _h32(f"u{uid}") % 100
        return "train" if h < 80 else ("val" if h < 90 else "test")

    events = events.assign(
        split=[split_of(u) for u in events["user_id"]],
        cents=[math.floor(v * 100.0 + 0.5) for v in events["value"]],
    )
    n_total = len(events)
    assert set(got.index) == set(events["split"].unique())
    for split, grp in events.groupby("split"):
        row = got.loc[split]
        assert row["n_users"] == grp["user_id"].nunique()
        assert row["n_events"] == len(grp)
        assert row["event_share"] == _dround(len(grp) / n_total, 6)
        assert row["mean_value"] == _dround(grp["cents"].sum() / len(grp) / 100.0, 4)
        assert row["click_share"] == _dround(
            (grp["event_type"] == "click").sum() / len(grp), 6
        )
        assert row["n_straddling_users"] == 0  # group atomicity, from the data
    # partition law: split user sets are disjoint and exhaustive
    assert got["n_users"].sum() == events["user_id"].nunique()
    assert got["n_events"].sum() == n_total
    # planted leak: a ROW-level split (hash of event_id) straddles — the
    # audit's straddle metric is sensitive to exactly the regression it
    # guards against
    by_user = defaultdict(set)
    for eid, uid in zip(events["event_id"], events["user_id"]):
        h = _h32(f"u{eid}") % 100
        by_user[uid].add("train" if h < 80 else ("val" if h < 90 else "test"))
    assert sum(1 for s in by_user.values() if len(s) > 1) > 0


def test_w14_rank_replay_and_laws(spark):
    got = (
        REGISTRY["w14_spearman_trend"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    assert set(got.index) == set(events["user_id"].unique())
    for uid, grp in events.groupby("user_id"):
        recs = list(zip(grp["ts"], grp["event_id"], grp["value"]))
        by_t = sorted(recs, key=lambda r: (r[0], r[1]))
        by_v = sorted(recs, key=lambda r: (r[2], r[1]))
        rt = {r[1]: i + 1 for i, r in enumerate(by_t)}
        rv = {r[1]: i + 1 for i, r in enumerate(by_v)}
        n = len(recs)
        d2 = sum((rt[e] - rv[e]) ** 2 for _, e, _ in recs)
        den = n * (n * n - 1)
        row = got.loc[uid]
        assert row["n_events"] == n
        assert row["sum_d2"] == d2
        assert row["spearman_rho"] == _dround(1.0 - (6 * d2) * 1.0 / den, 6)
        expected = "up" if 60 * d2 < 7 * den else ("down" if 60 * d2 > 13 * den else "flat")
        assert row["trend"] == expected
        assert -1.0 <= row["spearman_rho"] <= 1.0


def test_w14_monotone_series_law():
    # data-free: a perfectly monotone series has d2 = 0 and rho = 1; a
    # perfectly reversed one has the maximum d2 = (n^3 - n)/3 and rho = -1
    for n in (2, 5, 86):
        up = sum((i - i) ** 2 for i in range(1, n + 1))
        down = sum((i - (n + 1 - i)) ** 2 for i in range(1, n + 1))
        den = n * (n * n - 1)
        assert up == 0 and 1.0 - 6 * up / den == 1.0
        assert down == (n**3 - n) // 3 and 1.0 - 6 * down / den == -1.0


def test_o10_sort_slice_replay_and_clustering_law(spark):
    got = (
        REGISTRY["o10_file_skipping_stats"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index(["layout", "threshold"])
        .sort_index()
    )
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    n = len(docs)
    L = _O10_FILE_DOCS
    layouts = {
        "natural": {int(d): int(d) // L for d in docs["doc_id"]},
        "clustered": {
            int(d): i // L
            for i, (_, d) in enumerate(
                sorted(zip(docs["n_chars"], docs["doc_id"]))
            )
        },
    }
    for layout, file_of in layouts.items():
        files = defaultdict(list)
        for d, nc in zip(docs["doc_id"], docs["n_chars"]):
            files[file_of[int(d)]].append(int(nc))
        for t in _O10_THRESHOLDS:
            scanned = [f for f, ncs in files.items() if max(ncs) >= t]
            rows_scanned = sum(len(files[f]) for f in scanned)
            matched = int((docs["n_chars"] >= t).sum())
            row = got.loc[(layout, t)]
            assert row["n_files"] == len(files)
            assert row["n_files_scanned"] == len(scanned)
            assert row["n_rows_scanned"] == rows_scanned
            assert row["n_rows_matched"] == matched
            assert row["skip_ratio"] == _dround(1.0 - len(scanned) / len(files), 6)
            assert row["scan_efficiency"] == _dround(
                matched / rows_scanned if rows_scanned else 0.0, 6
            )
    # the clustering payoff, as laws: under the sorted layout the matching
    # rows are a contiguous suffix, so files-scanned hits the minimum
    # ceil-boundary formula and can never exceed the natural layout's
    for t in _O10_THRESHOLDS:
        m = int((docs["n_chars"] >= t).sum())
        clu, nat = got.loc[("clustered", t)], got.loc[("natural", t)]
        expected = 0 if m == 0 else (n - 1) // L - (n - m) // L + 1
        assert clu["n_files_scanned"] == expected
        assert clu["n_files_scanned"] <= nat["n_files_scanned"]
        assert clu["scan_efficiency"] >= nat["scan_efficiency"]


# --- a30/j18/w15/dp13: KMV sketch, Bloom pre-filter, KS test, Benford audit ---


def test_a30_hashlib_kmv_replay(spark):
    got = (
        REGISTRY["a30_bottomk_distinct_sample"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("month")
        .sort_index()
    )
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    months = orders["o_orderdate"].astype("datetime64[ns]").dt.strftime("%Y-%m")
    for month, grp in orders.groupby(months):
        hs = sorted({_h32(f"c{k}") for k in grp["o_custkey"]})
        exact = grp["o_custkey"].nunique()
        if len(hs) >= _A30_K and hs[_A30_K - 1] > 0:
            est = (_A30_K - 1) * 4294967296.0 / hs[_A30_K - 1]
            kth = hs[_A30_K - 1]
        else:
            est, kth = float(len(hs)), None
        row = got.loc[month]
        assert row["exact_distinct"] == exact
        assert row["n_distinct_hashes"] == len(hs)
        assert (pd.isna(row["kth_hash"]) and kth is None) or row["kth_hash"] == kth
        assert row["kmv_estimate"] == _dround(est, 4)
        assert row["rel_err_pct"] == _dround((est - exact) * 100.0 / exact, 4)
        # hashing can only merge keys, never invent them
        assert row["n_distinct_hashes"] <= exact
        assert row["kmv_estimate"] > 0
    assert len(got) == months.nunique()


def test_a30_estimate_monotone_law():
    # data-free: adding keys can only lower the k-th smallest hash, so
    # the KMV estimate is monotone nondecreasing under set growth
    keys = [f"k{i}" for i in range(200)]

    def est(ks):
        hs = sorted({_h32(k) for k in ks})
        return (_A30_K - 1) * 4294967296.0 / hs[_A30_K - 1]

    assert est(keys) >= est(keys[:100])


def test_j18_set_replay_and_no_false_negatives(spark):
    got = (
        REGISTRY["j18_bloom_join_prefilter"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index("nationkey")
        .sort_index()
    )
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    customer = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")
    build = {
        int(k)
        for k, dte in zip(orders["o_custkey"], orders["o_orderdate"])
        if pd.Timestamp(dte).year == 1995
    }
    bits = {
        _h32(f"b{i}|{k}") % _J18_M for k in build for i in range(_J18_HASHES)
    }

    def passes(k: int) -> bool:
        return all(
            _h32(f"b{i}|{k}") % _J18_M in bits for i in range(_J18_HASHES)
        )

    per = defaultdict(lambda: [0, 0, 0, 0])  # n, true, pass, fp
    for k, nk in zip(customer["c_custkey"], customer["c_nationkey"]):
        k, nk = int(k), int(nk)
        t, p = k in build, passes(k)
        # the defining guarantee, key by key: membership implies pass
        assert p or not t
        per[nk][0] += 1
        per[nk][1] += t
        per[nk][2] += p
        per[nk][3] += p and not t
    assert set(got.index) == set(per)
    for nk, (n, t, p, fp) in per.items():
        row = got.loc[nk]
        assert row["n_customers"] == n
        assert row["n_true"] == t
        assert row["n_pass"] == p
        assert row["n_false_pos"] == fp
        assert bool(row["no_false_negatives"])
        assert row["n_pass"] >= row["n_true"]
        assert row["fp_rate"] == _dround(fp / (n - t) if n > t else 0.0, 6)


def test_w15_bruteforce_replay_and_laws(spark):
    got = REGISTRY["w15_ks_two_sample"].fn(spark, SF_SMOKE).toPandas().iloc[0]
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    a = sorted(
        math.floor(v * 100.0 + 0.5)
        for v, t in zip(events["value"], events["event_type"])
        if t == "click"
    )
    b = sorted(
        math.floor(v * 100.0 + 0.5)
        for v, t in zip(events["value"], events["event_type"])
        if t == "view"
    )
    n1, n2 = len(a), len(b)
    pts = sorted(set(a) | set(b))
    best_num, best_at = -1, None
    for x in pts:
        ca = sum(1 for v in a if v <= x)
        cb = sum(1 for v in b if v <= x)
        num = abs(ca * n2 - cb * n1)
        if num > best_num:
            best_num, best_at = num, x
    d = best_num / (n1 * n2)
    assert got["n1"] == n1 and got["n2"] == n2
    assert got["d_stat"] == _dround(d, 6)
    assert got["d_location"] == best_at / 100.0
    crit = 1.358 * math.sqrt((n1 + n2) / (n1 * n2))
    assert bool(got["reject_at_5pct"]) == (d > crit)
    assert 0.0 <= got["d_stat"] <= 1.0


def test_w15_self_distribution_law():
    # data-free: KS of a sample against itself is exactly 0
    a = [3, 7, 7, 12, 90]
    n = len(a)
    assert max(
        abs(sum(1 for v in a if v <= x) * n - sum(1 for v in a if v <= x) * n)
        for x in set(a)
    ) == 0


def test_dp13_log10_replay_and_unit_mass(spark):
    got = (
        REGISTRY["dp13_leading_digit_audit"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .set_index(["event_type", "digit"])
        .sort_index()
    )
    events = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    digits = defaultdict(Counter)
    for t, v in zip(events["event_type"], events["value"]):
        cents = math.floor(v * 100.0 + 0.5)
        if cents > 0:
            digits[t][int(str(cents)[0])] += 1
    expected_index = {
        (t, d) for t, c in digits.items() for d in c
    }
    assert set(got.index) == expected_index
    for (t, d), row in got.iterrows():
        n = sum(digits[t].values())
        obs = digits[t][d]
        p = math.log10((d + 1) / d)
        assert 1 <= d <= 9
        assert row["observed"] == obs
        assert row["observed_share"] == _dround(obs / n, 6)
        assert row["benford_expected"] == _dround(p, 6)
        assert row["chi2_contribution"] == _dround(
            (obs - n * p) ** 2 / (n * p), 4
        )
    # unit mass per event type, and Benford's shares themselves sum to 1
    for t, c in digits.items():
        sub = got.loc[t]
        assert sub["observed"].sum() == sum(c.values())
    assert abs(sum(math.log10((d + 1) / d) for d in range(1, 10)) - 1.0) < 1e-12


def test_dp13_benford_log10_parity_exhaustive(spark, duck):
    """dp13's expected Benford mass is log10((d+1)/d) with d in 1..9 — a
    finite transcendental domain, so certify it exhaustively (the a28
    lesson: JVM ln diverged from libm at 6 of 63 finite inputs; the
    random panels never caught it).  As of Spark 4.1 / DuckDB 1.x /
    CPython 3.11 all 9 inputs agree BIT-FOR-BIT across the three
    engines, so dp13's chi-square contributions (multiplications and
    divisions on these shared doubles and exact counts) are
    deterministic; this pin turns that empirical fact into a gate an
    engine upgrade cannot silently break before dp13's registration
    round."""
    import math
    import struct

    def bits(x: float) -> bytes:
        return struct.pack("<d", x)

    rows = spark.range(1, 10).selectExpr(
        "id AS d", "log10((id + 1) * 1.0 / cast(id AS double)) AS p"
    ).collect()
    sp = {r["d"]: r["p"] for r in rows}
    du = dict(
        duck.execute(
            "SELECT d, log10((d + 1) * 1.0 / d::DOUBLE)"
            " FROM (SELECT unnest(range(1, 10)) AS d)"
        ).fetchall()
    )
    for d in range(1, 10):
        py = math.log10((d + 1) * 1.0 / d)
        assert bits(sp[d]) == bits(py) == bits(du[d]), (d, sp[d], py, du[d])


# --- registry-wide anchor coverage ---------------------------------------


def test_full_registry_anchor_coverage():
    """Round-10 milestone, kept as a gate: every registry entry's family
    has a third-layer anchor (pure-Python recompute or family law) in at
    least one anchor file.  A new op landing without one fails here."""
    import importlib.util
    from pathlib import Path

    tool = Path(__file__).resolve().parent.parent / "tools" / "anchor_audit.py"
    spec = importlib.util.spec_from_file_location("anchor_audit", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    amap = mod.anchor_map()
    missing = [n for n, fs in amap.items() if not fs]
    assert not missing, f"unanchored registry rows: {missing}"
