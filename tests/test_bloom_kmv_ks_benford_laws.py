"""Hypothesis property laws for j18, a30, w15 and dp13 (pure Python).

Randomized, Spark-free laws that must hold for ANY input — the depth
layer on top of the fixed-corpus replays in `tests/test_semantic_laws.py`,
mirroring `tests/test_vocab_spearman_minhash_laws.py`:

* j18's Bloom filter can never produce a FALSE NEGATIVE: for any build
  set and any probe set, every true member passes all k salted-hash
  probes, for any (m, k).  False positives may exist; that is the
  measured quantity, not a bug.
* a30's KMV estimator is monotone under key-set growth (adding keys can
  only lower the k-th smallest hash), falls back to the exact distinct
  count below k, and its n_distinct_hashes can never exceed the true
  distinct count (hashing merges, never invents).
* w15's integer cross-difference KS statistic is a true metric-like
  statistic: D ∈ [0, 1], D = 0 exactly for identical multisets, and D
  is symmetric under swapping the two samples.  The integer argmax
  equals the float-CDF argmax for any integer-valued samples.
* dp13's Benford expectation is a probability distribution: the nine
  log10((d+1)/d) masses are positive, strictly decreasing in d, and
  sum to exactly 1 in exact arithmetic (telescoping product — checked
  to float precision).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

_J18_M = 131072
_J18_HASHES = 3


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


# --- j18: structural no-false-negative for ANY build/probe/m/k ---------------

_key = st.integers(min_value=0, max_value=10_000)


@settings(max_examples=200, deadline=None)
@given(
    build=st.sets(_key, min_size=0, max_size=60),
    probes=st.lists(_key, min_size=0, max_size=60),
    m=st.sampled_from([64, 1024, _J18_M]),
    k=st.integers(min_value=1, max_value=5),
)
def test_j18_bloom_no_false_negatives_any_params(build, probes, m, k):
    bits = {_h32(f"b{i}|{key}") % m for key in build for i in range(k)}

    def passes(key: int) -> bool:
        return all(_h32(f"b{i}|{key}") % m in bits for i in range(k))

    for key in probes:
        if key in build:
            assert passes(key)  # membership implies pass, structurally
    # pass count dominates true count over any probe multiset
    n_true = sum(1 for p in probes if p in build)
    n_pass = sum(1 for p in probes if passes(p))
    assert n_pass >= n_true


# --- a30: KMV monotonicity + exact-below-k + merge-only hashing --------------

_A30_K = 32


def _kmv(keys) -> float:
    hs = sorted({_h32(f"c{k}") for k in keys})
    if len(hs) >= _A30_K and hs[_A30_K - 1] > 0:
        return (_A30_K - 1) * 4294967296.0 / hs[_A30_K - 1]
    return float(len(hs))


@settings(max_examples=100, deadline=None)
@given(
    base=st.sets(_key, min_size=0, max_size=120),
    extra=st.sets(_key, min_size=0, max_size=120),
)
def test_a30_kmv_monotone_and_merge_only(base, extra):
    grown = base | extra
    # adding keys can only lower the k-th smallest hash → estimate
    # nondecreasing (both in the ≥k regime); in the <k regime the
    # estimate IS the exact distinct hash count, also nondecreasing
    assert _kmv(grown) >= _kmv(base) - 1e-9
    # hashing can only merge distinct keys, never invent them
    assert len({_h32(f"c{k}") for k in grown}) <= len(grown)
    # below k the estimator is exact on the hash-distinct count
    if len({_h32(f"c{k}") for k in base}) < _A30_K:
        assert _kmv(base) == len({_h32(f"c{k}") for k in base})


# --- w15: KS statistic laws ---------------------------------------------------


def _ks_int(a: list[int], b: list[int]) -> float:
    n1, n2 = len(a), len(b)
    pts = sorted(set(a) | set(b))
    best = 0
    for x in pts:
        ca = sum(1 for v in a if v <= x)
        cb = sum(1 for v in b if v <= x)
        best = max(best, abs(ca * n2 - cb * n1))
    return best / (n1 * n2)


_sample = st.lists(
    st.integers(min_value=-500, max_value=500), min_size=1, max_size=60
)


@settings(max_examples=150, deadline=None)
@given(a=_sample, b=_sample)
def test_w15_ks_bounds_and_symmetry(a, b):
    d = _ks_int(a, b)
    assert 0.0 <= d <= 1.0
    assert math.isclose(d, _ks_int(b, a), rel_tol=0, abs_tol=0)  # symmetric


@settings(max_examples=100, deadline=None)
@given(a=_sample)
def test_w15_ks_zero_iff_identical_multiset(a):
    assert _ks_int(a, list(a)) == 0.0
    # a genuinely shifted copy has D > 0 (disjoint supports when the
    # shift clears the range)
    shift = (max(a) - min(a)) + 1
    assert _ks_int(a, [v + shift for v in a]) > 0.0


@settings(max_examples=100, deadline=None)
@given(a=_sample, b=_sample)
def test_w15_integer_argmax_equals_float_cdf_sup(a, b):
    n1, n2 = len(a), len(b)
    ca, cb = Counter(a), Counter(b)
    pts = sorted(set(a) | set(b))
    sup, run_a, run_b = 0.0, 0, 0
    for x in pts:
        run_a += ca[x]
        run_b += cb[x]
        sup = max(sup, abs(run_a / n1 - run_b / n2))
    assert math.isclose(_ks_int(a, b), sup, rel_tol=0, abs_tol=1e-12)


# --- dp13: Benford masses form a decreasing probability distribution ---------


def test_dp13_benford_masses_are_a_distribution():
    p = [math.log10((d + 1) / d) for d in range(1, 10)]
    assert all(x > 0 for x in p)
    assert all(p[i] > p[i + 1] for i in range(8))  # strictly decreasing
    # telescoping product: Π (d+1)/d over 1..9 = 10 → Σ log10 = 1
    assert abs(sum(p) - 1.0) < 1e-12
