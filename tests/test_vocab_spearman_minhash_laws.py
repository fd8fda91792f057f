"""Hypothesis property laws for tx16, w14 and i13 (pure Python).

Randomized, Spark-free laws that must hold for ANY input — a depth
layer on top of the fixed-corpus replays in `tests/test_semantic_laws.py`:

* tx16's hash-bucket membership can never produce a FALSE NEGATIVE: a
  bigram that IS in the vocabulary always lands in its own bucket, so
  hashed coverage >= exact coverage on every corpus (collisions only
  inflate, never deflate).
* w14's Spearman-via-sum-d2 equals the definitional rank correlation
  for any tie-free permutation, and the integer cross-multiplied trend
  labels agree with the float thresholds everywhere off the boundary.
* i13's least-merge law: element-wise min of slice MinHash signatures
  equals the signature of the union, for any split of any shingle set.
"""

from __future__ import annotations

import hashlib
import math

from hypothesis import given, settings
from hypothesis import strategies as st

TX16_BUCKETS = 1 << 22


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


# --- tx16: hashed membership has no false negatives --------------------------

_token = st.text(alphabet="abcdefgh ", min_size=1, max_size=6)


@settings(max_examples=200, deadline=None)
@given(
    vocab=st.sets(_token, min_size=0, max_size=30),
    probes=st.lists(_token, min_size=0, max_size=60),
)
def test_tx16_hashed_membership_no_false_negatives(vocab, probes):
    buckets = {_h32(v) % TX16_BUCKETS for v in vocab}
    exact_in = sum(1 for p in probes if p in vocab)
    hashed_in = sum(1 for p in probes if _h32(p) % TX16_BUCKETS in buckets)
    # every true vocab member hits its own bucket; collisions only ADD
    assert hashed_in >= exact_in
    for p in probes:
        if p in vocab:
            assert _h32(p) % TX16_BUCKETS in buckets


# --- w14: Spearman identity + integer label agreement ------------------------


@settings(max_examples=200, deadline=None)
@given(perm=st.permutations(list(range(2, 25))))
def test_w14_sum_d2_equals_definitional_spearman(perm):
    # rt = time order 1..n, rv = the permuted value ranks (tie-free)
    n = len(perm)
    rt = list(range(1, n + 1))
    rv = [p - 1 for p in perm]  # a permutation of 1..n
    sum_d2 = sum((a - b) ** 2 for a, b in zip(rt, rv))
    rho_formula = 1.0 - (6.0 * sum_d2) / (n * (n * n - 1))
    # definitional: Pearson correlation of the two rank vectors
    mean = (n + 1) / 2.0
    cov = sum((a - mean) * (b - mean) for a, b in zip(rt, rv))
    var = sum((a - mean) ** 2 for a in rt)
    rho_def = cov / var
    assert math.isclose(rho_formula, rho_def, rel_tol=0, abs_tol=1e-12)
    # integer cross-multiplied labels agree with the float thresholds
    den = n * (n * n - 1)
    if 60 * sum_d2 < 7 * den:
        assert rho_formula > 0.3 - 1e-12
    elif 60 * sum_d2 > 13 * den:
        assert rho_formula < -0.3 + 1e-12
    else:
        assert -0.3 - 1e-12 <= rho_formula <= 0.3 + 1e-12


# --- i13: least-merge equals recompute ----------------------------------------


@settings(max_examples=100, deadline=None)
@given(
    shingles=st.sets(st.text(alphabet="xyz ", min_size=1, max_size=5), min_size=1, max_size=40),
    mask=st.lists(st.booleans(), min_size=40, max_size=40),
)
def test_i13_least_merge_equals_recompute(shingles, mask):
    sh = sorted(shingles)
    base = {s for s, m in zip(sh, mask) if m}
    delta = set(sh) - base

    def sig(ss):
        if not ss:
            return None
        return [min(_h32(f"{p}|{s}") for s in ss) for p in range(8)]

    full, b, d = sig(set(sh)), sig(base), sig(delta)
    if b is None:
        merged = d
    elif d is None:
        merged = b
    else:
        merged = [min(x, y) for x, y in zip(b, d)]
    assert merged == full
