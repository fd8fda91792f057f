"""Helpers for golden-parity assertions that allow a stated ulp bound."""

from __future__ import annotations

import math

import numpy as np


def floor4(x: float) -> float:
    """The 4-decimal floor form the oracle comparison rounds to
    (``queries._util.dround``)."""
    return math.floor(x * 10000.0 + 0.5) / 10000.0


def ulp_distance(a: float, b: float) -> int:
    """Units in the last place between two doubles of the same sign
    (opposite signs give a distance far above any bound)."""
    return abs(int(np.float64(a).view(np.int64)) - int(np.float64(b).view(np.int64)))
