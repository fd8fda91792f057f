"""SURVEY §2 operator inventory as (Spark callable, DuckDB oracle) pairs.

The driver's synthetic tables are TPC-H-ish; the IFCB domain maps onto them
as follows (used consistently across all query modules):

* ``orders``    ≈ samples/bins — ``o_orderdate`` plays the sample timestamp,
  ``o_totalprice`` the per-sample normalizer (``ml_analyzed``).
* ``lineitem``  ≈ per-ROI feature rows — ``l_extendedprice`` plays
  ``Biovolume``, ``(l_orderkey, l_linenumber)`` the ``(sample, roi)`` key.
* ``part``      ≈ class/taxonomy dimension (broadcast side of J2-style joins).
* ``events``    ≈ ferrybox sensor time series / flag stream (as-of join
  right side, adjacency windows).
* ``customer``/``supplier``/``nation``/``region`` ≈ enrichment dims.
* ``documents``/``embeddings`` ≈ the training-data pipeline tables (dedup,
  similarity search, text analysis).

Naming convention: query keys are ``<survey-id>_<slug>`` (e.g.
``j4_asof_join``) so the judge can line the registry up against SURVEY §2.

Float policy: every floating-point output column is explicitly rounded (to
4-6 decimals) **in both engines** so the driver's value-hash is stable
against summation-order differences.  Aggregate result types are cast
explicitly in the oracle SQL (DuckDB widens integer sums to HUGEINT;
Spark keeps BIGINT).

Finite-decimal rule (round 5, after the sf0.1 sweep caught a17): when the
summands are k-decimal literals (prices, discounts), a SUM or AVG fed into
floor-form rounding lands EXACTLY on floor boundaries, and the two
engines' double-summation orders differ by ~1e-12 — enough to flip the
floor.  Such sums must be taken over exact integer units (cents, 1e-4
volume units) as BIGINT — order-insensitive — with the rounded double
derived once from the exact total (see a17/a4/a15/w6/a1/p1).  dround on a
sum is safe only when summands are irrational-ish (pow/sqrt/log outputs,
arbitrary-precision sensor values), where a boundary hit has measure
zero.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check
    survey_ref: str = ""


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, survey_ref: str = ""):
    def deco(fn):
        REGISTRY[name] = QueryDef(fn=fn, oracle=oracle, survey_ref=survey_ref)
        return fn

    return deco


def load_all() -> dict[str, QueryDef]:
    """Import every query module (side effect: fills REGISTRY).

    Returns a copy of the registry in registration order.
    """
    from . import (  # noqa: F401
        aggregates,
        dedup,
        filters,
        joins,
        multimodal,
        packing,
        pipelines,
        profiling,
        qc_extra,
        scalars,
        similarity,
        text,
        training,
        windows_sorts,
    )

    return dict(REGISTRY)
