"""Shared helpers for the query registry.

Synthetic-domain conventions used by BOTH engines (Spark expression and
DuckDB SQL must stay in lock-step — change one, change both):

* pseudo-coordinates: ``lat(k) = 54 + (k % 600) / 100.0``,
  ``lon(k) = 10 + (k % 1200) / 100.0`` — deterministic ship-track-like
  positions derived from an integer key (custkey/suppkey/user_id).
* taxa-ish labels: built from ``part.p_name`` with morphology suffixes
  attached by ``p_partkey % 7`` (see :func:`taxa_label_expr`).
* stable 32-bit hash: first 8 hex chars of md5 → BIGINT
  (Spark ``conv(substring(md5(x),1,8),16,10)``; DuckDB
  ``('0x' || substr(md5(x),1,8))::BIGINT``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import dround  # noqa: F401 (the queries' one-stop import)
from ..sources.tables import load_table, stream_table


def tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    # Timestamp determinism: the driver may hand us a session with a
    # non-UTC timezone; the oracle (DuckDB) is timezone-naive UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return [load_table(spark, sf_dir, n) for n in names]


def streams(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """File streams over the named tables, one independent source per
    name, under the same UTC forcing as :func:`tables`.  A stream reads
    event time as ``timestamp``, which the session zone interprets, so
    without it a non-UTC session shifts the emitted window and session
    bounds away from the oracles'."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return [stream_table(spark, sf_dir, n) for n in names]


# fan_out and hash32 live in operators/ (operators never import from
# queries/, and shingle_sets / simhash call them there);
# re-exported here so query modules keep their one-stop `_util` import.
# sign_hyperplanes feeds sign_lsh_coded_sql below.
from ..operators.dedup import hash32, sign_hyperplanes  # noqa: E402,F401
from ..operators.skew import fan_out  # noqa: E402,F401


def lat_expr(key: Column) -> Column:
    return F.lit(54.0) + (key % 600) / F.lit(100.0)


def lon_expr(key: Column) -> Column:
    return F.lit(10.0) + (key % 1200) / F.lit(100.0)


LAT_SQL = "(54.0 + ({k} % 600) / 100.0)"
LON_SQL = "(10.0 + ({k} % 1200) / 100.0)"


def dround_sql(expr: str, d: int) -> str:
    """DuckDB twin of ``functions.scalars.dround``."""
    f = float(10.0**d)
    return f"(floor(({expr}) * {f!r} + 0.5) / {f!r})"


HASH32_SQL = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"


def sign_lsh_coded_sql(
    id_col: str, source: str, dim: int, bands: int, rows: int
) -> str:
    """DuckDB twin of ``operators/dedup.sign_lsh_bands``: the UNION-ALL
    body of an oracle's ``coded`` CTE — one ``(id_col, band, sig)`` row
    per ``source`` row per band, ``sig`` being ``rows`` sign bits of
    ``list_inner_product(v, plane) > 0`` over the same md5 planes."""
    planes = sign_hyperplanes(dim, bands * rows)

    def bit(plane: list[float]) -> str:
        arr = ", ".join("1.0" if x > 0 else "-1.0" for x in plane)
        return f"(CASE WHEN list_inner_product(v, [{arr}]) > 0 THEN '1' ELSE '0' END)"

    def sig(b: int) -> str:
        return " || ".join(map(bit, planes[b * rows : (b + 1) * rows]))

    return " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, {sig(b)} AS sig FROM {source}"
        for b in range(bands)
    )


# Morphology/qualifier suffixes used to synthesize classifier-label-like
# strings from part names (exercises the C1 cleaning cascade).
TAXA_SUFFIXES = [
    "",
    "_chain",
    "_single_cell",
    "_cf",
    "_spp",
    "_larger_than_30",
    "_group",
]


def taxa_label_expr(name: Column, key: Column) -> Column:
    """``'small ring', 3`` → ``'Small_ring_cf'`` — first letter capitalized,
    underscored, suffix chosen by ``key % 7``."""
    base = F.regexp_replace(
        F.concat(F.upper(F.substring(name, 1, 1)), F.lower(name.substr(F.lit(2), F.lit(100000)))),
        " ",
        "_",
    )
    suffix = F.element_at(F.array(*[F.lit(s) for s in TAXA_SUFFIXES]), (key % 7 + 1).cast("int"))
    return F.concat(base, suffix)


TAXA_LABEL_SQL = """
    (replace(
        upper(substr({name}, 1, 1)) || lower(substr({name}, 2)),
        ' ', '_')
     || (['', '_chain', '_single_cell', '_cf', '_spp', '_larger_than_30', '_group'])[({key} % 7) + 1])
"""
