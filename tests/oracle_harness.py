"""Local mirror of the driver's t2 correctness gate.

Runs a registry query on Spark and its oracle SQL on DuckDB (same parquet
tables registered as views), then compares row count, sorted column names,
and order-insensitive values.

Floats compare EXACTLY by default (round 7): the driver's gate hashes
values, so a last-ulp cross-engine difference that a tolerance would
forgive locally still reds the driver row — the mirror must be at least
as strict as the gate it mirrors.  The repo's float policy (floor-form
dround over exact-integer-derived doubles, quantized integer sums) is
designed to make exact equality hold; a tolerance here would hide
exactly the policy violations the mirror exists to catch.
"""

from __future__ import annotations

import datetime as _dt
import math

import duckdb

from ifcb_data_pipeline_spark.sources.tables import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, _dt.timedelta):
        return v.total_seconds()
    return v


def _sort_key(row):
    return tuple((x is None, str(x)) for x in row)


# Spark simpleString -> the ONE DuckDB type it may pair with.  The driver's
# value-hash is type-sensitive (a DuckDB HUGEINT round-trips through pandas
# as float64, so `24` hashes as `24.0`), so the mirror must reject any pair
# outside this map — the r6/r7 sp6/a25 red rows were exactly this class
# (uncast windowed sums typed HUGEINT) and the old type-blind compare let
# them ship twice.  The only non-identity equivalence is
# timestamp_ntz ≡ TIMESTAMP (observed benign across 18 green driver rows).
_TYPE_EQUIV = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
}


def _type_mismatches(spark_schema, duck_cols, duck_types):
    """Cross-engine type audit: every column must pair per _TYPE_EQUIV."""
    duck_by_col = dict(zip(duck_cols, (str(t) for t in duck_types)))
    bad = []
    for f in spark_schema.fields:
        st = f.dataType.simpleString()
        dt = duck_by_col.get(f.name)
        if dt is None:
            continue  # column-name mismatch is reported separately
        want = _TYPE_EQUIV.get(st)
        if want is None or dt != want:
            bad.append(f"{f.name}: spark={st} duck={dt}")
    return bad


def compare(spark_df, con, oracle: str, rel_tol: float = 0.0):
    """Returns (ok, message)."""
    sdf = spark_df
    spark_cols = sorted(sdf.columns)
    spark_rows = [
        tuple(_norm(r[c]) for c in spark_cols) for r in sdf.collect()
    ]

    drel = con.sql(oracle)
    duck_cols_raw = list(drel.columns)
    duck_types_raw = list(drel.types)
    duck_all = drel.fetchall()
    order = sorted(range(len(duck_cols_raw)), key=lambda i: duck_cols_raw[i])
    duck_cols = [duck_cols_raw[i] for i in order]
    duck_rows = [tuple(_norm(r[i]) for i in order) for r in duck_all]

    if spark_cols != duck_cols:
        return False, f"schema mismatch: spark={spark_cols} duck={duck_cols}"

    type_bad = _type_mismatches(sdf.schema, duck_cols_raw, duck_types_raw)
    if type_bad:
        return False, "type mismatch: " + "; ".join(type_bad)
    if len(spark_rows) != len(duck_rows):
        return False, f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"

    spark_rows.sort(key=_sort_key)
    duck_rows.sort(key=_sort_key)
    for i, (sr, dr) in enumerate(zip(spark_rows, duck_rows)):
        for c, (sv, dv) in enumerate(zip(sr, dr)):
            if not _values_equal(sv, dv, rel_tol):
                return (
                    False,
                    f"value mismatch row {i} col {spark_cols[c]}: spark={sv!r} duck={dv!r}",
                )
    return True, f"ok ({len(spark_rows)} rows)"


def _values_equal(a, b, rel_tol) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, str) or isinstance(b, str):  # "NaN" markers
            return a == b
        try:
            if rel_tol == 0.0:
                return float(a) == float(b)  # driver-strict: bit-exact
            return math.isclose(float(a), float(b), rel_tol=rel_tol, abs_tol=1e-9)
        except (TypeError, ValueError):
            return a == b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(
            _values_equal(x, y, rel_tol) for x, y in zip(a, b)
        )
    return a == b
