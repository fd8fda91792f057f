"""Pandas-level driver simulation — the closest local replica of the gate.

The round driver compares each query's Spark result against its
DuckDB oracle THROUGH pandas (row-count, sorted-column schema, value
hash).  The r6/r7 sp6/a25 reds proved the pandas conversion layer is
itself part of the contract: DuckDB HUGEINT became float64 on the way
through, so values that compared equal engine-to-engine hashed unequal
frame-to-frame.  The oracle_harness mirror now checks engine-level types;
this tool additionally replicates the driver's actual data path:

    spark_df.toPandas()  vs  con.sql(oracle).df()

sorted by column name, row-sorted, compared on BOTH the pandas dtype and
the element values (bit-exact for floats).  Runs the whole registry,
or only the named queries:

    python tools/driver_sim.py [sf_dir] [--only=q1,q2]

from any working directory; ``sf_dir`` defaults to the test suite's
table directory.  An unknown flag or query name exits 1 before any
Spark session starts.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

import numpy as np
import pandas as pd


def frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> tuple[bool, str]:
    s = spark_pdf.reindex(sorted(spark_pdf.columns), axis=1)
    d = duck_pdf.reindex(sorted(duck_pdf.columns), axis=1)
    if list(s.columns) != list(d.columns):
        return False, f"columns: spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return False, f"rows: spark={len(s)} duck={len(d)}"
    # dtype comparison modulo timestamp unit (pyarrow hands Spark results
    # to pandas as datetime64[ns]/[us] depending on version; values are
    # compared at ns resolution below either way)
    for c in s.columns:
        sk, dk = s[c].dtype.kind, d[c].dtype.kind
        if sk != dk and not (
            ({sk, dk} == {"i", "O"} and _int_castable(s[c]) and _int_castable(d[c]))
            # Spark `date` reaches pandas as object-of-datetime.date while
            # DuckDB DATE arrives as datetime64 — observed BENIGN under the
            # driver's hash (a21 green r7, c6 green r4, w10 green r6);
            # values are still compared at day resolution below.
            or ({sk, dk} == {"M", "O"} and _date_like(s[c], d[c]))
        ):
            return False, f"dtype {c}: spark={s[c].dtype} duck={d[c].dtype}"
    # Normalize benign-equivalent dtype pairs BEFORE the row sort so both
    # the sort and the value compare are well-typed (ADVICE r8: the old
    # element-wise _int_like ran pre-sort, making it row-order dependent,
    # and Series.equals between int64 and object never greens even on
    # equal values — so the {i,O} path could never pass end-to-end).
    for c in s.columns:
        kinds = {s[c].dtype.kind, d[c].dtype.kind}
        if kinds == {"i", "O"}:
            s[c] = s[c].astype("int64")
            d[c] = d[c].astype("int64")
        elif kinds == {"M", "O"}:
            s[c] = pd.to_datetime(s[c]).astype("datetime64[ns]")
            d[c] = pd.to_datetime(d[c]).astype("datetime64[ns]")
    key = list(s.columns)
    s = s.sort_values(key, na_position="last").reset_index(drop=True)
    d = d.sort_values(key, na_position="last").reset_index(drop=True)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == "M" or dv.dtype.kind == "M":
            sv = pd.to_datetime(sv).astype("datetime64[ns]")
            dv = pd.to_datetime(dv).astype("datetime64[ns]")
            if not sv.equals(dv):
                return False, f"value col {c} (timestamp)"
            continue
        if sv.dtype.kind == "f":
            a, b = sv.to_numpy(), dv.to_numpy(dtype=sv.dtype)
            # driver-paranoid: a byte-level hash distinguishes -0.0 from
            # 0.0 even though == does not, so compare raw bit patterns
            # (NaN payloads normalized to a single quiet NaN)
            ibits = f"i{a.dtype.itemsize}"
            same = (a.view(ibits) == b.view(ibits)) | (np.isnan(a) & np.isnan(b))
            if not same.all():
                i = int(np.argmin(same))
                return False, f"value col {c} row {i}: {a[i]!r} != {b[i]!r} (bit-level)"
            continue
        if not sv.equals(dv):
            neq = sv != dv
            i = int(np.argmax(neq.to_numpy()))
            return False, f"value col {c} row {i}: {sv.iloc[i]!r} != {dv.iloc[i]!r}"
    return True, f"ok ({len(s)} rows)"


def _int_castable(a: pd.Series) -> bool:
    # ADVICE r9: astype('int64') silently truncates fractional object
    # values (Decimal('1.5') -> 1), which could false-green an int64
    # Spark column against a non-integral Duck object column.  Require
    # the cast to round-trip value-for-value (compares in the original
    # object domain, so Decimal('1.5') != 1 and the path stays closed).
    try:
        cast = a.astype("int64")
        return bool((a == cast).all())
    except (TypeError, ValueError, OverflowError):
        return False


def _date_like(a: pd.Series, b: pd.Series) -> bool:
    try:
        pd.to_datetime(a)
        pd.to_datetime(b)
        return True
    except (TypeError, ValueError):
        return False


def main() -> int:
    parser = argparse.ArgumentParser(
        description="Compare registry queries with their DuckDB oracles "
        "through pandas: columns, row count, dtypes and bit-level values."
    )
    parser.add_argument(
        "sf_dir", nargs="?", help="table directory (default: the test suite's)"
    )
    parser.add_argument("--only", help="comma-separated query names to check")
    args, unknown = parser.parse_known_args()
    if unknown:
        parser.exit(1, f"driver_sim: unknown arguments: {' '.join(unknown)}\n")

    # Resolve the package and the test helpers from this file, not from
    # the working directory.
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from ifcb_data_pipeline_spark.queries import load_all
    from ifcb_data_pipeline_spark.session import get_spark
    from tests.conftest import SF_DIR
    from tests.oracle_harness import duckdb_connection

    sf_dir = args.sf_dir or SF_DIR
    reg = load_all()
    names = list(reg)
    if args.only is not None:
        names = [n.strip() for n in args.only.split(",") if n.strip()]
        missing = [n for n in names if n not in reg]
        if missing:
            parser.exit(1, f"driver_sim: unknown queries: {', '.join(missing)}\n")

    spark = get_spark("driver-sim", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(sf_dir)
    n_bad = 0
    for name in names:
        q = reg[name]
        if q.oracle is None:
            print(f"{name}: SKIP (rows-only)")
            continue
        try:
            spdf = q.fn(spark, sf_dir).toPandas()
            dpdf = con.sql(q.oracle).df()
            ok, msg = frames_match(spdf, dpdf)
        except Exception as e:  # noqa: BLE001 - report and continue
            ok, msg = False, f"ERROR {type(e).__name__}: {e}"
        if not ok:
            n_bad += 1
        print(f"{name}: {'ok' if ok else 'FAIL — ' + msg}")
    print(f"--- driver-sim: {len(names) - n_bad}/{len(names)} green at {sf_dir} ---")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
