"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet dir, then compares row count, column
names, and an order-insensitive value hash.  Used while iterating so
the per-round driver check never surprises us.

Usage:
    python tools/verify_local.py [sf_dir] [query_id ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
from datetime import date, datetime

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def _norm_cell(v) -> str:
    """Driver-strict cell canon.

    The driver's canonicalizer (a) crashes on array-typed cells
    (pandas sort_values → ``unhashable type: 'list'``) and (b) does
    NOT collapse integral floats, so ``14508`` (int64) vs ``14508.0``
    (float64) hash differently.  This replica mirrors (a) by raising,
    and (b) via the dtype-class check in :func:`frame_hash` (the cell
    canon stays value-tolerant so a 1-ULP double drift doesn't flag
    what the driver would pass).  CORRECTNESS_r03 proved the forgiving
    version masks both classes — never relax this again.
    """
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if math.isinf(v):  # int(inf) raises; IEEE inf is a real value
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, (pd.Timestamp, datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        raise TypeError(
            "array-typed output cell: the driver's canonicalizer cannot "
            "hash lists — serialize the column (concat_ws / "
            "array_to_string) in BOTH the Spark query and its oracle"
        )
    if isinstance(v, (bool,)):
        return "true" if v else "false"
    return str(v)


def _dtype_class(s: pd.Series) -> str:
    """Coarse dtype class used for the strict cross-engine check.

    The driver hashes raw cell reprs, so an int64 Spark column vs a
    float64 oracle column (DuckDB HUGEINT / nullable-int pandas fetch)
    mismatches even when every value is integral.  Comparing classes
    — not exact dtypes — catches that while still allowing int32 vs
    int64 (both repr as bare ints).
    """
    k = s.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        # all-NaN float columns carry no int-vs-float signal
        return "float" if s.notna().any() else "any"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    if k == "O":
        vals = [v for v in s if v is not None and not (isinstance(v, float) and math.isnan(v))]
        if not vals:
            return "any"
        if all(isinstance(v, bool) for v in vals):
            return "bool"
        if all(isinstance(v, int) for v in vals):
            return "int"
        if all(isinstance(v, float) for v in vals):
            return "float"
        if all(isinstance(v, (date, datetime, pd.Timestamp)) for v in vals):
            return "datetime"
        return "str"
    return k


def frame_hash(df: pd.DataFrame) -> tuple[int, list[str], str, dict[str, str]]:
    cols = sorted(df.columns)
    df = df[cols]
    classes = {c: _dtype_class(df[c]) for c in cols}
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append("\x01".join(_norm_cell(v) for v in tup))
    rows.sort()
    digest = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(rows), cols, digest, classes


def _classes_ok(a: dict[str, str], b: dict[str, str]) -> list[str]:
    """Columns whose dtype classes are driver-incompatible."""
    bad = []
    for c in a:
        ca, cb = a.get(c), b.get(c, "?")
        if ca == "any" or cb == "any":
            continue
        if ca != cb:
            bad.append(f"{c}:{ca}!={cb}")
    return bad


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _fetch_spark(spark_df) -> pd.DataFrame:
    """Driver-faithful fetch with a far-future-timestamp fallback.

    The primary path is ``toPandas()`` — exactly what the driver runs —
    so its ns-coercion strictness is preserved.  PySpark's serializer
    hardcodes ``coerce_temporal_nanoseconds=True``, so ONE year-2263+
    timestamp in the result kills the fetch (futuredates variant);
    ``toArrow().to_pandas()`` keeps Arrow's us precision (datetime64[us],
    the same dtype DuckDB's fetch produces), turning the poisoned cell
    back into a comparable value instead of a harness crash.
    """
    try:
        return spark_df.toPandas()
    except Exception:
        return spark_df.toArrow().to_pandas()


def compare(qid: str, spark_df, con, oracle: str | None, verbose=True):
    spd = _fetch_spark(spark_df)
    n_s, cols_s, h_s, cl_s = frame_hash(spd)
    if oracle is None:
        status = "ROWS_ONLY" if n_s >= 0 else "FAIL"
        if verbose:
            print(f"{qid:36s} {status:10s} rows={n_s}")
        return True, spd, None
    # Values hash against the arrow fetch (it keeps DATE as date32;
    # fetchdf coerces dates to datetime64 midnight which would
    # spuriously mismatch Spark DateType).  Dtype classes check
    # against fetchdf — the driver's oracle fetch path (r03 evidence:
    # DuckDB HUGEINT/nullable-int render as float64 there, and a
    # non-null Spark bigint hashes "14508" vs "14508.0" → red).  A
    # null-bearing int column is float64 on BOTH sides (Spark
    # toPandas does the same NaN promotion), so matching values imply
    # matching classes; the one real driver-red shape this catches is
    # an integer SUM the oracle left as HUGEINT.
    dkd = con.execute(oracle).arrow().to_pandas()
    n_d, cols_d, h_d, _cl_arrow = frame_hash(dkd)
    fdf = con.execute(oracle).fetchdf()
    cl_f = {c: _dtype_class(fdf[c]) for c in fdf.columns}
    bad = _classes_ok(cl_s, cl_f)
    ok = (n_s == n_d) and (cols_s == cols_d) and (h_s == h_d) and not bad
    if verbose:
        print(
            f"{qid:36s} {'OK' if ok else 'MISMATCH':10s} "
            f"rows={n_s}/{n_d} cols={'=' if cols_s == cols_d else cols_s}"
            f"{'' if cols_s == cols_d else cols_d} hash={'=' if h_s == h_d else 'DIFF'}"
            f"{' dtypes=' + ','.join(bad) if bad else ''}"
        )
    return ok, spd, dkd


def frame_hash_classes_only(df: pd.DataFrame):
    cols = sorted(df.columns)
    return len(df), cols, None, {c: _dtype_class(df[c]) for c in cols}


def show_diff(qid: str, spd: pd.DataFrame, dkd: pd.DataFrame, n=6):
    cols = sorted(spd.columns)
    s_rows = {
        "\x01".join(_norm_cell(v) for v in t)
        for t in spd[cols].itertuples(index=False, name=None)
    }
    if dkd is None:
        return
    d_rows = {
        "\x01".join(_norm_cell(v) for v in t)
        for t in dkd[sorted(dkd.columns)].itertuples(index=False, name=None)
    }
    print(f"  cols: {cols}")
    only_s = list(s_rows - d_rows)[:n]
    only_d = list(d_rows - s_rows)[:n]
    for r in only_s:
        print("  spark-only:", r.replace("\x01", " | ")[:220])
    for r in only_d:
        print("  duck-only :", r.replace("\x01", " | ")[:220])


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from getdbt_spark.queries import QUERIES, ORACLES, load_all
    from getdbt_spark.session import get_spark

    load_all()
    spark = get_spark("verify_local", master="local[8]", shuffle_partitions=8)
    con = duck_con(sf_dir)

    failures = []
    for qid, fn in QUERIES.items():
        if only and qid not in only:
            continue
        try:
            ok, spd, dkd = compare(qid, fn(spark, sf_dir), con, ORACLES.get(qid))
            if not ok:
                failures.append(qid)
                show_diff(qid, spd, dkd)
        except Exception as e:
            failures.append(qid)
            print(f"{qid:36s} ERROR      {type(e).__name__}: {str(e)[:200]}")
        finally:
            # Builders that persist() multi-consumer intermediates
            # (minhash/ngram shingle sets) have no post-action hook to
            # unpersist; without this, blocks accumulate across the
            # 100+-query sweep and CacheManager subtree matching could
            # serve a later query from leftover cache.
            spark.catalog.clearCache()
    print()
    if failures:
        print(f"FAILURES ({len(failures)}): {failures}")
        sys.exit(1)
    print(f"all {len([q for q in QUERIES if not only or q in only])} queries OK")


if __name__ == "__main__":
    main()
