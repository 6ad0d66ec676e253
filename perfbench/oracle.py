"""Output check: hash an op's result against its DuckDB oracle.

The canon is ``tools/verify_local.py``'s (sorted columns, per-cell
normalisation, order-insensitive md5, coarse dtype classes), and the
oracle SQL is the program's own (``__spark_entry__.oracle_sql()``).

An oracle's answer is a pure function of its SQL text and the corpus,
and the recursive connected-components oracle takes about 35 minutes
in DuckDB at sf0.1.  So each fingerprint is stored with a key that
digests both: ``expected.json`` (committed) holds the ones for the
oracle texts of the commit that added or refreshed it, and a changed
oracle or corpus is recomputed once and kept in the checkout's work
directory.  Refresh the committed file with

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import re
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")


def _verify_local():
    import verify_local  # tools/ is on sys.path (see run.prepare_env)

    return verify_local


def _canon_column(s: pd.Series) -> np.ndarray:
    """``verify_local._norm_cell`` of every cell, evaluated once per
    distinct value.  Object columns are factorized only when all their
    values are ``str`` or all ``datetime.date``: values of other types
    can compare equal across types (``1 == 1.0 == True``) and would be
    merged, so those columns go cell by cell."""
    norm = _verify_local()._norm_cell
    codes, uniques = pd.factorize(s)
    values = uniques.tolist()
    if s.dtype == object:
        kinds = {type(u) for u in values}
        if not (kinds <= {str} or kinds <= {dt.date}):
            return s.map(norm).to_numpy()
    out = np.array([norm(u) for u in values] + [None], dtype=object)[codes]
    # Missing cells (code -1) keep their own canon: None and NaN read
    # "NULL" but NaT reads "NaT".
    missing = codes < 0
    if missing.any():
        out[missing] = [norm(v) for v in s[missing]]
    return out


def fingerprint(df: pd.DataFrame) -> dict:
    """``verify_local.frame_hash`` (same rows, columns, md5 and dtype
    classes), a few times faster on the 234k-row dashboard."""
    vl = _verify_local()
    cols = sorted(df.columns)
    parts = [_canon_column(df[c]) for c in cols]
    rows = ["\x01".join(t) for t in zip(*parts)] if parts else [""] * len(df)
    rows.sort()
    return {
        "rows": len(rows),
        "cols": cols,
        "hash": hashlib.md5("\n".join(rows).encode()).hexdigest(),
        "classes": {c: vl._dtype_class(df[c]) for c in cols},
    }


def _load(path: str) -> dict:
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _dump(path: str, data: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, path)


class Oracles:
    def __init__(self, sf_dir: str, corpus_digest: str, cache_path: str):
        self.sf_dir = sf_dir
        self.corpus_digest = corpus_digest
        self.cache_path = cache_path
        self._con = None
        self._sql: dict[str, str] | None = None
        self._known = [_load(EXPECTED), _load(cache_path)]

    def _key(self, qid: str) -> tuple[str, str]:
        if self._sql is None:
            # The registry behind __spark_entry__.oracle_sql(), which
            # only reorders it (and spends seconds hashing code to do so).
            from getdbt_spark.queries import ORACLES, load_all

            load_all()
            self._sql = ORACLES
        sql = self._sql[qid]
        key = hashlib.sha256(f"{self.corpus_digest}\0{sql}".encode()).hexdigest()
        return key, sql

    def expected(self, qid: str, recompute: bool = False) -> dict:
        key, sql = self._key(qid)
        if not recompute:
            for known in self._known:
                hit = known.get(qid)
                if hit is not None and hit.get("key") == key:
                    return hit
        hit = dict(self._compute(sql), key=key)
        cache = self._known[-1]
        cache[qid] = hit
        _dump(self.cache_path, cache)
        return hit

    def _compute(self, sql: str) -> dict:
        vl = _verify_local()
        if self._con is None:
            self._con = vl.duck_con(self.sf_dir)
            self._con.execute("SET enable_progress_bar = false")
        if sql.lstrip().upper().startswith("WITH RECURSIVE"):
            # DuckDB re-evaluates a plain CTE that the recursive step
            # references on every iteration.  Materializing the
            # non-recursive CTEs leaves the answer unchanged (they are
            # pure); it took the connected-components oracle from 67 s
            # to 14 s at sf0.01.
            sql = re.sub(r"\),\s*(\w+) AS \(", r"), \1 AS MATERIALIZED (", sql)
        # Values hash from the Arrow fetch, dtype classes from fetchdf:
        # the same split verify_local.compare makes (evaluated once).
        self._con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_out AS {sql}")
        fp = fingerprint(self._con.execute("FROM oracle_out").arrow().to_pandas())
        fdf = self._con.execute("FROM oracle_out").fetchdf()
        fp["classes"] = {c: vl._dtype_class(fdf[c]) for c in fdf.columns}
        return fp

    def check(self, qid: str, df) -> str | None:
        """None when ``df`` matches the oracle, else what differs."""
        want = self.expected(qid)
        got = fingerprint(df)
        diffs = [k for k in ("rows", "cols", "hash") if got[k] != want[k]]
        bad = _verify_local()._classes_ok(got["classes"], want["classes"])
        if bad:
            diffs.append("dtypes " + ",".join(bad))
        if not diffs:
            return None
        return f"{qid}: {', '.join(diffs)} differ (rows {got['rows']}/{want['rows']})"


def main() -> None:
    """Recompute every oracle the workloads check; rewrite expected.json."""
    root = os.path.dirname(HERE)
    sys.path[:0] = [root, os.path.join(root, "tools"), HERE]
    import run
    from workloads import ORACLE_IDS

    cache = os.path.join(run.WORK, "oracles.json")
    os.makedirs(run.WORK, exist_ok=True)
    oracles = Oracles(run.SF_DIR, run.corpus_digest(), cache)
    out = {}
    for qid in ORACLE_IDS:
        out[qid] = oracles.expected(qid, recompute=True)
        print(qid, out[qid]["rows"], out[qid]["hash"], flush=True)
    _dump(EXPECTED, out)


if __name__ == "__main__":
    main()
