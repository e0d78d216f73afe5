#!/usr/bin/env python3
"""Dev-only: compare Verify dumps against their DuckDB oracle SQL. `compare`
is the one comparison: check.py loops over it for a whole dump, and
check_sf1.py runs this script once per query so each gets its own timeout
(sf1-scale oracles can take hours).

Usage: python3 scripts/check_one.py <sfDir> <outDir> <queryName>
Exit 0 pass, 1 mismatch, 2 error.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table of `sf_dir`."""
    con = duckdb.connect()
    # spill to the system temp dir, not cwd/.tmp — an sf1-scale oracle can
    # write tens of GB of temp and must not land inside the repo
    con.execute("SET temp_directory = '/tmp/duckdb_spill'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(con, sql: str, dump: str) -> tuple[int, list[str]]:
    """(oracle row count, differences) between the oracle `sql` and the
    parquet dump in directory `dump`; no differences means they match."""
    got_sql = f"SELECT * FROM read_parquet('{dump}/*.parquet')"
    w, g = canon(con.execute(sql).df()), canon(con.execute(got_sql).df())
    if list(w.columns) != list(g.columns):
        return len(w), [f"columns {list(g.columns)} != {list(w.columns)}"]
    if len(w) != len(g):
        return len(w), [f"rows {len(g)} != {len(w)}"]
    diffs = []
    for c in w.columns:
        wv, gv = w[c], g[c]
        if str(wv.dtype) != str(gv.dtype):
            diffs.append(f"dtype[{c}]: got {gv.dtype} want {wv.dtype}")
        try:
            eq = (wv.fillna("~N") == gv.fillna("~N")) if wv.dtype == object else \
                 ((wv == gv) | (wv.isna() & gv.isna()))
        except Exception:
            eq = wv.astype(str) == gv.astype(str)
        n_bad = int((~eq).sum())
        if n_bad:
            i = (~eq).idxmax()
            diffs.append(f"values[{c}]: {n_bad} mismatches, first idx {i}: got {gv[i]!r} want {wv[i]!r}")
    if not diffs:
        # strict pass in DuckDB itself: pandas folds SQL NULL and float
        # NaN both to NaN, so the per-column check above cannot see a
        # NULL-vs-NaN divergence; EXCEPT ALL distinguishes them (NULL
        # and NaN are distinct values under DuckDB set semantics)
        cols = ", ".join(f'"{c}"' for c in sorted(w.columns))
        n_diff = con.execute(
            f"WITH want_v AS ({sql}), got_v AS ({got_sql}) "
            f"SELECT count(*) FROM ("
            f" (SELECT {cols} FROM want_v EXCEPT ALL SELECT {cols} FROM got_v)"
            f" UNION ALL "
            f" (SELECT {cols} FROM got_v EXCEPT ALL SELECT {cols} FROM want_v))"
        ).fetchone()[0]
        if n_diff:
            diffs.append(f"strict NULL/NaN-aware compare: {n_diff} differing rows")
    return len(w), diffs


if __name__ == "__main__":
    SF_DIR, OUT_DIR, NAME = sys.argv[1], sys.argv[2], sys.argv[3]
    oracle = json.load(open(f"{OUT_DIR}/oracle_sql.json"))
    if NAME not in oracle:
        print(f"SKIP {NAME} (no oracle)")
        sys.exit(0)
    try:
        n, diffs = compare(connect(SF_DIR), oracle[NAME], f"{OUT_DIR}/{NAME}")
    except Exception as e:
        print(f"ERROR {NAME}: {type(e).__name__}: {str(e)[:300]}")
        sys.exit(2)
    if diffs:
        print(f"FAIL {NAME}: {'; '.join(diffs)}")
        sys.exit(1)
    print(f"PASS {NAME} ({n} rows)")
