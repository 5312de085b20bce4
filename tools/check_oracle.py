#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>

For each query dumped by `graft.Verify` (parquet under <out>/<name>/),
runs the matching SQL from <out>/oracle_sql.json in DuckDB against the
sf parquet tables, then compares: columns sorted by name, rows sorted,
values compared exactly (floats to 9 significant digits first, exact
diff reported). Each entry's result line is followed by the seconds its
compare took, and the five slowest entries are named at the end. Dev tool
only — not part of the shipped library.
"""
import glob
import json
import math
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def timed(names, elapsed):
    """Yields each name and, once the caller asks for the next, prints and
    records in `elapsed` the seconds spent on it."""
    for name in names:
        t0 = time.monotonic()
        yield name
        elapsed[name] = time.monotonic() - t0
        print(f"        {name}: {elapsed[name]:.2f} s", flush=True)


def main(out_dir, sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    elapsed = {}
    for name in timed(sorted(oracle), elapsed):
        sql = oracle[name]
        parts = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not parts:
            print(f"[MISS ] {name}: no spark result dumped")
            n_fail += 1
            continue
        try:
            got = con.execute(
                "SELECT * FROM read_parquet(?)", [parts]).fetchdf()
            want = con.execute(sql).fetchdf()
            # The driver reads the Spark parquet through pyarrow (DECIMAL
            # stays decimal.Decimal, scale-preserving str) but the oracle
            # through DuckDB's pandas path (DECIMAL collapses to float64),
            # so ANY decimal output column hashes differently the moment a
            # value has a trailing zero or >15 significant digits. fetchdf
            # masks this locally (both sides float64) — so detect decimal
            # columns via DESCRIBE on either side and hard-FAIL them.
            dec_cols = sorted(
                {r[0] for r in con.execute(
                    "DESCRIBE (SELECT * FROM read_parquet(?))", [parts]
                 ).fetchall() if "DECIMAL" in r[1]} |
                {r[0] for r in con.execute(
                    f"DESCRIBE ({sql})").fetchall() if "DECIMAL" in r[1]})
            if dec_cols:
                print(f"[FAIL ] {name}: DECIMAL output columns {dec_cols} "
                      f"(driver renders decimals asymmetrically — cast to "
                      f"BIGINT/DOUBLE in the final select of BOTH engines)")
                n_fail += 1
                continue
        except Exception as e:
            print(f"[ERROR] {name}: {e}")
            n_fail += 1
            continue
        gcols, wcols = sorted(got.columns), sorted(want.columns)
        if gcols != wcols:
            print(f"[FAIL ] {name}: columns {gcols} vs oracle {wcols}")
            n_fail += 1
            continue
        # The driver's hash is sensitive to dtype skew (e.g. DuckDB HUGEINT
        # sums -> float64 "1.0" vs Spark int "1"), which norm_cell's %.9g
        # would mask — so int-vs-float kind mismatch is a hard FAIL here.
        kind_skew = [c for c in gcols
                     if {got[c].dtype.kind, want[c].dtype.kind} == {"i", "f"}]
        if kind_skew:
            print(f"[FAIL ] {name}: int-vs-float dtype skew on {kind_skew} "
                  f"(driver hashes these differently)")
            n_fail += 1
            continue
        # Object-dtype cells containing numpy arrays crash the driver's
        # sort (q36 round-1): flag any array-like cell as a hard FAIL.
        arr_cols = [c for c in gcols
                    if (got[c].dtype.kind == "O" and len(got)
                        and not isinstance(got[c].iloc[0],
                                           (str, bytes, type(None))))
                    or (want[c].dtype.kind == "O" and len(want)
                        and not isinstance(want[c].iloc[0],
                                           (str, bytes, type(None))))]
        if arr_cols:
            print(f"[FAIL ] {name}: non-scalar cells in {arr_cols} "
                  f"(driver's pandas sort crashes on these)")
            n_fail += 1
            continue
        g = [tuple(norm_cell(v) for v in row)
             for row in got[gcols].itertuples(index=False)]
        w = [tuple(norm_cell(v) for v in row)
             for row in want[wcols].itertuples(index=False)]
        g.sort()
        w.sort()
        if g == w:
            print(f"[MATCH] {name}: {len(g)} rows")
            n_pass += 1
        else:
            n_fail += 1
            print(f"[FAIL ] {name}: {len(g)} spark rows vs {len(w)} oracle rows")
            diffs = [(a, b) for a, b in zip(g, w) if a != b]
            for a, b in diffs[:3]:
                print(f"    spark:  {a}\n    oracle: {b}")
            if len(g) != len(w):
                only_g = set(g) - set(w)
                only_w = set(w) - set(g)
                for r in list(only_g)[:2]:
                    print(f"    only-spark:  {r}")
                for r in list(only_w)[:2]:
                    print(f"    only-oracle: {r}")
    print("slowest:", ", ".join(
        f"{n} {t:.1f} s" for n, t in
        sorted(elapsed.items(), key=lambda kv: -kv[1])[:5]))
    print(f"== {n_pass} match, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
