"""Order-insensitive result hashes for the benchmark's queries.

A query's result is read back from parquet through DuckDB and normalized as
tools/check_oracle.py does (its `norm_cell`): columns sorted by name, each
cell rendered, rows sorted. The hash is the SHA-256 of that canonical form.

Record or re-record the expected hashes (a one-off, after a deliberate
change to the query lists or the data) with

    python3 perfbench/qcheck.py record <dump_dir>

where <dump_dir> holds `<name>/*.parquet` dumps of each listed query and
`oracle_sql.json` (as `run.py --dump-dir` leaves them). The hashes are
written to perfbench/expected_hashes.json only when tools/check_oracle.py
finds every query's Spark result equal to its DuckDB oracle
(`SparkEntry.oracleSql`) over the benchmark's data.
"""
import glob
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))

import check_oracle  # noqa: E402
import duckdb  # noqa: E402

DATA_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_hashes.json")


def canonical_hash(df):
    """(sha256 hex, row count) of a pandas frame, order-insensitively."""
    cols = sorted(df.columns)
    rows = sorted(tuple(check_oracle.norm_cell(v) for v in row)
                  for row in df[cols].itertuples(index=False))
    h = hashlib.sha256(json.dumps([cols, rows]).encode())
    return h.hexdigest(), len(rows)


def dump_hash(con, dump_dir, name):
    parts = sorted(glob.glob(os.path.join(dump_dir, name, "*.parquet")))
    if not parts:
        raise FileNotFoundError(f"no result dumped for {name}")
    return canonical_hash(con.execute("SELECT * FROM read_parquet(?)", [parts]).fetchdf())


def check(dump_dir, names):
    """Map each failing query name to its reason; empty when all match."""
    expected = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    con = duckdb.connect()
    bad = {}
    for name in names:
        try:
            got = list(dump_hash(con, dump_dir, name))
        except Exception as e:  # a missing or unreadable dump is a failure
            bad[name] = f"{type(e).__name__}: {e}"
            continue
        if name not in expected:
            bad[name] = "no recorded hash"
        elif got != expected[name]:
            bad[name] = f"result hash {got} != recorded {expected[name]}"
    return bad


def record(dump_dir):
    if check_oracle.main(dump_dir, DATA_DIR) != 0:
        print("not recorded: a query does not match its oracle")
        return 1
    con = duckdb.connect()
    oracle = json.load(open(os.path.join(dump_dir, "oracle_sql.json")))
    hashes = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    for name in oracle:
        hashes[name] = list(dump_hash(con, dump_dir, name))
    with open(EXPECTED, "w") as f:
        json.dump(dict(sorted(hashes.items())), f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "record":
        sys.exit(__doc__)
    sys.exit(record(sys.argv[2]))
