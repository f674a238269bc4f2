#!/usr/bin/env python3
"""Diffs a `graft.Verify` dump against the DuckDB oracle SQL.

    python3 tools/oracle_diff.py <sfDir> <verifyOutDir>

`graft.Verify <sfDir> <verifyOutDir> [q1,q2,...]` writes one parquet
directory per ledger query plus `oracle_sql.json` (query name -> DuckDB
SQL). This script registers every `<sfDir>/<table>.parquet` (a file or a
directory of part files) as a DuckDB view named `<table>`, runs each
oracle statement, and compares its rows with the engine's parquet.

The comparison is exact: both sides are read through DuckDB, columns are
aligned by (case-insensitive) name, and the rows must be equal as a
multiset. Row order is not compared. Verdicts per query:

  match      engine rows == oracle rows
  MISMATCH   they differ (row counts and a few differing rows are shown)
  no_oracle  the ledger has no oracle statement; the row count is shown
  failed     the engine wrote no output, or the oracle statement raised

Each line also shows the seconds DuckDB spent on the oracle statement
("-" when none ran), and the totals line their sum.

Only queries present in the dump are reported, so a filtered Verify run
gives a filtered diff; a query that threw in Verify leaves no output and
is counted on the `note:` line, next to the queries a filter left out
(Verify's stderr names the failures). Prints totals last; exits 1 on any
MISMATCH or failed query, else 0.
"""
import collections
import glob
import json
import math
import os
import sys
import time

sys.dont_write_bytecode = True
import duckdb  # noqa: E402


def parquet_glob(path):
    """read_parquet argument for a parquet file or a directory of parts."""
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def norm(v):
    """Hashable, exactly comparable form of one DuckDB value."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def rows(con, sql):
    """(lower-cased column names, fetched rows) of one statement."""
    rel = con.sql(sql)
    return [c.lower() for c in rel.columns], rel.fetchall()


def compare(mine_cols, mine, theirs_cols, theirs):
    """None on an exact multiset match, else a short description."""
    if sorted(mine_cols) != sorted(theirs_cols):
        return "columns differ: engine %s, oracle %s" % (mine_cols, theirs_cols)
    idx = [theirs_cols.index(c) for c in mine_cols]
    a = collections.Counter(tuple(norm(v) for v in r) for r in mine)
    b = collections.Counter(tuple(norm(r[i]) for i in idx) for r in theirs)
    if a == b:
        return None
    only_a = list((a - b).elements())[:3]
    only_b = list((b - a).elements())[:3]
    return "engine %d rows, oracle %d rows; engine-only %s; oracle-only %s" % (
        len(mine), len(theirs), only_a, only_b)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    # DuckDB's default limit is 80% of RAM; a runaway oracle statement
    # should fail as `failed`, not starve everything else on the host
    con.execute("SET memory_limit = '4GB'")
    for t in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(t)[: -len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (name, parquet_glob(t)))
    queries = sorted(d for d in os.listdir(out_dir)
                     if os.path.isdir(os.path.join(out_dir, d)))
    totals = collections.Counter()
    oracle_s = 0.0
    for q in queries:
        engine = parquet_glob(os.path.join(out_dir, q))
        secs = None
        try:
            mine_cols, mine = rows(con, "SELECT * FROM read_parquet('%s')" % engine)
        except duckdb.Error as e:
            verdict, detail = "failed", "engine output unreadable: %s" % e
        else:
            sql = oracle.get(q)
            if sql is None:
                verdict, detail = "no_oracle", "%d rows" % len(mine)
            else:
                t0 = time.monotonic()
                try:
                    theirs = rows(con, sql)
                except duckdb.Error as e:
                    theirs = e
                secs = time.monotonic() - t0
                oracle_s += secs
                if isinstance(theirs, duckdb.Error):
                    verdict, detail = "failed", "oracle raised: %s" % theirs
                else:
                    diff = compare(mine_cols, mine, *theirs)
                    verdict = "match" if diff is None else "MISMATCH"
                    detail = "%d rows" % len(mine) if diff is None else diff
        totals[verdict] += 1
        print("%-28s %-9s %7s %s" % (q, verdict,
              "-" if secs is None else "%.2fs" % secs, detail), flush=True)
    missing = len(set(oracle) - set(queries))
    if missing:
        print("note: %d oracle queries have no engine output (the query failed "
              "in Verify, or Verify's filter left it out)" % missing)
    print("total: %d match / %d MISMATCH / %d no_oracle / %d failed; "
          "oracle statements %.1fs in DuckDB" % (
              totals["match"], totals["MISMATCH"], totals["no_oracle"],
              totals["failed"], oracle_s))
    sys.exit(1 if totals["MISMATCH"] or totals["failed"] else 0)


if __name__ == "__main__":
    main()
