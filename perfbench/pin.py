#!/usr/bin/env python3
"""Pins the benchmark's reference results (perfbench/reference.json).

    python3 perfbench/pin.py

Runs every checked ledger query once on the generated input, and
cross-checks each result against the ledger's DuckDB oracle SQL
(SparkEntry.oracleSql) on the same parquet files before pinning its row
count and digest. A query without an oracle (pr_converged) is pinned by
its values, which run.py compares within a tolerance, and only if the
engine reports the run converged. Refuses to pin if any oracle comparison
fails, or if two queries give the same result, except stream_cc, which
must equal cc: both are the connected components of the weight >= 2 graph.
"""
import decimal
import itertools
import json
import os
import shutil
import sys

sys.dont_write_bytecode = True
import duckdb  # noqa: E402

import build  # noqa: E402
import run  # noqa: E402

SAME = {"stream_cc": "cc"}


def canon(v):
    """The harness's digest form: floats rounded half-even to 6 dp."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        d = decimal.Decimal(repr(v)).quantize(decimal.Decimal("0.000001"),
                                              rounding=decimal.ROUND_HALF_EVEN)
        return format(d, "f")
    return str(v)


def oracle_rows(sql, data_dir, columns):
    con = duckdb.connect()
    con.execute("CREATE VIEW lineitem AS SELECT * FROM read_parquet('%s/*.parquet')"
                % os.path.join(data_dir, "lineitem.parquet"))
    rel = con.sql(sql)
    names = [c.lower() for c in rel.columns]
    idx = [names.index(c.lower()) for c in columns]
    return sorted(tuple(canon(r[i]) for i in idx) for r in rel.fetchall())


def main():
    root = os.getcwd()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(root, out)
    work = os.path.join(out, "pin-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    dump = os.path.join(work, "pin.json")
    try:
        code = run.run_jvm(run.jvm_command(root, classes, work, {
            "mode": "pin", "cores": os.cpu_count() or 1, "out": dump}), 900)
        if code != 0:
            sys.exit("pin: harness failed (exit %s)" % code)
        with open(dump) as f:
            d = json.load(f)
        refs, failures = {}, []
        for q, r in sorted(d["results"].items()):
            sql = d["oracle_sql"].get(q)
            if sql is None:
                verdict = "no oracle"
            else:
                mine = sorted(tuple(row) for row in r["rows"])
                theirs = oracle_rows(sql, d["dir"], r["columns"])
                verdict = "oracle match" if mine == theirs else "ORACLE MISMATCH"
                if mine != theirs:
                    failures.append(q)
            print("%-15s %6d rows  %s" % (q, len(r["rows"]), verdict))
            refs[q] = {"rows": len(r["rows"]), "sha": r["sha"], "check": verdict}
            if sql is None:
                refs[q]["values"] = r["rows"]
        if not d["converged"]:
            failures.append("engine did not converge")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p, q in itertools.combinations(sorted(refs), 2):
        if refs[p]["sha"] == refs[q]["sha"] and SAME.get(q) != p and SAME.get(p) != q:
            failures.append("%s and %s give the same result" % (p, q))
    for q, p in SAME.items():
        if refs[q]["sha"] != refs[p]["sha"]:
            failures.append("%s differs from %s" % (q, p))
    if failures:
        sys.exit("pin: nothing pinned: " + ", ".join(failures))
    with open(os.path.join(run.HERE, "reference.json"), "w") as f:
        json.dump(refs, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
