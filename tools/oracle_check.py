#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Reads each Verify output parquet, runs the matching oracle SQL in DuckDB
against the same testdata parquet tables, and compares: columns sorted by
name, rows sorted, values hashed. Usage:

    python3 tools/oracle_check.py /tmp/verify_out /root/testdata/sf0.01

Reads SPARK_GRAFT_VERIFY_ONLY as graft.Verify does (comma-separated
names; unset selects every query). A selected query with no output dir
is a FAIL: Verify only logs a query that throws, so a missing dump is
how a crash shows here. Queries outside the filter are skipped.
"""
import json
import math
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # full precision
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return out


def selected_names(env=os.environ):
    """The SPARK_GRAFT_VERIFY_ONLY names, or None (all) when it is unset."""
    raw = env.get("SPARK_GRAFT_VERIFY_ONLY")
    if raw is None:
        return None
    return {n.strip() for n in raw.split(",") if n.strip()}


def main(outdir, sfdir, report_path=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    ok = bad = skipped = 0
    report = {}
    only = selected_names()
    for name, sql in sorted(oracle.items()):
        # Verify dumps oracle_sql.json in full even under
        # SPARK_GRAFT_VERIFY_ONLY; queries outside the filter are skipped.
        if only is not None and name not in only:
            skipped += 1
            report[name] = {"status": "not_selected"}
            continue
        if not os.path.isdir(f"{outdir}/{name}"):
            print(f"FAIL {name}: not dumped (the query failed in Verify)",
                  flush=True)
            bad += 1
            report[name] = {"status": "fail", "err": "not dumped",
                            "rows_match": False, "schema_match": False,
                            "hash_match": False}
            continue
        t0 = time.monotonic()
        try:
            spark_rel = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'")
            spark_cols = [c.lower() for c in spark_rel.columns]
            spark_rows = spark_rel.fetchall()
            duck_rel = con.sql(sql)
            duck_cols = [c.lower() for c in duck_rel.columns]
            # The driver's harness may canonicalize non-int64 integer types
            # (HUGEINT from sum(), DECIMAL) via float/Decimal -> "187.0" !=
            # "187". Flag them so the oracle SQL gets an explicit CAST.
            for c, t in zip(duck_rel.columns, duck_rel.types):
                if str(t) in ("HUGEINT", "UHUGEINT") or str(t).startswith("DECIMAL"):
                    print(f"WARN {name}: column {c} has oracle type {t}; "
                          f"CAST it to BIGINT/DOUBLE in the oracle SQL",
                          flush=True)
            duck_rows = duck_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}", flush=True)
            bad += 1
            # driver-schema row (r19 verdict #5): all three match bits
            # present and False so the artifact is a mechanical drop-in
            # for the driver's CORRECTNESS_rN.json when that comes back {}
            report[name] = {"status": "fail", "err": str(e)[:500],
                            "rows_match": False, "schema_match": False,
                            "hash_match": False}
            continue
        schema_match = sorted(spark_cols) == sorted(duck_cols)
        rows_match = len(spark_rows) == len(duck_rows)
        if not schema_match:
            print(f"FAIL {name}: columns {sorted(spark_cols)} != {sorted(duck_cols)}",
                  flush=True)
            bad += 1
            report[name] = {"status": "fail", "err": "schema mismatch",
                            "rows_match": rows_match, "schema_match": False,
                            "hash_match": False,
                            "spark_cols": sorted(spark_cols),
                            "oracle_cols": sorted(duck_cols)}
            continue
        a = table_key(spark_rows, spark_cols)
        b = table_key(duck_rows, duck_cols)
        dt = time.monotonic() - t0
        if a == b:
            print(f"OK   {name} ({len(a)} rows, {dt:.1f}s)", flush=True)
            ok += 1
            report[name] = {"status": "ok", "rows": len(a),
                            "rows_match": True, "schema_match": True,
                            "hash_match": True, "oracle_sec": round(dt, 2)}
        else:
            report[name] = {"status": "fail", "err": "value mismatch",
                            "rows_match": len(a) == len(b),
                            "schema_match": True, "hash_match": False,
                            "spark_rows": len(a), "oracle_rows": len(b)}
            print(f"FAIL {name}: value mismatch ({len(a)} vs {len(b)} rows)",
                  flush=True)
            for i, (x, y) in enumerate(zip(a, b)):
                if x != y:
                    print(f"  row {i}: spark={x}", flush=True)
                    print(f"          duck ={y}", flush=True)
                    break
            if len(a) != len(b):
                sa, sb = set(map(tuple, a)), set(map(tuple, b))
                print(f"  only-spark: {list(sa - sb)[:2]}", flush=True)
                print(f"  only-duck : {list(sb - sa)[:2]}", flush=True)
            bad += 1
    print(f"\n{ok} ok, {bad} fail" +
          (f", {skipped} not selected (VERIFY_ONLY filter)" if skipped else ""))
    if report_path:
        summary = {"sf_dir": sfdir,
                   "counts": {"ok": ok, "fail": bad, "not_selected": skipped},
                   "queries": report}
        with open(report_path, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"report -> {report_path}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
