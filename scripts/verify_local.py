#!/usr/bin/env python
"""Local mirror of the driver's correctness gate — hardened (round 5).

Round-4 post-mortem: the driver materializes oracle results through a
pandas/Arrow path, which silently converts DuckDB HUGEINT to float64
(`0` -> `0.0`), so 13 oracles whose aggregates promoted to HUGEINT
hash-failed in the driver while this script's `fetchall()` (ints stay
ints) said green. This version closes that gap three ways:

1. **Result-type lint**: every oracle's output schema is checked via
   `DESCRIBE <sql>`; any HUGEINT / UHUGEINT / DECIMAL / UBIGINT column
   is an immediate FAIL regardless of values (those types do not
   survive Arrow/pandas materialization with their Python type intact).
2. **Arrow fetch**: oracle values come through `.arrow().to_pylist()`
   — the same columnar path the driver uses — instead of the native
   `fetchall()`, so any type the lint misses still surfaces as a typed
   mismatch (HUGEINT arrives as `Decimal`, which compares unequal to a
   Spark `int` below).
3. **Typed exact compare**: cells are normalized with an explicit type
   tag, so `8963` (int) != `8963.0` (float) != `Decimal('8963')`, and
   floats compare EXACTLY (bit-identical). The old 6-dp rounding is
   demoted to a report-only annotation: a failure that would pass at
   6 dp is labeled `near_miss_at_6dp` so FP noise is visible, never
   silently passed.

A lost Spark JVM (py4j connection gone) stops the run: the running
query fails as ``jvm lost``, the rest are recorded as ``not_run``, and
the exit status is nonzero.

Usage:
  python scripts/verify_local.py [--sf DIR] [--lint-only] [query ...]
  python scripts/verify_local.py --json VERIFY_LOCAL_rN.json
"""

from __future__ import annotations

import argparse
import decimal
import math
import os
import re
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

# Output column types that do not materialize faithfully through the
# driver's Arrow/pandas path. DuckDB promotes sum()/count_if() over
# integers to HUGEINT; oracles must CAST(... AS BIGINT) explicitly.
FORBIDDEN_TYPE_RE = re.compile(r"HUGEINT|UHUGEINT|DECIMAL|UBIGINT|UINTEGER|USMALLINT|UTINYINT")


def norm_cell(v, exact_floats=True):
    """Type-tagged canonical form: int/float/Decimal are all distinct."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v) if exact_floats else repr(round(v, 6)))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("D", str(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, bytes):
        return ("y", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(norm_cell(x, exact_floats) for x in v))
    if isinstance(v, dict):
        return (
            "m",
            tuple(sorted((k, norm_cell(x, exact_floats)) for k, x in v.items())),
        )
    return v


def to_multiset(cols, rows, exact_floats=True):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(norm_cell(r[i], exact_floats) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def lint_oracle_types(con, sql):
    """Return list of (column, type) pairs whose DuckDB output type
    would not survive the driver's Arrow/pandas materialization."""
    desc = con.execute("DESCRIBE " + sql).fetchall()
    return [(row[0], row[1]) for row in desc if FORBIDDEN_TYPE_RE.search(row[1])]


def fetch_oracle_arrow(con, sql):
    """Fetch through Arrow — mirrors the driver's columnar path."""
    tbl = con.execute(sql).arrow()
    cols = tbl.column_names
    rows = [tuple(d[c] for c in cols) for d in tbl.to_pylist()]
    return cols, rows


def jvm_lost(spark, exc) -> bool:
    """True when ``exc`` means the Spark JVM is gone: a py4j network
    error anywhere in its chain, or a py4j error after which the gateway
    no longer answers a trivial call."""
    from py4j.protocol import Py4JError, Py4JNetworkError

    chain, e = [], exc
    while e is not None and e not in chain:
        chain.append(e)
        e = e.__cause__ or e.__context__
    if any(isinstance(e, Py4JNetworkError) for e in chain):
        return True
    if not any(isinstance(e, Py4JError) for e in chain):
        return False
    try:
        spark.sparkContext._jvm.java.lang.System.currentTimeMillis()
    except Exception:
        return True
    return False


def check_query(spark, con, name, query, oracle, sf):
    """Run one query and compare it with its oracle (``None``: rows
    only). Returns the report record; a Spark error propagates."""
    from commercial_rfp_data_pipeline_spark.io import release_pinned

    t0 = time.time()
    release_pinned()  # each query re-pins its own build products
    sdf = query(spark, sf)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if oracle is None:
        print(f"ok   {name}: rows-only, {len(srows)} rows  [{time.time()-t0:.1f}s]")
        return {"status": "rows_only", "spark_rows": len(srows)}
    problems = []
    near_miss = False
    try:
        offenders = lint_oracle_types(con, oracle)
        if offenders:
            problems.append(
                "oracle output type lint: "
                + ", ".join(f"{c}:{t}" for c, t in offenders)
                + " (HUGEINT/DECIMAL do not survive driver materialization; "
                "CAST to BIGINT/DOUBLE in the oracle SQL)"
            )
        ocols, orows = fetch_oracle_arrow(con, oracle)
    except Exception:
        print(f"FAIL {name}: oracle error\n{traceback.format_exc()}")
        return {"status": "fail", "err": "oracle error"}
    if sorted(scols) != sorted(ocols):
        problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if not problems:
        ms = to_multiset(scols, srows)
        mo = to_multiset(ocols, orows)
        if ms != mo:
            # report-only tolerance: would 6-dp rounding have passed?
            ms6 = to_multiset(scols, srows, exact_floats=False)
            mo6 = to_multiset(ocols, orows, exact_floats=False)
            near_miss = ms6 == mo6
            only_s = [k for k in ms if ms[k] != mo.get(k, 0)][:3]
            only_o = [k for k in mo if mo[k] != ms.get(k, 0)][:3]
            problems.append(
                f"values diff: {sum(abs(ms.get(k,0)-mo.get(k,0)) for k in set(ms)|set(mo))} cells"
                + (" [NEAR-MISS: equal at 6dp — FP noise, still a FAIL]" if near_miss else "")
                + f"\n  spark-only sample: {only_s}\n  oracle-only sample: {only_o}"
            )
    if problems:
        print(f"FAIL {name}: " + "; ".join(problems) + f"  [{time.time()-t0:.1f}s]")
        return {
            "status": "fail",
            "err": "; ".join(problems)[:500],
            "near_miss_at_6dp": near_miss,
        }
    print(f"PASS {name}: {len(srows)} rows  [{time.time()-t0:.1f}s]")
    return {"status": "pass", "rows": len(srows), "hash_match": True}


def run_queries(spark, con, queries, oracles, names, sf):
    """Check each named query in turn; returns ``{name: record}``.

    A Spark error fails that query and the run goes on, unless the JVM
    is gone: then every later query would fail the same way, so the run
    stops, the running query fails with ``jvm lost`` and the rest are
    recorded as ``not_run``."""
    report = {}
    for i, name in enumerate(names):
        try:
            report[name] = check_query(
                spark, con, name, queries[name], oracles.get(name), sf
            )
        except Exception as exc:
            if jvm_lost(spark, exc):
                rest = names[i + 1:]
                print(
                    f"STOP {name}: the Spark JVM is gone ({exc!r:.200}); "
                    f"{len(rest)} queries not run"
                )
                report[name] = {"status": "fail", "err": "jvm lost"}
                report.update({n: {"status": "not_run"} for n in rest})
                break
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            report[name] = {"status": "fail", "err": "spark error"}
    return report


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--json",
        default=None,
        help="write per-query results to this path (the committed "
        "artifact substantiating the full-registry claim)",
    )
    ap.add_argument(
        "--lint-only",
        action="store_true",
        help="only run the oracle output-type audit (no Spark, fast); "
        "exits nonzero if any oracle emits a forbidden column type",
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from commercial_rfp_data_pipeline_spark.io import TABLES
    from commercial_rfp_data_pipeline_spark.registry import all_oracles, all_queries

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    queries = all_queries()
    oracles = all_oracles()
    names = args.queries or sorted(queries)

    if args.lint_only:
        bad = 0
        for name in names:
            if name not in oracles:
                continue
            try:
                offenders = lint_oracle_types(con, oracles[name])
            except Exception as e:
                print(f"LINT-ERR {name}: {e}")
                bad += 1
                continue
            if offenders:
                print(f"LINT-FAIL {name}: {offenders}")
                bad += 1
        total = sum(1 for n in names if n in oracles)
        print(f"\n{total - bad}/{total} oracles type-clean")
        return 1 if bad else 0

    from commercial_rfp_data_pipeline_spark.session import get_spark

    spark = get_spark()
    report = run_queries(spark, con, queries, oracles, names, args.sf)
    failed = sum(1 for r in report.values() if r["status"] == "fail")
    not_run = sum(1 for r in report.values() if r["status"] == "not_run")
    print(f"\n{len(names)-failed-not_run}/{len(names)} passed")
    if args.json:
        import json

        with open(args.json, "w") as f:
            json.dump(
                {"sf": args.sf, "passed": len(names) - failed - not_run,
                 "total": len(names), "not_run": not_run, "queries": report},
                f,
                indent=1,
            )
    return 1 if failed or not_run else 0

if __name__ == "__main__":
    sys.exit(main())
