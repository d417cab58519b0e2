#!/usr/bin/env python
"""Full exact-compare oracle sweep at the driver's scale (VERDICT r4 #6).

Runs every ``queries()`` entry against its DuckDB oracle at the given
scale factor with the comparison ``tests/test_oracle_parity.py`` uses
(``oracles.canonical_rows``: exact (type, repr) values), and writes a
one-line-per-query log suitable for committing into BENCH/.

    python scripts/exact_sweep.py [--sf-dir /root/testdata/sf0.01]
                                  [--out BENCH/exact_sweep_r5.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from r2rml_parser_spark.oracles import canonical_rows, oracle_db  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from r2rml_parser_spark.session import build_session

    spark = build_session()
    con = oracle_db(args.sf_dir)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: dict[str, dict] = {}
    n_exact = n_rows_only = n_fail = 0
    t0 = time.monotonic()
    for name in sorted(queries):
        entry: dict = {}
        try:
            df = queries[name](spark, args.sf_dir)
            spark_cols = df.columns
            spark_rows = canonical_rows(spark_cols, df.collect())
            entry["spark_rows"] = len(spark_rows)
            if name in oracles:
                res = con.execute(oracles[name])
                duck_cols = [d[0] for d in res.description]
                duck_rows = canonical_rows(duck_cols, res.fetchall())
                entry["oracle_rows"] = len(duck_rows)
                entry["cols_match"] = sorted(spark_cols) == sorted(duck_cols)
                entry["exact_match"] = (
                    entry["cols_match"] and spark_rows == duck_rows
                )
                if entry["exact_match"]:
                    n_exact += 1
                else:
                    n_fail += 1
                    diffs = [
                        (repr(a)[:120], repr(b)[:120])
                        for a, b in zip(spark_rows, duck_rows)
                        if a != b
                    ][:3]
                    entry["first_diffs"] = diffs
            else:
                entry["rows_only"] = True
                n_rows_only += 1
        except Exception as e:  # record, keep sweeping
            entry["error"] = f"{type(e).__name__}: {e}"[:300]
            n_fail += 1
        results[name] = entry

    out = {
        "sf_dir": args.sf_dir,
        "total": len(queries),
        "exact_match": n_exact,
        "rows_only": n_rows_only,
        "failures": n_fail,
        "elapsed_sec": round(time.monotonic() - t0, 1),
        "results": results,
    }
    line = json.dumps(out)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    print(
        json.dumps(
            {k: out[k] for k in ("sf_dir", "total", "exact_match",
                                 "rows_only", "failures", "elapsed_sec")}
        )
    )
    if n_fail:
        for name, e in results.items():
            if e.get("error") or e.get("exact_match") is False:
                print(f"FAIL {name}: {e.get('error') or e.get('first_diffs')}",
                      file=sys.stderr)
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
