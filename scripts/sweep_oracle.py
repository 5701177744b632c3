#!/usr/bin/env python
"""Correctness sweep: every registered query vs its DuckDB oracle.

Usage: python scripts/sweep_oracle.py [sf_dir] [pattern ...]

Runs the same rows+columns+values comparison as tests/test_oracle.py at
an arbitrary scale factor (default: the sf0.01 test data).  Patterns are
substring filters over query names (default: every query).  Each query
runs inside its own ``cache_scope`` after its ``setup`` hook; queries
without an oracle (``sql is None``) get a rows-only check.  Prints one
line per query and a failure summary; exits 1 on any mismatch.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from columnar_analytics_engine_spark.compare import compare, oracle_connection
from columnar_analytics_engine_spark.functions.caching import cache_scope
from columnar_analytics_engine_spark.queries import all_queries
from columnar_analytics_engine_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    patterns = sys.argv[2:]
    qs = all_queries()
    names = [n for n in sorted(qs) if not patterns or any(p in n for p in patterns)]
    spark = get_spark(app_name="cae-sweep")
    con = oracle_connection(sf_dir)
    failures: list[str] = []
    for i, name in enumerate(names):
        spec = qs[name]
        start = time.perf_counter()
        with cache_scope():
            try:
                if spec.setup is not None:
                    spec.setup(spark, sf_dir)
                if spec.sql is None:
                    n = spec.fn(spark, sf_dir).count()
                    ok, detail = n >= 0, f"rows-only n={n}"
                else:
                    res = compare(name, spec.fn(spark, sf_dir), spec.sql, con)
                    ok, detail = res.ok, str(res)
            except Exception as exc:  # noqa: BLE001 - report and continue
                ok, detail = False, f"EXC {type(exc).__name__}: {exc}"
        dur = time.perf_counter() - start
        print(f"{i:3d} {'ok  ' if ok else 'FAIL'} {dur:6.2f}s {name}"
              + ("" if ok else f"\n      {detail}"), flush=True)
        if not ok:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} ok, {len(failures)} failures"
          + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
