"""Local replica of the correctness gate: run every ``queries()``
entry at sf0.01 and diff against ``oracle_sql()`` via DuckDB (row
count, sorted-column value comparison).

    python scripts/check_oracles.py [SF_DIR [NAME_PREFIX]]

A second argument runs only the queries whose name starts with it,
e.g. ``streaming_`` for the streaming jobs."""

from __future__ import annotations

import os
import sys
import time

import duckdb

# import the checkout this script lives in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
import __spark_entry__ as entry_mod  # noqa: E402
from cuckoofilter_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
PREFIX = sys.argv[2] if len(sys.argv) > 2 else ""
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    spark = get_spark(cores=8)
    qs = {k: v for k, v in entry_mod.queries().items()
          if k.startswith(PREFIX)}
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: query raised {type(e).__name__}: {e}")
            failures += 1
            continue
        dt = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            print(f"ok?  {name}: rows={len(got)} ({dt:.1f}s) [no oracle]")
            continue
        want = con.execute(sql).df()
        g = got.reindex(sorted(got.columns), axis=1)
        w = want.reindex(sorted(want.columns), axis=1)
        g = g.sort_values(list(g.columns)).reset_index(drop=True)
        w = w.sort_values(list(w.columns)).reset_index(drop=True)
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} vs {len(w)} ({dt:.1f}s)")
            failures += 1
            continue
        try:
            same = (g.astype(str).values == w.astype(str).values).all()
        except Exception:
            same = False
        if same:
            print(f"PASS {name}: rows={len(g)} ({dt:.1f}s)")
        else:
            print(f"FAIL {name}: value mismatch ({dt:.1f}s)")
            print("  spark:", g.head(3).to_dict("records"))
            print("  duck :", w.head(3).to_dict("records"))
            failures += 1
    spark.stop()
    print(f"{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
