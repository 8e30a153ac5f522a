"""Local replica of the driver's correctness gate.

Runs every registry query on Spark and its oracle on DuckDB at the given
sf dir, compares row count, column names, and values (sorted rows, columns
sorted by name, exact match after canonicalisation; doubles compared to
1e-9 relative as a diagnostic fallback so we can tell "tiny float drift"
from "wrong answer").

The summary line also gives the generated classes the sweep compiled
(Janino compiles, from Spark's ``CodegenMetrics``), so a change in how
often generated code is rebuilt shows without a profiler, and the
engine memo's hits and misses over the sweep (``indexing.memo_counts``;
the sweep never flushes the memo, so queries over one plan share it),
with how many density misses parquet footers answered without a job.

Usage: python scripts/verify_local.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def close_enough(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if va == vb:
                continue
            try:
                fa, fb = float(va), float(vb)
                if not math.isclose(fa, fb, rel_tol=1e-6, abs_tol=1e-6):
                    return False
            except ValueError:
                return False
    return True


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    import __spark_entry__ as e
    from semantic_cpp_spark.indexing import memo_counts
    from semantic_cpp_spark.session import class_archive_state, codegen_compiles, get_spark

    spark = get_spark("verify_local")
    archive = class_archive_state(spark)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    compiled0, memo0, t_sweep = codegen_compiles(spark), memo_counts(), time.time()
    qs, oracles = e.queries(), e.oracle_sql()
    passed = failed = skipped = 0
    for name, fn in qs.items():
        if name_filter and name_filter not in name:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}", flush=True)
            failed += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)", flush=True)
            skipped += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}", flush=True)
            failed += 1
            continue
        msgs = []
        if len(srows) != len(orows):
            msgs.append(f"rowcount {len(srows)} vs {len(orows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
            msgs.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        if not msgs:
            sk, ok = rows_key(srows, scols), rows_key(orows, ocols)
            if sk != ok:
                if close_enough(sk, ok):
                    msgs.append("FLOAT-DRIFT (values within 1e-6 but hash differs)")
                else:
                    diffs = [
                        (a, b) for a, b in zip(sk, ok) if a != b
                    ][:3]
                    msgs.append(f"values differ, e.g. {diffs}")
        if msgs:
            print(f"FAIL {name}: {'; '.join(msgs)}", flush=True)
            failed += 1
        else:
            print(f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)", flush=True)
            passed += 1
    memo = memo_counts() - memo0
    print(f"\n{passed} passed, {failed} failed, {skipped} rows-only, "
          f"{codegen_compiles(spark) - compiled0} classes compiled, "
          f"{memo['hits']} memo hits, {memo['misses']} memo misses "
          f"({memo['density footers']} density probes read from footers), "
          f"class archive {archive}, {time.time() - t_sweep:.0f} s")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
