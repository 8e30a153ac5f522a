"""Per-query build and exec CPU of the headline queries in a warm session.

A query's cost splits into its build phase (the registry function: table
loads with their schema inference, and eager probe jobs such as counts,
min/max aggregates and sketches) and its exec phase (the main job, here a
noop write, as the benchmark runs it). At sf0.1 the build phase's fixed
per-query jobs can cost as much as the main job, which one number per
query hides. This script runs the queries in one session, warms it for
``--warm`` passes, then for ``--passes`` passes measures per query and
phase the CPU seconds of the driver, the JVM and its Python workers (read
from /proc with ``perfbench.workloads.cpu_snapshot``, JIT compiler
threads left out, as the benchmark's ``query_cpu_s``), the Spark jobs
the phase started and the generated classes it compiled (Janino compiles,
from Spark's ``CodegenMetrics``; 0 once the session's codegen cache holds
the query's classes). Every query starts with the engine's memo flushed
(``release_ordinal_caches``), as in the benchmark's timed passes, so its
build should read 0 memo hits; the misses count its memoised probes and
persists (``indexing.memo_counts``), and ``footers`` counts the density
misses read from parquet footers with no job. Job, compile and memo
counts are those of the last pass; the JSON's total also splits memo
misses by lookup kind.

Usage: python scripts/headline_profile.py <sf_dir> [query ...] [--warm N] [--passes N]

Prints the JVM's class archive state (``session.class_archive_state``),
one row per query with the median CPU per phase, then one JSON object
with the same figures as its last line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import HEADLINE_QUERIES, cpu_delta_s, cpu_snapshot  # noqa: E402
from semantic_cpp_spark.session import class_archive_state, codegen_compiles  # noqa: E402


def _phase(spark, group, fn):
    """(fn(), CPU seconds it took, classes it compiled) with its Spark
    jobs tagged ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        n = codegen_compiles(spark)
        a = cpu_snapshot(os.getpid())
        out = fn()
        b = cpu_snapshot(os.getpid())
        n = codegen_compiles(spark) - n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, cpu_delta_s(a, b)[0], n


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="*", default=HEADLINE_QUERIES)
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()

    from semantic_cpp_spark import registry
    from semantic_cpp_spark.indexing import memo_counts, release_ordinal_caches
    from semantic_cpp_spark.session import get_spark

    spark = get_spark("headline_profile")
    spark.sparkContext.setLogLevel("ERROR")
    archive = class_archive_state(spark)
    qs = registry.queries()
    cpu = {q: {"build": [], "exec": []} for q in args.queries}
    compiled, memo = {}, {}
    last = args.warm + args.passes - 1
    try:
        for p in range(args.warm + args.passes):
            for q in args.queries:
                release_ordinal_caches()
                before = memo_counts()
                df, build, build_n = _phase(
                    spark, f"{q}:{p}:build", lambda: qs[q](spark, args.sf_dir)
                )
                _, run, run_n = _phase(
                    spark, f"{q}:{p}:exec",
                    lambda: df.write.format("noop").mode("overwrite").save(),
                )
                compiled[q] = (build_n, run_n)
                memo[q] = memo_counts() - before
                if p >= args.warm:
                    cpu[q]["build"].append(build)
                    cpu[q]["exec"].append(run)
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        out = {}
        for q in args.queries:
            out[q] = {
                "build_cpu_s": round(statistics.median(cpu[q]["build"]), 3),
                "build_jobs": len(tracker.getJobIdsForGroup(f"{q}:{last}:build")),
                "build_compiles": compiled[q][0],
                "exec_cpu_s": round(statistics.median(cpu[q]["exec"]), 3),
                "exec_jobs": len(tracker.getJobIdsForGroup(f"{q}:{last}:exec")),
                "exec_compiles": compiled[q][1],
                "memo_hits": memo[q]["hits"],
                "memo_misses": memo[q]["misses"],
                "density_footers": memo[q]["density footers"],
            }
    finally:
        spark.stop()

    print(f"class archive {archive}")
    print(f"{'query':<26}{'build_cpu_s':>12}{'jobs':>6}{'compiles':>9}"
          f"{'exec_cpu_s':>12}{'jobs':>6}{'compiles':>9}{'memo_hits':>10}{'memo_misses':>12}"
          f"{'footers':>8}")
    cols = ("build_cpu_s", "build_jobs", "build_compiles", "exec_cpu_s", "exec_jobs",
            "exec_compiles", "memo_hits", "memo_misses", "density_footers")
    tot = {k: round(sum(r[k] for r in out.values()), 3) for k in cols}
    for q, r in [*out.items(), ("total", tot)]:
        print(f"{q:<26}{r['build_cpu_s']:>12.3f}{r['build_jobs']:>6}{r['build_compiles']:>9}"
              f"{r['exec_cpu_s']:>12.3f}{r['exec_jobs']:>6}{r['exec_compiles']:>9}"
              f"{r['memo_hits']:>10}{r['memo_misses']:>12}{r['density_footers']:>8}")
    by_kind = sum(memo.values(), Counter())
    tot["memo_misses_by_kind"] = {
        k.removesuffix(" misses"): v for k, v in sorted(by_kind.items())
        if k.endswith(" misses") and k != "misses"
    }
    print(f"memo misses by kind: {tot['memo_misses_by_kind']}")
    print(json.dumps({"sf_dir": args.sf_dir, "warm": args.warm, "passes": args.passes,
                      "class_archive": archive, "queries": out, "total": tot}))


if __name__ == "__main__":
    main()
