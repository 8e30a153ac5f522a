"""Headline benchmark: runs the flagship queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Query set = the performance-representative subset (scan+agg, joins,
window replication, ordinal machinery) — not every correctness query.

HEAVY TIER (VERDICT r14 item 8): the LM/dedup/n-gram gates where the
O(L²) projection-collapse class lives are invisible at sf0.1, so after
the headline the bench also runs HEAVY_QUERIES once each at the
sf1.0 step-up fixture (gitignored .localdata/sf1.0, regenerated per
round by scripts/gen_fixtures.py) and attaches the timings under the
"heavy" key of the SAME single JSON line (the driver contract mandates
exactly one line, so a literal second line would break its parse —
the trend data still lands in BENCH_r*.json). Absent fixture → heavy
is null; disable explicitly with SPARK_GRAFT_BENCH_HEAVY=0. One run,
no median: plan-channel regressions in this class are step changes
(3-7×), far above host noise.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "rel_q1_pricing_summary",
    "rel_q3_top_revenue",
    "rel_q5_nation_revenue",
    "rel_topk_per_segment",
    "sem_sort_stable",
    "sem_filter_rebases_idx",
    "agg_skew_kurt",
    "agg_quantiles",
    "grp_frequency_profile",
    "win_tumble",
    "win_slide",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "txt_quality_score",
]

# The plan-regression canaries for the token-explode / n-gram / LM
# family (where sub-sf1.0 scales can't see super-linear pathologies).
# One representative per executed path: perplexity_bands + kn_scores
# cover the two _lm_events model shapes, decontaminate covers the
# word_ngrams barrier (gopher_rules shares it), ngram_novelty covers
# the hash-keyed span exchanges (shared_spans shares them),
# minhash_lsh covers the banded LSH self-join.
HEAVY_QUERIES = [
    "txt_lm_perplexity_bands",
    "txt_lm_kn_scores",
    "txt_decontaminate",
    "txt_ngram_novelty",
    "dedup_minhash_lsh",
    # r16 additions (VERDICT r15 #8, additions-only): the two most
    # expensive remaining families get driver-side trend data now that
    # the novelty fix freed the budget — the graph iteratives
    # (checkpoint-cadence sensitive) and the streaming tier
    # (state-store-commit dominated).
    "graph_pagerank_top10",
    "stream_stream_join",
]
HEAVY_SF_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".localdata", "sf1.0"
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from semantic_cpp_spark import registry
    from semantic_cpp_spark.session import get_spark

    spark = get_spark("bench")
    qs = registry.queries()

    # Warm the JVM + parquet footers with one cheap action.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # Protocol: one untimed warm-up execution per query (JIT, parquet
    # footer cache, Arrow init), then the MEDIAN of n timed executions
    # (default 3, override $SPARK_GRAFT_BENCH_RUNS) — machine noise on
    # this box is documented at 2-3×, and a median of 3 keeps the
    # steady-state number comparable across rounds without chasing it.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    # Cache-flush protocol (VERDICT r15 #3 — de-gaming): the engine
    # keeps probe results and persisted intermediates in one plan-keyed
    # memo (indexing.memo). It is a legitimate production feature
    # (reusing a signature index across queries in one session), but
    # left alone here the UNTIMED warm-up would populate it and every
    # timed run would measure warm persisted state. Flushing between the
    # warm-up and each timed run makes every timed run rebuild its
    # persisted intermediates from the parquet inputs INSIDE the timed
    # region.
    # The warm-up itself stays: it pays the JIT / parquet-footer /
    # Arrow-init costs that are session properties, not query work.
    from semantic_cpp_spark.indexing import release_ordinal_caches

    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = qs[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for _ in range(runs):
            release_ordinal_caches()
            t0 = time.time()
            df = fn(spark, sf_dir)
            # noop sink materialises every column (count() would let
            # Catalyst prune the aggregate expressions away).
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        # min-of-n alongside the median (VERDICT r10): the minimum is
        # the least-contended reading, so round-over-round deltas in
        # value_min separate plan changes from host noise; value stays
        # the median sum for cross-round continuity.
        timings_min[name] = round(samples[0], 3)

    # Boundary flush so a long-lived harness embedding bench.main()
    # doesn't accumulate persisted state into the heavy tier below.
    release_ordinal_caches()

    heavy = None
    if (
        os.environ.get("SPARK_GRAFT_BENCH_HEAVY", "1") != "0"
        and os.path.isdir(HEAVY_SF_DIR)
    ):
        # Wall-clock budget for the whole heavy tier (the driver runs
        # bench.py under a hard timeout; blowing it loses the HEADLINE
        # numbers too). Gates that don't start before the deadline are
        # reported as null — visible truncation, not silent.
        budget = float(os.environ.get("SPARK_GRAFT_BENCH_HEAVY_BUDGET", "360"))
        deadline = time.time() + budget
        heavy_t: dict[str, float | None] = {}
        for name in HEAVY_QUERIES:
            if time.time() >= deadline:
                heavy_t[name] = None
                continue
            # warmup run first: cold-start (JIT, parquet footers,
            # Arrow init) measured 4-8× the steady state — as
            # cold/warm noise it would bury the 3-7× plan-channel
            # step changes this tier exists to catch.
            qs[name](spark, HEAVY_SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            # same de-gaming flush as the headline loop: the timed run
            # rebuilds any persisted intermediates itself.
            release_ordinal_caches()
            t0 = time.time()
            qs[name](spark, HEAVY_SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            heavy_t[name] = round(time.time() - t0, 3)
        done = [v for v in heavy_t.values() if v is not None]
        heavy = {
            "sf": 1.0,
            "value": round(sum(done), 3),
            "queries": heavy_t,
            "skipped": sum(1 for v in heavy_t.values() if v is None),
        }

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "value_min": round(sum(timings_min.values()), 3),
        "queries_min": timings_min,
        "sf": float(sf) if sf else None,
        "heavy": heavy,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
