"""Plan-shape assertions: the optimizations we rely on for the 100 TB
design point must be visible in the physical plan, not just hoped for."""

import pytest
from pyspark.sql import functions as F

from semantic_cpp_spark import registry_events as RE
from semantic_cpp_spark import registry_pipeline as RP


SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    import __spark_entry__ as e

    return e.queries()


def test_q1_pushdown_and_pruning(spark, qs):
    plan = _plan(qs["rel_q1_pricing_summary"](spark, SF))
    # shipdate filter reaches the scan; projection is pruned to 7 columns
    assert "l_shipdate" in plan and "DataFilters" in plan
    assert "l_orderkey" not in plan.split("FileScan")[1][:400]


def test_dim_joins_are_broadcast(spark, qs):
    for name in ("rel_q5_nation_revenue", "rel_q7_nation_volume"):
        plan = _plan(qs[name](spark, SF))
        assert "BroadcastHashJoin" in plan, name
        # constant-size dims must never sort-merge at any scale
        assert "SortMergeJoin" not in plan, name


def test_no_broadcast_hint_on_sf_scaling_tables(spark, qs):
    """customer/supplier/part/orders scale with SF: an explicit broadcast
    hint would OVERRIDE autoBroadcastJoinThreshold and force a multi-GB
    broadcast at 100 TB. Only the constant-size dims (nation=25, region=5
    rows) may carry a hint. We check the ANALYZED plan: every ResolvedHint
    subtree must bottom out in a nation/region relation (their leaf is the
    first Relation printed after the hint node in tree order)."""
    for name in (
        "rel_q1_pricing_summary",
        "rel_q3_top_revenue",
        "rel_q5_nation_revenue",
        "rel_q7_nation_volume",
        "rel_q10_returned_items",
        "rel_q14_promo_share",
        "rel_q19_bracketed_discounts",
        "rel_topk_per_segment",
        "rel_q4_semi_join",
        "rel_customers_without_urgent_orders",
        "rel_q6_forecast_revenue",
        "rel_q18_large_orders",
        # rel_q22 exempt: it broadcasts a 1-row scalar aggregate (the
        # correct pattern), which this leaf-relation heuristic can't
        # distinguish from a table broadcast.
    ):
        analyzed = qs[name](spark, SF)._jdf.queryExecution().analyzed().toString()
        for chunk in analyzed.split("ResolvedHint")[1:]:
            pos = chunk.find("Relation")
            assert pos != -1, (
                f"{name}: hint subtree with no Relation in printout:\n{chunk[:400]}"
            )
            leaf = chunk[pos:][:400]
            assert "n_nationkey" in leaf or "r_regionkey" in leaf, (
                f"{name}: broadcast hint on a SF-scaling table:\n{leaf}"
            )


def test_topk_uses_take_ordered(spark, qs):
    plan = _plan(qs["rel_q3_top_revenue"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # no global sort materialisation


def test_dense_source_ordinal_is_shuffle_free(spark):
    from semantic_cpp_spark.indexing import with_ordinal
    from semantic_cpp_spark.session import load_table

    ev = load_table(spark, SF, "events")
    out = with_ordinal(ev.select("event_id", "value"), ["event_id"])
    assert "Exchange" not in _plan(out)


def test_similarity_broadcasts_query_side(spark, qs):
    plan = _plan(qs["sim_cosine_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the corpus side must not be globally sorted; top-k is per-query window
    assert plan.count("Window") >= 1


def test_no_windowexec_warning_from_ordinal_paths():
    """r1-advice #9 / r2-verdict #5: WindowExec's 'No Partition Defined'
    warning must not fire anywhere in the engine — the only intentional
    global windows (the tiny per-bucket offsets cumsum, the test-only
    'window' strategy) carry an explicit non-foldable single-partition
    key (a plain lit(0) gets constant-folded away and the warning
    returns). A clean warning tail means any future warning is a REAL
    single-partition regression, not noise.

    Runs in a SUBPROCESS: the JVM inherits the original stderr fd at
    launch, so pytest's capfd never sees its log output — an in-process
    capture passes vacuously."""
    import subprocess
    import sys

    script = """
import sys
sys.path.insert(0, "/root/repo")
from semantic_cpp_spark.session import get_spark
from semantic_cpp_spark.indexing import with_ordinal
from pyspark.sql import functions as F
spark = get_spark("warnpin", master="local[4]", shuffle_partitions=4)
df = spark.range(50000).select((F.col("id") * 2).alias("k"),
                               F.col("id").alias("value"))
with_ordinal(df, ["k"], strategy="bucket").write.format("noop").mode("overwrite").save()
skey = df.select(F.format_string("k%09d", "k").alias("s"), "value")
with_ordinal(skey, ["s"], strategy="range").write.format("noop").mode("overwrite").save()
with_ordinal(df, ["k"], strategy="window").write.format("noop").mode("overwrite").save()
print("DONE_MARKER")
"""
    r = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300,
    )
    combined = r.stdout + r.stderr
    assert "DONE_MARKER" in r.stdout, combined[-2000:]
    assert "No Partition Defined for Window operation" not in combined
    # cache-noise pin: re-running an identical range plan reuses the
    # persisted input instead of re-persisting it
    assert "Asked to cache already cached data" not in combined


def _window_nodes(node):
    """WindowExec nodes of an executed physical plan, through adaptive
    plans, query stages and reused exchanges."""
    cls = node.getClass().getSimpleName()
    if cls == "WindowExec":
        yield node
    inner = {"AdaptiveSparkPlanExec": "executedPlan", "ReusedExchangeExec": "child"}.get(cls)
    if inner is None and cls.endswith("QueryStageExec"):
        inner = "plan"
    kids = [getattr(node, inner)()] if inner else []
    children = node.children()
    kids += [children.apply(i) for i in range(children.size())]
    for kid in kids:
        yield from _window_nodes(kid)


@pytest.mark.parametrize("name", ["ir_hybrid_rrf", "txt_redundancy_curve",
                                  "samp_dsir_logweights", "txt_zipf_fit"])
def test_bounded_windows_have_a_partition_key(spark, qs, name):
    """Windows over rows bounded by construction (a top-k list, a decile
    rollup, a bucket spine) run as one partition through
    ``indexing.one_window``'s explicit key, so that WindowExec's "No
    Partition Defined" warning only ever flags a real global window."""
    df = qs[name](spark, SF)
    df.collect()
    windows = list(_window_nodes(df._jdf.queryExecution().executedPlan()))
    assert windows, name
    assert all(not w.partitionSpec().isEmpty() for w in windows), [w.toString() for w in windows]


def test_bernoulli_sample_is_zero_exchange(spark, qs):
    """Deterministic hash sampling must be a pure narrow filter — any
    Exchange would mean the sampling decision shuffles data."""
    plan = _plan(qs["samp_hash_bernoulli"](spark, SF))
    assert "Exchange" not in plan


def test_decontaminate_broadcasts_bench_spans(spark, qs):
    """The benchmark span set is tiny vs the corpus: it must broadcast
    (the corpus side must never shuffle into a sort-merge join), and the
    bench/corpus doc_id split must reach the parquet scan."""
    plan = _plan(qs["txt_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "PushedFilters: [In(doc_id" in plan or "In(doc_id" in plan


def test_kmeans_centroids_broadcast(spark, qs):
    """k×dims centroids broadcast; the corpus scan stays narrow; the
    centroid-seed filter is pushed into the scan."""
    plan = _plan(qs["emb_kmeans_step"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "LessThan(vec_id,8)" in plan


def test_bm25_topk_uses_take_ordered(spark, qs):
    """Global top-k must be TakeOrderedAndProject (per-partition heaps),
    never a global sort of all scored docs."""
    plan = _plan(qs["ir_bm25_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [score" not in plan


def test_funnel_single_shuffle_no_joins(spark, qs):
    """The r5 funnel rewrite's claim, pinned: one scan of the event log,
    one hash exchange on user_id (the collect_list groupBy), and NO join
    operator anywhere — the old formulation self-joined the filtered log
    per step."""
    plan = _plan(qs["evt_funnel_signup_view_purchase"](spark, SF))
    assert "Join" not in plan, plan[:2000]
    import re

    exchanges = len(re.findall(r"Exchange hashpartitioning\(user_id", plan))
    assert exchanges == 1, plan[:2000]
    assert plan.count("FileScan") == 1


def test_lsh_signature_plan_stays_flat(spark):
    """The O(planes) fold form at production embedding width: the
    signature expression for 1024 dims x 24 planes must analyze fast and
    produce a plan whose size is dominated by the (unavoidable) literal
    plane matrix, not a nested add-chain — i.e. it still fits through
    codegen without falling back to interpreted mode on depth."""
    from semantic_cpp_spark.pipeline import similarity

    df = spark.createDataFrame([(0, [0.5] * 1024)], "vec_id long, embedding array<double>")
    out = df.select(
        similarity.lsh_signature(F.col("embedding"), 1024, 24).alias("sig")
    )
    # analysis + execution completes (the unrolled form stalled analysis);
    # the single aggregate/transform pair keeps operator count O(1)
    assert out.schema["sig"].dataType.typeName() == "long"
    assert out.count() == 1


def test_sessionize_single_window_exchange(spark, qs):
    """lag + running sum share one (user) partition/order: exactly one
    exchange on user_id for the window work, and no global (empty
    partition-key) window anywhere."""
    plan = _plan(qs["evt_sessionize"](spark, SF))
    import re

    user_exchanges = len(re.findall(r"Exchange hashpartitioning\(user_id", plan))
    assert user_exchanges == 1, plan[:2000]


def test_boilerplate_hot_set_is_not_broadcast(spark, qs):
    """remove_boilerplate_chunks joins the hot-chunk set with a plain
    shuffle join, DELIBERATELY: "chunks in >=2 docs" can be a large
    fraction of all chunks at corpus scale, unlike a df-cap heavy-hitter
    set. The analyzed plan must carry no broadcast hint, and the
    physical join on the chunk key must not be a broadcast join forced
    by us (AQE may still smallify it at toy scale — so pin the HINT
    absence, which is what survives a 100x scale-up)."""
    df = qs["txt_boilerplate_removal"](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_containment_hot_shingles_broadcast_anti(spark, qs):
    """dedup_containment shares the Jaccard df-cap plan: the heavy-hitter
    shingle set (small by construction) is broadcast for the anti-join."""
    plan = _plan(qs["dedup_containment"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_split_assign_is_zero_exchange(spark, qs):
    """samp_train_val_split: the split decision is a pure narrow map —
    the only exchange in the whole plan is the final groupBy(split,lang)
    aggregation."""
    plan = _plan(qs["samp_train_val_split"](spark, SF))
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_incremental_dedup_corpus_join_not_hinted(spark, qs):
    """incremental_near_dup: neither side of the band-key equi-join may
    carry an explicit broadcast hint — a backfill-sized batch must be
    allowed to shuffle; AQE decides at runtime."""
    df = qs["dedup_incremental_batch"](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_conversion_latency_no_global_percentile_reducer(spark, qs, caplog):
    """evt_conversion_latency routes p50/p90 through histogram narrowing
    (stats.percentiles_exact_sorted): no `percentile(` aggregate (the
    single-reducer shape), the ranks come from narrowing rather than the
    rank-every-row fallback (its decision record), and any rank window
    left is DISTRIBUTED: every `Window [` node is partitioned by a range
    key over a hash exchange on that same key, never a global
    single-partition window. At this scale the narrowing may resolve
    every rank on the driver and leave no window at all."""
    import logging
    import re

    with caplog.at_level(logging.DEBUG, logger="semantic_cpp_spark.functions.stats"):
        plan = _plan(qs["evt_conversion_latency"](spark, SF))
    records = [r.decision for r in caplog.records
               if r.name == "semantic_cpp_spark.functions.stats"]
    assert records, "no percentiles_exact_sorted decision record"
    for rec in records:
        assert rec["fallback"] is None and rec["rounds"] >= 1, rec
    assert "percentile(" not in plan
    windows = re.findall(
        r"Window \[.*\], \[(.*)\], \[.*\n.*Sort .*\n.*Exchange (\w+)(?:\((\w+)#)?", plan
    )
    assert len(windows) == plan.count("Window ["), plan[:3000]
    for keys, exchange, on in windows:
        assert keys and exchange == "hashpartitioning", plan[:3000]
        assert keys.split("#")[0] == on


def test_chunk_overlap_zero_exchange(spark, qs):
    """Chunking is a narrow generator: sequence -> posexplode ->
    substring, no shuffle anywhere — at 100 TB the corpus chunks without
    moving a byte."""
    plan = _plan(qs["txt_chunk_overlap"](spark, SF))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode actually runs JVM-side


def test_jl_project_zero_exchange_no_python(spark, qs):
    """JL projection folds the sign matrix into literals: pure JVM map —
    no Exchange, no Python worker (BatchEvalPython/ArrowEvalPython)."""
    plan = _plan(qs["emb_jl_project"](spark, SF))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_weighted_sample_uses_take_ordered(spark, qs):
    """k-smallest-priority selection must be TakeOrderedAndProject
    (per-partition heaps + driver merge), never a global sort."""
    plan = _plan(qs["samp_weighted_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.replace("TakeOrderedAndProject", "")


def test_max_concurrency_no_global_window(spark, qs):
    """The sweep-line running sum is partitioned BY DAY — an empty
    partitionBy would serialize the whole event log through one task."""
    import re

    plan = _plan(qs["evt_max_concurrency"](spark, SF))
    assert not re.search(r"Window .*SinglePartition", plan), plan[:2000]
    assert "Exchange hashpartitioning(day" in plan


def test_prefix_filter_join_is_on_shingle_only(spark, qs):
    """The candidate join must be an equi-join on the prefix shingle —
    no cartesian/nested-loop fallback anywhere in the plan."""
    plan = _plan(qs["dedup_prefix_filter"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mad_outliers_stats_broadcast(spark, qs):
    """Both per-group stats tables (med, MAD) must come back as
    broadcast joins — tiny by construction (one row per group)."""
    plan = _plan(qs["evt_mad_outliers"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_source_report_exchanges_all_source_keyed(spark, qs):
    """Two count_distincts trigger Spark's multi-distinct Expand rewrite
    → exactly TWO source-keyed exchanges, and no exchange on any other
    key (everything stays partitioned by the report key)."""
    import re

    plan = _plan(qs["txt_source_report"](spark, SF))
    all_ex = re.findall(r"Exchange hashpartitioning\(\w+", plan)
    assert all_ex and all(e.endswith("(source") for e in all_ex), all_ex
    assert len(all_ex) == 2
    assert "Expand" in plan  # the documented multi-distinct shape


def test_last_touch_single_user_exchange(spark, qs):
    """Attribution is ONE window on user_id — one hash exchange, no
    joins anywhere in the plan."""
    import re

    plan = _plan(qs["evt_last_touch_attribution"](spark, SF))
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1
    assert "Join" not in plan


def test_decayed_activity_scalar_broadcast_only(spark, qs):
    """The max-day scalar rides in via a broadcast nested-loop of a
    1-row aggregate (the scalar-broadcast pattern); the only hash
    exchange is the final groupBy(user_id)."""
    import re

    plan = _plan(qs["evt_decayed_activity"](spark, SF))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_semdedup_in_cluster_join_is_equi_join(spark, qs):
    """SemDeDup's blocking claim IS the plan shape: the pair join and the
    verdict re-attach are SortMergeJoin equi-joins (fan-out bounded by
    cluster size). Since r15 the assignment frame is localCheckpointed
    (it used to recompute per self-join branch — the pre-r15 pin counted
    THREE broadcast centroid assigns), so the final plan is exactly the
    two equi-joins over the materialized assignment and the k-row
    centroid broadcasts happen once, at construction. A CartesianProduct
    anywhere means the blocking disappeared."""
    import re

    plan = _plan(RP.emb_semdedup(spark, SF))
    assert "CartesianProduct" not in plan
    joins = re.findall(
        r"BroadcastHashJoin|SortMergeJoin|BroadcastNestedLoopJoin"
        r"|ShuffledHashJoin",
        plan,
    )
    # 2 equi-joins (c_id pair join + verdict left join); the centroid
    # assignment no longer appears — it ran once into the checkpoint
    assert joins.count("BroadcastNestedLoopJoin") == 0, joins
    assert len([j for j in joins if j != "BroadcastNestedLoopJoin"]) == 2, joins


def test_bloom_probe_joins_filter_broadcast(spark, qs):
    """The Bloom probe's scale contract is its plan: the sparse filter
    (≤n_bits/32 rows) joins the probe fan-out as a BroadcastHashJoin on
    the word index — the corpus never joins itself and nothing
    cartesian appears. The build side upstream is exchange-light: one
    distinct + one bit_or groupBy."""
    plan = _plan(qs["dedup_bloom_probe"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_probe_big_filter_takes_shuffle_join(spark):
    """Past BLOOM_BROADCAST_MAX_BITS the sparse filter stops fitting a
    broadcast (SCALING.md's 100 TB sizing: 2^37 bits ≈ 12 GB of rows) and
    the probe must degrade to a plain shuffle equi-join on the word index
    — same logical plan, no broadcast anywhere. Pinned both ways: the
    auto size-derived choice and the explicit broadcast=False override."""
    from semantic_cpp_spark.pipeline import dedup

    corpus = spark.range(64).select(
        F.col("id"), F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    big_bits = dedup.BLOOM_BROADCAST_MAX_BITS * 2
    bloom = dedup.bloom_build(corpus, F.col("key"), n_bits=big_bits)
    auto = _plan(
        dedup.bloom_probe(
            bloom, corpus, F.col("key"), F.col("id"), n_bits=big_bits
        )
    )
    assert "SortMergeJoin" in auto and "BroadcastHashJoin" not in auto
    forced = _plan(
        dedup.bloom_probe(
            bloom, corpus, F.col("key"), F.col("id"), broadcast=False
        )
    )
    assert "SortMergeJoin" in forced and "BroadcastHashJoin" not in forced


def test_tiff_features_is_narrow_map(spark, qs):
    """TIFF feature extraction must stay a narrow Arrow map over the
    scan — decode is per-row work; any exchange before the kernel means
    payload bytes are shuffling."""
    plan = _plan(RP.mm_tiff_features(spark, SF))
    assert "MapInPandas" in plan, "Arrow kernel missing from plan"
    # scan → render → decode → select is one narrow pipeline: payload
    # bytes must never shuffle, so the whole plan is exchange-free
    assert "Exchange" not in plan


def test_rank_metrics_no_cartesian(spark, qs):
    """Rank evaluation composes scans + query-keyed joins/windows; the
    only nested-loop joins allowed are the two 1-row scalar broadcasts
    (corpus N/avgdl) the BM25 scorer uses."""
    import re

    plan = _plan(qs["ir_rank_metrics"](spark, SF))
    assert "CartesianProduct" not in plan
    nlj = re.findall(r"BroadcastNestedLoopJoin", plan)
    assert len(nlj) <= 2, nlj


def test_hll_distinct_exchange_is_register_sized(spark, qs):
    """The batch HLL's whole point is the exchange shape: the only
    shuffles carry the <=1024-row register table (map-side-combined
    partial max) and the 1-row estimator epilogue — the raw key column
    must never shuffle, and nothing joins."""
    plan = _plan(RE.agg_hll_distinct_users(spark, SF))
    assert "Join" not in plan
    # partial_max before the exchange = map-side combine of registers
    assert "partial_max" in plan or "HashAggregate" in plan
    import re

    assert len(re.findall(r"Exchange", plan)) <= 2, plan


def test_cms_probe_is_broadcast_and_build_is_bounded_groupby(spark, qs):
    """CMS plan shape: the sketch (<= depth*width rows, a constant of
    the sizing) joins the probe fan-out as a broadcast; no cartesian
    anywhere; the build aggregates cells (map-side combinable)."""
    plan = _plan(RE.agg_cms_user_freq(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pca_project_stays_exchange_free_after_power_fit(spark, qs):
    """emb_pca_project's scoring path contract: after the
    covariance/power-fit (driver model state), the projection is a
    narrow map — no exchange anywhere. Since r15 the map is ONE
    Arrow-batched numpy kernel (guide §4.2 — the k·dims literal
    expression tree was the slow part), so exactly one MapInPandas
    node and no row-at-a-time BatchEvalPython is the pinned shape."""
    plan = _plan(qs["emb_pca_project"](spark, SF))
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_semdedup_scaled_no_cartesian_beyond_broadcast_routing(spark, qs):
    """The two-level IVF assignment must keep semdedup's blocking story:
    the only nested-loop joins are the broadcast coarse/fine seed
    routings (bounded by k, never by the corpus); the pair join and the
    verdict re-attach stay equi-joins; no CartesianProduct."""
    import re

    plan = _plan(RP.emb_semdedup_scaled(spark, SF))
    assert "CartesianProduct" not in plan
    eq = re.findall(r"SortMergeJoin|ShuffledHashJoin", plan)
    assert len(eq) >= 2, eq  # in-cluster pair join + verdict left join


def test_image_ahash_is_narrow_map(spark, qs):
    """aHash fingerprints are per-row decode work: one narrow Arrow map
    over the scan, exchange-free — payload bytes must never shuffle
    (the mm_tiff_features discipline)."""
    plan = _plan(RP.mm_image_ahash(spark, SF))
    assert "MapInPandas" in plan, "Arrow kernel missing from plan"
    assert "Exchange" not in plan


def test_audio_fingerprint_is_narrow_map(spark, qs):
    """Acoustic fingerprints are per-row decode work: one narrow Arrow
    map over the scan, exchange-free (the mm_image_ahash discipline)."""
    plan = _plan(RP.mm_audio_fingerprint(spark, SF))
    assert "MapInPandas" in plan, "Arrow kernel missing from plan"
    assert "Exchange" not in plan


def test_video_motion_is_narrow_map(spark, qs):
    """Motion profiling is per-row decode work: one narrow Arrow map,
    exchange-free (the multimodal discipline)."""
    plan = _plan(RP.mm_video_motion(spark, SF))
    assert "MapInPandas" in plan, "Arrow kernel missing from plan"
    assert "Exchange" not in plan


def test_pq_adc_probe_is_broadcast_shaped(spark, qs):
    """PQ's codebook (64 rows) and LUT (|Q|*64 rows) must broadcast —
    a shuffle or cartesian against either would defeat the point of
    probing codes instead of vectors."""
    plan = _plan(RP.sim_pq_adc_topk(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_probe_is_list_pruned(spark, qs):
    """IVFADC's whole point is the plan: the code table meets the ADC
    LUT only AFTER the broadcast (q_id, probe_cent) pair join has
    pruned it to the probed inverted lists — visible as a
    BroadcastHashJoin keyed on probe_cent (absent from the full-scan
    pq_adc_topk plan) upstream of the ADC aggregation. Nothing
    cartesian; LUT and probe pairs broadcast."""
    plan = _plan(RP.sim_ivfpq_topk(spark, SF))
    assert "CartesianProduct" not in plan
    # the pruning join on the list id is present and broadcast
    pruned_at = None
    for i, line in enumerate(plan.splitlines()):
        if "BroadcastHashJoin" in line and "probe_cent" in line:
            pruned_at = i
            break
    assert pruned_at is not None, "no broadcast list-pruning join in plan"
    # the only nested-loop joins are the two broadcast CROSS joins
    # against the tiny centroid frame (corpus assign + query probes) —
    # the established ivf_assign idiom, never a data-sized cross
    bnlj = [
        ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
    ]
    assert len(bnlj) == 2 and all("Cross" in ln for ln in bnlj), bnlj
    # probes + LUT broadcast; the codebook no longer joins at all —
    # encoding is the r15 Arrow kernel (books ride the closure)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "MapInPandas" in plan  # the encode kernel


def test_ivfpq_residual_probe_is_list_pruned(spark, qs):
    """The residual probe must keep the raw-variant's scale shape: the
    code table meets the per-list ADC LUT only AFTER the broadcast
    (q_id, probe_cent) pruning join; the only nested-loop joins are the
    established tiny-centroid broadcast crosses (corpus assign + query
    probes — the residual build adds no new ones)."""
    plan = _plan(RP.sim_ivfpq_residual_topk(spark, SF))
    assert "CartesianProduct" not in plan
    pruned_at = None
    for i, line in enumerate(plan.splitlines()):
        if "BroadcastHashJoin" in line and "probe_cent" in line:
            pruned_at = i
            break
    assert pruned_at is not None, "no broadcast list-pruning join in plan"
    bnlj = [
        ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln
    ]
    assert bnlj and all("Cross" in ln for ln in bnlj), bnlj
    # census of the crosses — every one is (left) × broadcast(≤n_lists
    # centroid rows): ONE corpus-sized assign (the ivf_assign idiom,
    # exactly once per build after the single-pipeline rewrite; the
    # pq_encode-composition first cut re-expanded it in every branch),
    # one n_centroids-row seed assign, and the |Q|-row query-probe
    # routing re-expanded once per consumer (qres + pruned). Never a
    # data × data cross.
    assert len(bnlj) <= 5, bnlj
    assert plan.count("BroadcastHashJoin") >= 3  # cents, probes, LUT


def test_span_cuts_no_cartesian_and_hash_keyed(spark, qs):
    """The exact-substring planner joins occurrences to first
    occurrences on the 60-bit span HASH — never on span text, never
    all-pairs."""
    plan = _plan(RP.dedup_span_cuts(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_encode_docs_vocab_join_no_cartesian(spark, qs):
    """Numericalization must meet the vocab through a hash equi-join on
    token (broadcast at the capped gate size — AQE may pick shuffle at
    web-scale vocab, both fine), never a nested-loop or cartesian; the
    per-doc re-assembly is one aggregate over (pos, id) pairs."""
    plan = _plan(qs["txt_encode_docs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_pack_encoded_shards_single_shard_exchange(spark, qs):
    """The shard-materialization plan: no cartesian, no nested loop —
    the packer's window and the sequence concat ride hash exchanges on
    shard keys."""
    plan = _plan(qs["pack_encoded_shards"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rollup_quantile_merge_is_pure_aggregation(spark, qs):
    """The mergeable-quantile gate plan: NO join anywhere (states merge
    by union + groupBy), every aggregation has its map-side partial
    (the whole point of a map-side-combinable monoid), and exchanges
    carry only (key, bin) state rows."""
    plan = _plan(RE.evt_rollup_quantile_merge(spark, SF))
    assert "Join" not in plan
    assert plan.count("partial") >= 4  # each delta state + the merge combine
    assert "CartesianProduct" not in plan


def test_bpe_pair_counts_have_map_side_partial(spark, qs):
    """One BPE training round's pair count must map-side combine (the
    per-round shuffle carries (lhs, rhs) partial counts, never raw pair
    rows), and the word-frequency state itself aggregates with a
    partial — the two properties that keep a round's exchange
    vocab-shaped at any corpus size. No join anywhere in a round."""
    from semantic_cpp_spark.pipeline import text as T
    from semantic_cpp_spark.session import load_table

    docs = load_table(spark, SF, "documents")
    words = T.bpe_word_counts(docs, F.col("text")).select(
        "freq", T._bpe_symbolize(F.col("word")).alias("s")
    )
    plan = _plan(T._bpe_pair_counts(words))
    assert "partial" in plan  # map-side combine on (lhs, rhs)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_segment_kernel_is_exchange_free(spark, qs):
    """The Arrow segment kernel must stay a 1→1 narrow map over the
    document scan — MapInPandas present, no Exchange, no Join: the
    production tokenizer apply inherits scan partitioning at any
    corpus size (the merge table ships in the task closure, never as
    a joined frame)."""
    from semantic_cpp_spark.pipeline import text as T
    from semantic_cpp_spark.session import load_table

    docs = load_table(spark, SF, "documents")
    seg = T.bpe_segment(
        docs, F.col("text"), F.col("doc_id"),
        [("a", "b"), ("ab", "c")], impl="kernel",
    )
    plan = _plan(seg)
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_tokenizer_stats_is_exchange_free(spark, qs):
    """tokenizer_stats must evaluate a merge table in ONE pass over
    the scan: the word/char counts ride through the segmenter inside
    the struct id column, so the plan has no Exchange and no Join in
    EITHER execution path (the naive doc_id self-join of two corpus
    projections would scan twice and shuffle once — a scale killer
    for a metric the scan already had in hand)."""
    from semantic_cpp_spark.pipeline import text as T
    from semantic_cpp_spark.session import load_table

    docs = load_table(spark, SF, "documents")
    for impl in ("column", "kernel"):
        plan = _plan(
            T.tokenizer_stats(
                docs, F.col("text"), F.col("doc_id"),
                [("a", "b"), ("ab", "c")], impl=impl,
            )
        )
        assert "Exchange" not in plan, impl
        assert "Join" not in plan, impl


def test_pq_train_sampled_filter_is_narrow(spark, qs):
    """The train_frac sample must be a pure narrow filter on the scan
    side (an md5-threshold compare — never a join or a sample-table
    shuffle): the plan carries exactly the same join census as the
    full-corpus training step, with a Filter ahead of the assignment."""
    plan = _plan(qs["sim_pq_train_sampled"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "conv(substring(md5" in plan or "Filter" in plan
    # assignment joins stay broadcast: seeds are 16 rows/subspace
    assert "SortMergeJoin" not in plan


def test_passage_apply_no_cartesian(spark, qs):
    """The passage write-side composition (explode → band-bucket pairs
    → components → keep join → per-doc rebuild) must stay hash-keyed
    end to end: no cartesian, no data-sized nested loop. (The apply
    member rides dedup_passage_family since the r15 consolidation;
    the pin drives the member function directly.)"""
    from semantic_cpp_spark.registry_pipeline import dedup_passage_apply

    plan = _plan(dedup_passage_apply(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nearest_seed_argmins_have_no_window_exchange(spark, qs):
    """The r10 argmin rewrite must stay an AGGREGATE: the min/max
    (struct) form folds the n·K scored frame into a #groups-sized
    hash map with no sort and no dependence on InferWindowGroupLimit
    firing. The assignment plans must carry partial aggregation and no
    Window operator anywhere. pq_encode graduated past the aggregate
    in r15: its per-subspace argmin is ONE Arrow numpy kernel
    (_pq_nearest, the pq_train_means fold) — pin it shuffle-free and
    windowless: codes come straight out of the map."""
    from semantic_cpp_spark.pipeline import clustering, similarity
    from semantic_cpp_spark.session import load_table

    emb = load_table(spark, SF, "embeddings")
    for name, df in [
        ("ivf_assign", similarity.ivf_assign(emb, 0, n_centroids=8)),
        ("kmeans_assign", clustering.kmeans_assign(emb, k=8)),
    ]:
        plan = _plan(df)
        assert "Window" not in plan, name
        assert "partial" in plan, name
    plan = _plan(similarity.pq_encode(emb))
    assert "MapInPandas" in plan
    assert "Window" not in plan
    assert "Exchange" not in plan


def test_per_group_topk_gets_partial_window_group_limit(spark, qs):
    """Few-group top-k rankings (market segments, language strata,
    query terms) look like the one-hot-partition-per-group skew shape —
    what makes them safe at scale is Spark's InferWindowGroupLimit
    installing a PARTIAL top-k below the exchange (≤k rows per group
    per input partition shuffle; the per-group partition then sorts a
    bounded frame). Pin that the optimizer actually fires on our
    row_number-≤-k pattern — losing it (a filter shape change, a rank
    expression the rule can't infer) would silently restore the
    corpus-scale hot-partition sort."""
    from semantic_cpp_spark.pipeline import retrieval
    from semantic_cpp_spark.session import load_table

    for name in ("rel_topk_per_segment", "samp_fixed_k_per_lang"):
        plan = _plan(qs[name](spark, SF))
        assert "WindowGroupLimit" in plan, name
        assert "Partial" in plan.split("WindowGroupLimit", 1)[1] or (
            plan.count("WindowGroupLimit") >= 2
        ), name
    docs = load_table(spark, SF, "documents")
    runs = retrieval.per_term_bm25_runs(
        docs, F.col("text"), F.col("doc_id"), ["data", "query"], k=10
    )
    plan = _plan(runs)
    assert plan.count("WindowGroupLimit") >= 2  # Partial + Final


def test_nb_predict_model_joins_are_broadcast(spark, qs):
    """NB scoring must broadcast the vocab/model/priors frames (all
    bounded by vocab_size × n_labels, the caller's knob — never
    corpus-sized) so the corpus shuffles only for its own (doc, term)
    and (doc, label) aggregates: no SortMergeJoin, no cartesian
    product anywhere in the scoring plan."""
    plan = _plan(qs["txt_nb_holdout_confusion"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # broadcast nested-loop is expected ONLY for the priors base rows
    # (a true cross join of the corpus ids with the ≤n_labels priors);
    # the model/vocab term joins must be hash joins.
    assert plan.count("BroadcastHashJoin") >= 3


def test_lm_scoring_joins_never_cartesian(spark, qs):
    """LM scoring: the event stream left-joins three model tables on
    their n-gram keys (hash joins at any scale — co-partitioned shuffle
    when the tables outgrow the broadcast threshold, broadcast below
    it); the only nested-loop is the 1-row totals/cutoff broadcast. A
    CartesianProduct anywhere means a join key got lost. The scoring
    joins and the per-doc rollup sit under localCheckpoints, so the
    checkpointed feeders are pinned along with the final plan."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame as CDF

    feeders = []
    real = CDF.localCheckpoint

    def grab(self, *args, **kwargs):
        feeders.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *args, **kwargs)

    CDF.localCheckpoint = grab
    try:
        plan = _plan(qs["txt_lm_perplexity_bands"](spark, SF))
    finally:
        CDF.localCheckpoint = real
    assert feeders, "txt_lm_perplexity_bands no longer checkpoints its feeders"
    for p in [plan] + feeders:
        assert "CartesianProduct" not in p
    # the scored feeder (checkpointed last): the model lookups' hash
    # joins and the per-doc rollup's map-side partial aggregates
    scored = feeders[-1]
    assert re.search(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", scored), scored[:3000]
    assert "partial_" in scored, scored[:3000]


def test_kn_scoring_joins_never_cartesian(spark, qs):
    """The KN model adds two more n-gram-keyed left joins (released-
    mass gammas per history) — same discipline as the JM pin: hash
    joins on the gram keys everywhere, the only nested-loop is the
    1-row v_types broadcast."""
    plan = _plan(qs["txt_lm_kn_scores"](spark, SF))
    assert "CartesianProduct" not in plan
    # the only nested-loops are the two 1-row scalar broadcasts
    # (per-event v_types, and the n_bigram_types denominator inside
    # the continuation-unigram table) — both explicit crosses
    nlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(nlj) <= 2 and all("Cross" in ln for ln in nlj), nlj


# -- r13 family-gate unions: consolidation must not change member shapes ----


def test_mm_decode_family_union_is_exchange_free(spark, qs):
    """All five decode branches are narrow Arrow maps; the tagged union
    concatenates them without introducing a single exchange — payload
    bytes must never shuffle, consolidated or not."""
    plan = _plan(qs["mm_decode_family"](spark, SF))
    assert plan.count("MapInPandas") == 5, plan.count("MapInPandas")
    assert "Exchange" not in plan
    assert "Union" in plan


def test_simhash_family_union_no_cartesian(spark, qs):
    """The pair branch keeps its pigeonhole chunk blocking inside the
    union — consolidation must never reintroduce an all-pairs join."""
    plan = _plan(qs["dedup_simhash_family"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Union" in plan


def test_rollup_family_union_stays_joinless_and_partial(spark, qs):
    """Four mergeable-state branches: still no join anywhere (states
    merge by union + groupBy), map-side partials intact under the
    consolidated union."""
    plan = _plan(qs["evt_rollup_merge_family"](spark, SF))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("partial") >= 8  # >= the quantile member's 4 alone


def test_ivfpq_family_members_keep_list_pruning(spark, qs):
    """The union of the three probe paths preserves each member's scale
    shape: the two IVF branches keep their broadcast probe_cent pruning
    joins, and no branch degenerates to a cartesian."""
    plan = _plan(qs["sim_ivfpq_family_topk"](spark, SF))
    assert "CartesianProduct" not in plan
    pruning = [
        ln for ln in plan.splitlines()
        if "BroadcastHashJoin" in ln and "probe_cent" in ln
    ]
    assert len(pruning) >= 2, pruning  # ivf + residual branches


# -- r14 additions ------------------------------------------------------------


def test_dsir_lambda_join_is_broadcast_and_no_cartesian(spark, qs):
    """DSIR's λ table is bounded by the bucket count (4096 rows at ANY
    corpus size) — its join to the event stream must be a broadcast
    hash join, never a shuffle of the corpus against it; the only
    nested-loop is the 1-row totals broadcast. Aggregates stay
    map-side-combinable (partial HashAggregate below the exchange)."""
    plan = _plan(qs["samp_dsir_logweights"](spark, SF))
    assert "CartesianProduct" not in plan
    nlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(nlj) <= 1 and all("Cross" in ln for ln in nlj), nlj
    assert "BroadcastHashJoin" in plan
    # the corpus-side groupBys keep their partial aggregates
    assert "partial_count" in plan or "HashAggregate" in plan


def test_mkn_zipf_corpus_is_exchange_free_until_counts(spark, qs):
    """The synthetic Zipf corpus is pure expression work over
    spark.range — the only exchanges in the whole gate are the n-gram
    count shuffles and the model joins; no cartesian anywhere, and the
    1-row discount/total frames ride explicit cross broadcasts."""
    plan = _plan(qs["txt_lm_mkn_zipf"](spark, SF))
    assert "CartesianProduct" not in plan
    nlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert all("Cross" in ln for ln in nlj), nlj
    assert "Range" in plan  # the in-query corpus source


def test_str_family_union_adds_no_exchange_beyond_members(spark, qs):
    """Four scan-shaped branches over part: the only exchange-adjacent
    nodes are the join aspect's 1-row cmp_total broadcast crosses (the
    member's own shape — it appears twice because the aspect emits its
    two scalars from two union branches and Catalyst does not CSE the
    aggregate subtree across them; both sides are 1-row frames, so the
    duplication is two scans of a 10-row slice, not a scale concern);
    no cartesian, no shuffle introduced by the consolidation itself."""
    plan = _plan(qs["str_family"](spark, SF))
    assert "CartesianProduct" not in plan
    nlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(nlj) <= 2 and all("Cross" in ln for ln in nlj), nlj
    assert "Union" in plan


def test_cluster_cohesion_single_pass_no_join(spark):
    """cluster_cohesion's diagonal and member count ride the same
    (c_id, dim) partial aggregate as the per-dim sums (r15): the old
    shape ran TWO independent groupBys over the exploded unit table —
    re-running the whole crossJoin×k assignment upstream twice — and
    joined the halves back. Pin the fused form: the only Join left is
    the centroid-broadcast cross inside kmeans_assign (so exactly one
    assignment pass), no equi-join re-attach, and the (c_id, dim)
    aggregate keeps map-side partials."""
    from semantic_cpp_spark.pipeline import clustering
    from semantic_cpp_spark.session import load_table

    emb = load_table(spark, SF, "embeddings")
    plan = _plan(clustering.cluster_cohesion(emb, k=8))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan
    nlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(nlj) == 1 and "Cross" in nlj[0], nlj
    assert "partial" in plan


def test_truncation_recall_single_scored_scan(spark, qs):
    """sim_dim_truncation_recall computes all three truncated cosines
    in ONE corpus pass over a checkpointed (q_id, vec_id, cos8/16/32)
    proxy table (r15) — each dims branch must read the checkpoint
    (ExistingRDD), not re-derive its own parquet scan of embeddings +
    HOF fold; the exact baseline rides a 15-row checkpoint the same
    way."""
    plan = _plan(qs["sim_dim_truncation_recall"](spark, SF))
    assert "Scan ExistingRDD" in plan
    assert "parquet" not in plan.lower()


def test_ngram_novelty_single_pass_no_broadcast(spark, qs):
    """txt_ngram_novelty (r16, VERDICT r15 #1): the first-occurrence
    attach must be a WINDOW over the single exploded span stream — ONE
    parquet scan, one exchange on h, no join of any strategy and in
    particular no BroadcastExchange (the r15 groupBy+join-back shape
    broadcast the corpus-scale first-occurrence aggregate because the
    planner's size estimate is blind to explode fan-out: the driver
    measured 237.8 s at sf1.0)."""
    plan = _plan(qs["txt_ngram_novelty"](spark, SF))
    assert "BroadcastExchange" not in plan
    for j in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
    ):
        assert j not in plan
    assert "Window" in plan
    assert plan.count("FileScan") == 1


def test_lm_trigram_feeder_checkpoint_shape(spark):
    """r16 (VERDICT r15 #6/#9): localCheckpointed feeders hide their
    construction stage from consumer-plan pins, so pin the feeder
    itself — the trigram TYPE table every LM marginal derives from
    must be built from ONE corpus scan (a single parquet leaf feeding
    the explode chain into a partial-aggregated count), not one scan
    per marginal."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from semantic_cpp_spark.pipeline import retrieval
    from semantic_cpp_spark.session import load_table

    feeders = []
    real = CDF.localCheckpoint

    def grab(self, *args, **kwargs):
        feeders.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *args, **kwargs)

    CDF.localCheckpoint = grab
    try:
        docs = load_table(spark, SF, "documents")
        retrieval.lm_train_trigram(docs, F.col("text"))
    finally:
        CDF.localCheckpoint = real
    assert feeders, "lm_train_trigram no longer checkpoints its type table"
    tri = feeders[0]
    assert tri.count("FileScan") == 1
    assert "HashAggregate" in tri and "partial" in tri


def _python_pids_under_jvm() -> set:
    """Python processes below a child of this process (the JVM): its
    Python worker daemon and workers."""
    import os

    parent, comm = {}, {}
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat[stat.rfind(")") + 2:].split()[1])
        comm[int(d)] = stat[stat.find("(") + 1:stat.rfind(")")]
    out = set()
    for pid in parent:
        depth, p = 0, pid
        while p and p != os.getpid():
            depth, p = depth + 1, parent.get(p, 0)
        if p and depth > 1 and comm[pid].startswith("python"):
            out.add(pid)
    return out


def test_running_stats_is_native_stateful_aggregate(spark):
    """Per-user running stats are an algebraic fold, so they run as
    Spark's native stateful aggregate: a StateStoreSave over a partial
    aggregate below the shuffle, no Python node in the plan, and no
    Python worker started by the drain. Moving the operator back onto
    applyInPandasWithState fails here."""
    import re
    import uuid

    from semantic_cpp_spark.streaming import ops

    before = _python_pids_under_jvm()
    ev = ops.read_events_stream(spark, SF)
    q = (
        ops.running_stats_per_user(ev).writeStream.outputMode("update")
        .format("memory").queryName(f"stats_pin_{uuid.uuid4().hex[:8]}").start()
    )
    try:
        q.processAllAvailable()
        plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    finally:
        q.stop()
    save = plan.index("StateStoreSave")
    exchange = plan.index("Exchange hashpartitioning", save)
    assert "StateStoreRestore" in plan[save:exchange]
    below = plan[exchange:]
    assert "partial_count(1)" in below and "partial_sum(" in below, plan
    assert not re.search(r"(?i)python|pandas|arrow", plan), plan
    assert not _python_pids_under_jvm() - before


# Spark jobs each bench.py headline query starts while it is built
# (``fn(spark, sf)``: its eager probes, no main job), at this fixture,
# with the parquet schema memo warm and the engine memos flushed, as
# bench.py flushes them before every timed run. A new eager probe shows
# up here as a changed count. Density probes over a bare ``events`` scan
# are read from parquet footers and start no job; sem_sort_stable keeps
# its quantile-bounds probe. sem_filter_rebases_idx starts none: a
# frame's push order is dense by construction, so the filter re-numbers
# its survivors with the lazy bucket rebase, not after a density probe.
_HEADLINE_BUILD_JOBS = {
    "rel_q1_pricing_summary": 0,
    "rel_q3_top_revenue": 0,
    "rel_q5_nation_revenue": 0,
    "rel_topk_per_segment": 0,
    "sem_sort_stable": 2,
    "sem_filter_rebases_idx": 0,
    "agg_skew_kurt": 0,
    "agg_quantiles": 4,
    "grp_frequency_profile": 0,
    "win_tumble": 0,
    "win_slide": 0,
    "dedup_minhash_lsh": 5,
    "sim_cosine_topk": 0,
    "txt_quality_score": 0,
}


def test_headline_build_jobs(spark, qs):
    import uuid

    import bench
    from semantic_cpp_spark.indexing import release_ordinal_caches

    assert list(_HEADLINE_BUILD_JOBS) == bench.BENCH_QUERIES
    sc = spark.sparkContext
    tag = f"build_jobs_{uuid.uuid4().hex[:8]}"
    for q in bench.BENCH_QUERIES:  # loads every table: schema memo warm
        qs[q](spark, SF)
    for q in bench.BENCH_QUERIES:
        release_ordinal_caches()
        sc.setJobGroup(f"{tag}:{q}", q)
        try:
            qs[q](spark, SF)
        finally:
            sc._jsc.clearJobGroup()
    release_ordinal_caches()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    got = {q: len(tracker.getJobIdsForGroup(f"{tag}:{q}")) for q in bench.BENCH_QUERIES}
    assert got == _HEADLINE_BUILD_JOBS


def test_counter_operators_build_no_jobs(spark):
    """A SemanticFrame's push order is dense 0..n-1 by construction, so
    building a counter operator (the ones that emit their own running
    count) on a source frame starts no Spark job and runs no density
    probe: limit/skip/sub/partition read positions, drop_while and
    concatenate shift them, filter/distinct re-number survivors with the
    lazy bucket rebase."""
    import uuid

    from semantic_cpp_spark.indexing import memo_counts, release_ordinal_caches
    from semantic_cpp_spark.sources import from_dataframe

    df = spark.range(3000).select(
        (F.col("id") * 10).alias("k"), (F.col("id") % 7).alias("v")
    )
    src = from_dataframe(df, "v", ["k"])
    other = from_dataframe(df.filter(F.col("k") % 3 == 0), "v", ["k"])
    builds = {
        "filter": lambda: src.filter(lambda v: v > 2),
        "distinct": lambda: src.distinct(),
        "drop_while": lambda: src.drop_while(lambda v: v < 3),
        "limit": lambda: src.limit(100),
        "skip": lambda: src.skip(50),
        "sub": lambda: src.sub(100, 200),
        "concatenate": lambda: src.concatenate(other),
        "partition": lambda: src.partition(10),
    }
    sc = spark.sparkContext
    tag = f"counter_ops_{uuid.uuid4().hex[:8]}"
    probes = {}
    try:
        for op, build in builds.items():
            before = memo_counts()["density misses"]
            sc.setJobGroup(f"{tag}:{op}", op)
            try:
                build()
            finally:
                sc._jsc.clearJobGroup()
            probes[op] = memo_counts()["density misses"] - before
    finally:
        release_ordinal_caches()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = {op: len(tracker.getJobIdsForGroup(f"{tag}:{op}")) for op in builds}
    assert jobs == dict.fromkeys(builds, 0)
    assert probes == dict.fromkeys(builds, 0)


# py4j commands bench.py's headline queries sent while built, summed over
# the 14, before get_spark turned DataFrame call-site capture off and
# density probes over bare parquet scans were read from footers.
_HEADLINE_BUILD_PY4J_BEFORE = 11643


def test_headline_build_py4j_calls(spark, qs):
    """Building the headline queries sends at most 55% of the py4j
    commands it sent with call-site capture on. Capture runs a session
    lookup, a conf read and two JVM origin calls around every classic
    Column method. py4j's memory-delete commands follow Python's garbage
    collector, so they are not counted."""
    import py4j.clientserver
    from pyspark.errors.utils import is_debugging_enabled

    import bench
    from semantic_cpp_spark.indexing import release_ordinal_caches

    assert not is_debugging_enabled()
    for q in bench.BENCH_QUERIES:  # loads every table: schema memo warm
        qs[q](spark, SF)
    real = py4j.clientserver.JavaClient.send_command
    sent = [0]

    def counted(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent[0] += 1
        return real(self, command, *args, **kwargs)

    got = {}
    py4j.clientserver.JavaClient.send_command = counted
    try:
        for q in bench.BENCH_QUERIES:
            release_ordinal_caches()
            before = sent[0]
            qs[q](spark, SF)
            got[q] = sent[0] - before
    finally:
        py4j.clientserver.JavaClient.send_command = real
        release_ordinal_caches()
    assert sum(got.values()) <= 0.55 * _HEADLINE_BUILD_PY4J_BEFORE, got


def test_headline_codegen_stays_compiled(spark, qs):
    """A repeated pass of the headline queries compiles no generated code.

    Whole-stage codegen classes live in one per-JVM LRU; ``get_spark``
    sizes it to the engine's working set. A cache smaller than a pass's
    distinct classes recompiles almost all of them on every pass, and so
    does a query whose generated code carries a literal that changes per
    call. The first pass warms the cache; the second runs as the benchmark
    does (memos flushed, then a noop write, where most classes compile)
    and must not move Janino's compile count."""
    import bench
    from semantic_cpp_spark.indexing import release_ordinal_caches
    from semantic_cpp_spark.session import codegen_compiles

    def run(q):
        release_ordinal_caches()
        qs[q](spark, SF).write.format("noop").mode("overwrite").save()

    for q in bench.BENCH_QUERIES:
        run(q)
    deltas = {}
    for q in bench.BENCH_QUERIES:
        before = codegen_compiles(spark)
        run(q)
        deltas[q] = codegen_compiles(spark) - before
    release_ordinal_caches()
    assert not any(deltas.values()), f"classes compiled per query on a warm pass: {deltas}"
