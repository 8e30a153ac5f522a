"""Grouping / partitioning / profile collectors (reference collector.h §2.6,
frequency/distribution §2.5, mode) as DataFrame pipelines.

All of these are single-shuffle groupBy aggregations (Spark's partial+final
HashAggregate is exactly the reference's Accumulator/Combiner shape,
collector.h:51-153). Encounter order inside collected lists is pinned by
sorting on the carried ``__idx`` — never on partition order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_cpp_spark.indexing import IDX


def group_collect(
    df: DataFrame, key: Column, value: Column | None = None, idx: str = IDX
) -> DataFrame:
    """useGroup/useGroupBy: key → values in encounter order
    (reference collector.h:1065-1130). Output: (key, values array).

    SIZE GUARD: the array holds the WHOLE group — that is the reference's
    contract, but on a skewed/low-cardinality key at scale a single task
    buffers the group; use group_collect_capped for pipeline work."""
    v = F.col("value") if value is None else value
    packed = F.struct(F.col(idx).alias("i"), v.alias("v"))
    out = (
        df.select(key.alias("key"), packed.alias("p"))
        .groupBy("key")
        .agg(F.array_sort(F.collect_list("p")).alias("ps"))
        .select("key", F.transform("ps", lambda s: s["v"]).alias("values"))
    )
    return out


def partition_chunks(df: DataFrame, size: int, idx: str = IDX) -> DataFrame:
    """usePartition: fixed-size chunks in index order
    (reference collector.h:2098-2136); size<=1 → singletons.
    Output: (chunk, values array)."""
    size = max(int(size), 1)
    chunk = F.floor(F.col(idx) / F.lit(size)).cast("long")
    return group_collect(df, chunk, idx=idx).withColumnRenamed("key", "chunk")


def partition_by_key(
    df: DataFrame, key: Column, value: Column | None = None, idx: str = IDX
) -> DataFrame:
    """usePartitionBy: Timestamp-keyed buckets, emitted sorted by key
    (reference collector.h:2138-2203 — std::map ordering). Ordering is a
    presentation concern in Spark; consumers orderBy('key')."""
    return group_collect(df, key.cast("long"), value, idx)


def group_collect_capped(
    df: DataFrame,
    key: Column,
    max_group_size: int,
    value: Column | None = None,
    idx: str = IDX,
) -> DataFrame:
    """Bounded-memory useGroup variant: FIRST ``max_group_size`` elements
    per group in encounter order, plus the full group count.

    The reference group/frequency collectors genuinely return every
    element/position per key (collector.h:1065-1093), which is unbounded
    per-task memory on a skewed key at 100 TB (r2 verdict: the engine's
    only perf-weak spot). Here the cap applies BEFORE collection — a
    per-key row_number window (sort-based, spillable) then a filter — so
    no task ever materialises more than ``max_group_size`` elements per
    group; the count aggregate restores the information the cap drops.
    Output: (key, values array capped, n_total long)."""
    from pyspark.sql import Window

    v = F.col("value") if value is None else value
    keyed = df.select(key.alias("key"), F.col(idx).alias("i"), v.alias("v"))
    w = Window.partitionBy("key").orderBy("i")
    head = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_group_size)
        .groupBy("key")
        .agg(
            F.array_sort(F.collect_list(F.struct("i", "v"))).alias("ps")
        )
        .select("key", F.transform("ps", lambda s: s["v"]).alias("values"))
    )
    counts = keyed.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    # both sides hash-partitioned on key — co-located join, AQE-planned
    return head.join(counts, "key")


def frequency_profile_capped(
    df: DataFrame, value: Column, max_positions: int, idx: str = IDX
) -> DataFrame:
    """Bounded-memory useFrequency variant: first ``max_positions``
    occurrence positions per distinct value (encounter order) + the full
    per-value occurrence count + the stream length. Same cap-before-
    collect shape as group_collect_capped. Output:
    (value, positions array<long> capped, n_value long, total long)."""
    from pyspark.sql import Window

    keyed = df.select(value.alias("value"), F.col(idx).alias("i"))
    w = Window.partitionBy("value").orderBy("i")
    head = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_positions)
        .groupBy("value")
        .agg(F.array_sort(F.collect_list("i")).alias("positions"))
    )
    counts = keyed.groupBy("value").agg(
        F.count(F.lit(1)).cast("long").alias("n_value")
    )
    total = df.agg((F.max(F.col(idx)) + 1).cast("long").alias("total"))
    return head.join(counts, "value").crossJoin(F.broadcast(total))


def frequency_profile(df: DataFrame, value: Column, idx: str = IDX) -> DataFrame:
    """useFrequency: per distinct value, the sorted list of occurrence
    positions plus the stream length (reference collector.h:1805-1906).
    Output: (value, positions array<long>, total long).

    Two aggregates: per-value groupBy (scalable) + a scalar stream length
    broadcast back — no global sort.

    SIZE GUARD: positions holds EVERY occurrence of a value (the
    reference's contract); a hot value at scale buffers its whole
    position set in one task — use frequency_profile_capped for
    pipeline work."""
    per_value = (
        df.select(value.alias("value"), F.col(idx).alias("i"))
        .groupBy("value")
        .agg(F.array_sort(F.collect_list("i")).alias("positions"))
    )
    total = df.agg((F.max(F.col(idx)) + 1).cast("long").alias("total"))
    return per_value.crossJoin(F.broadcast(total))


def distribution_profile(df: DataFrame, value: Column, idx: str = IDX) -> DataFrame:
    """useDistribution: per-value (positionSum, count), z-scored against the
    MODE of those quantities across values (reference collector.h:1908-2096):
    score = (x - mode) / max(stddev_pop, guard) with the reference's
    0.001→1.0 stddev floor guard (:1989-1992). Returns
    (value, pos_score double, cnt_score double) — the reference's
    complex(posScore, cntScore) flattened to two fields (SURVEY §1.3).

    Mode of doubles across values follows the deterministic tie-break
    (smallest value) since the reference's unordered_map iteration order is
    nondeterministic (SURVEY §7.4).
    """
    per_value = (
        df.select(value.alias("value"), F.col(idx).alias("i"))
        .groupBy("value")
        .agg(
            F.sum("i").cast("double").alias("pos_sum"),
            F.count(F.lit(1)).cast("double").alias("cnt"),
        )
    )
    stats = per_value.agg(
        F.stddev_pop("pos_sum").alias("pos_sd"),
        F.stddev_pop("cnt").alias("cnt_sd"),
    )
    pos_mode = _mode_scalar(per_value, "pos_sum")
    cnt_mode = _mode_scalar(per_value, "cnt")
    guard = lambda sd: F.when(sd < 0.001, F.lit(1.0)).otherwise(sd)  # noqa: E731
    out = (
        per_value.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(pos_mode))
        .crossJoin(F.broadcast(cnt_mode))
        .select(
            "value",
            ((F.col("pos_sum") - F.col("pos_mode")) / guard(F.col("pos_sd"))).alias(
                "pos_score"
            ),
            ((F.col("cnt") - F.col("cnt_mode")) / guard(F.col("cnt_sd"))).alias(
                "cnt_score"
            ),
        )
    )
    return out


def _mode_scalar(df: DataFrame, col: str) -> DataFrame:
    """Deterministic mode of one column: max count, ties → smallest value."""
    counted = df.groupBy(col).agg(F.count(F.lit(1)).alias("__c"))
    return counted.agg(
        F.max_by(F.col(col), F.struct(F.col("__c"), (-F.col(col)).alias("nv"))).alias(
            f"{col.split('_')[0]}_mode"
        )
    )


def mode_df(df: DataFrame, value: Column) -> DataFrame:
    """useMode: most frequent value, deterministic tie-break (smallest
    value wins) — reference collector.h:2251-2277 is nondeterministic on
    ties via unordered_map order; we pin it (SURVEY §7.4). Two-level
    aggregate, both scalable."""
    counted = df.groupBy(value.alias("value")).agg(F.count(F.lit(1)).alias("__c"))
    return counted.agg(
        F.max_by(
            F.col("value"),
            F.struct(F.col("__c").alias("c"), (-F.col("value")).alias("nv")),
        ).alias("value")
    )
