"""Dense global ordinal assignment — the ``__idx`` column.

The reference models every stream as ``(element, Timestamp index)`` pairs
(reference function.h:11, :53-57); the index is a first-class mutable
coordinate (reverse negates it, translate shifts it, findAt looks it up —
reference semantic.h:1448-1461, :1577-1590; collector.h:859-910). Our engine
carries it as a LongType column ``__idx``, dense 0..n-1 at every re-based
boundary.

Scale design (SURVEY.md §7 hard-part 1): a global ``row_number()`` window
funnels all rows through ONE task — unusable at 100 TB. Two scalable
strategies, both the classic zipWithIndex scheme (per-split counts →
cumulative offsets → local rank + offset) in pure DataFrame ops — no RDD
round-trip, no Python serialization, every row produced once:

- "bucket" (preferred, fully deterministic): requires a single NUMERIC
  total-order key. Split = the logical bucket ``floor(key / width)`` —
  derived from DATA, not physical partitioning, so the per-bucket counts
  job and the final job agree by construction with no caching. One shuffle
  (hash by bucket) + a broadcast of the tiny offsets table.

- "range": arbitrary (possibly compound / non-numeric) sort keys.
  ``repartitionByRange`` orders the physical partitions; per-partition
  counts become offsets. The partitioned input is persisted so both jobs
  see identical splits (range sampling is not contractually deterministic).

Determinism requires the order key to be a TOTAL order (unique); all engine
sources guarantee one (event_id, doc_id, ... or an explicit position).
"""

from __future__ import annotations

from collections import Counter
from typing import Any, Callable, Iterable, Union
from urllib.parse import urlparse
from urllib.request import url2pathname

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from semantic_cpp_spark.session import parquet_int_stats

IDX = "__idx"
_PID = "__sem_pid"
_OFF = "__sem_off"

# The engine's one plan-keyed memo: (analyzed semanticHash, input-file-
# snapshot hash, *tag) → a probe result or a pinned DataFrame. The hash
# identifies the logical plan and the file snapshot ties it to the data
# listing: appending a file to a source directory leaves semanticHash
# unchanged (a file index compares by root paths), so a re-read after
# append/overwrite misses instead of serving stale results. Bounded FIFO
# so a long session cannot grow it without limit; flushed only by
# release_ordinal_caches at session boundaries.
_MEMO: dict = {}
_MEMO_MAX = 512

# lookups since process start: "hits", "misses", "<tag> hits", "<tag> misses"
_MEMO_COUNTS: Counter = Counter()

# persists outstanding in this session: every memoised persist is made by
# pin. Lifetime must span every materialisation of plans built on them —
# laziness makes the "right" unpersist moment unknowable — so a memo
# eviction never unpersists; callers flush at natural boundaries.
_PERSISTED: list = []


def memo(df: DataFrame, tag: tuple, compute: Callable[[], Any]) -> Any:
    """``compute()``'s value for ``df``'s plan and file snapshot under
    ``tag`` (its first element names the lookup kind), computed once per
    session between flushes. A persist made inside ``compute`` must go
    through ``pin``."""
    key = (
        df._jdf.queryExecution().analyzed().semanticHash(),
        hash(tuple(sorted(df.inputFiles()))),
        *tag,
    )
    hit = key in _MEMO
    outcome = "hits" if hit else "misses"
    _MEMO_COUNTS.update((outcome, f"{tag[0]} {outcome}"))
    if not hit:
        value = compute()
        if len(_MEMO) >= _MEMO_MAX:
            _MEMO.pop(next(iter(_MEMO)))
        _MEMO[key] = value
    return _MEMO[key]


def memo_counts() -> Counter:
    """Memo lookups since the process started: ``"hits"``, ``"misses"``
    and the same per lookup kind (``"density misses"``, ...), plus
    ``"density footers"``: density misses answered from parquet footers
    with no job (``_density``)."""
    return Counter(_MEMO_COUNTS)


def release_ordinal_caches() -> int:
    """Empty the memo and unpersist every DataFrame ``pin`` registered;
    return how many it unpersisted. Call at session boundaries (bench
    teardown, test fixture finalizers). Any later re-materialisation of
    a dependent plan recomputes its input — results stay correct
    row-set-wise; only an (already materialised) ordinal assignment must
    not be recomputed under a changed sampling, which is why the flush
    belongs at boundaries."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    _MEMO.clear()
    return n


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` so every later job reads the rows its first job
    computed; registered for ``release_ordinal_caches``."""
    pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(pinned)
    return pinned


def pin_if_nondeterministic(df: DataFrame) -> DataFrame:
    """``pin(df)`` when its analyzed plan is nondeterministic (an
    upstream ``rand()``, a sample) and it is not pinned yet; else ``df``.
    Multi-job paths that locate rows by counts from one job and read
    them in another need both jobs to see the same rows."""
    if df.is_cached or df._jdf.queryExecution().analyzed().deterministic():
        return df
    return pin(df)


_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

# types the deterministic quantile-bounds range path accepts: anything
# whose cast to double is a monotone (possibly non-strict) map — equal-
# after-cast keys just share a bucket and the local window orders them
# by the TRUE key, so lossy casts (int64 > 2^53, high-precision
# decimals) stay correct.
_QNUMERIC = _NUMERIC + (T.FloatType, T.DoubleType, T.DecimalType)

ColumnOrName = Union[Column, str]


def one_window() -> WindowSpec:
    """A window over all rows as one partition, for frames bounded by
    construction (a per-bucket counts table, a top-k list). The explicit
    key silences WindowExec's "No Partition Defined" warning, so that
    warning stays a signal for a real accidental global window.
    pmod(spark_partition_id(), 1) is always 0 but not foldable: a plain
    lit(0) is folded out of the partition spec and the warning returns."""
    return Window.partitionBy(F.pmod(F.spark_partition_id(), F.lit(1)))


def _cols(order_by: Iterable[ColumnOrName]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def _leading_numeric_key(df: DataFrame, order_by: list[ColumnOrName]) -> str | None:
    """Name of the LEADING integer-like order column (works for compound
    keys too: bucketing on the first column is a coarser monotone function
    of the lexicographic key — equal leading values share a bucket, and
    the local window orders by the full key)."""
    if not order_by or not isinstance(order_by[0], str):
        return None
    name = order_by[0]
    try:
        dtype = df.schema[name].dataType
    except KeyError:
        return None
    return name if isinstance(dtype, _NUMERIC) else None


_BITS = {"byte": 8, "short": 16, "integer": 32, "long": 64}
_PROJECT = "org.apache.spark.sql.catalyst.plans.logical.Project"
_ATTRIBUTE = "org.apache.spark.sql.catalyst.expressions.AttributeReference"
_LOGICAL_RELATION = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_FS_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
# exact class: a subclass (a table format's reader) may drop rows the
# footers still count
_PARQUET = "org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat"


def _footer_density(df: DataFrame, key: str) -> tuple[int | None, int | None, int] | None:
    """(min, max, count) of ``key`` from parquet footers, or None when
    ``df.select(key)`` is not a bare scan of them: its optimized plan must
    be exactly ``Project[<key attribute>]`` over an unpartitioned parquet
    relation of local (``file:``) files, or that relation alone when the
    key is its only column. Then the footers describe exactly the rows a
    probe would aggregate."""
    scan = df.select(key)
    plan = scan._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getName() == _PROJECT:
        attrs, rel = plan.projectList(), plan.child()
    else:
        attrs, rel = plan.output(), plan
    if attrs.size() != 1:
        return None
    attr = attrs.apply(0)
    if (attr.getClass().getName() != _ATTRIBUTE
            or rel.getClass().getName() != _LOGICAL_RELATION):
        return None
    fs = rel.relation()
    if (fs.getClass().getName() != _FS_RELATION
            or fs.fileFormat().getClass().getName() != _PARQUET
            or not fs.partitionSchema().isEmpty()):
        return None
    files = scan.inputFiles()
    if not all(f.startswith("file:") for f in files):
        return None
    return parquet_int_stats([url2pathname(urlparse(f).path) for f in files],
                             attr.name(), _BITS[attr.dataType().typeName()])


def _density(df: DataFrame, key: str) -> tuple[int, int, bool]:
    """(min, count, dense) of integer column ``key``. Read from the
    parquet footers when ``df.select(key)`` is a bare scan of local
    parquet files that record the column's statistics (``_footer_density``;
    counted as ``"density footers"`` in ``memo_counts``), with no job;
    else one eager min/max/count aggregate. Both give the same answer."""
    stats = _footer_density(df, key)
    if stats is not None:
        _MEMO_COUNTS["density footers"] += 1
        lo, hi, n = stats
    else:
        probe = df.agg(
            F.min(key).alias("lo"), F.max(key).alias("hi"), F.count(key).alias("n")
        ).first()
        lo, hi, n = probe["lo"], probe["hi"], int(probe["n"])
    lo = int(lo) if n else 0
    return lo, n, n > 0 and int(hi) - lo + 1 == n


def _qbounds(df: DataFrame, qkey: str, n: int) -> list[float]:
    """Sorted distinct approximate n-quantile boundaries of ``qkey``.

    percentile_approx (codegen agg) measured ~2x faster than
    DataFrame.stat.approxQuantile's RDD path for the same sketch; accuracy
    1000 bounds the sketch size (balance-only — boundary placement never
    affects values). Nulls are ignored by the sketch; NaNs are dropped
    from the bounds (a NaN bound would act as +inf anyway)."""
    probs = F.array(*[F.lit(i / n) for i in range(1, n)])
    row = df.agg(
        F.percentile_approx(F.col(qkey).cast("double"), probs, F.lit(1000)).alias("__b")
    ).first()
    return sorted({b for b in row["__b"] or [] if b is not None and b == b})


def with_ordinal(
    df: DataFrame,
    order_by: Iterable[ColumnOrName],
    name: str = IDX,
    strategy: str = "auto",
    num_partitions: int | None = None,
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Attach a dense 0..n-1 LongType ordinal ``name`` ordered by ``order_by``.

    strategy: "auto" probes a single integer-like key for DENSITY first
    (min/max/count of the key column: read from the parquet footers when
    ``df`` is a bare scan of local parquet files, else one aggregate job
    over the pruned column; see ``_density``): a dense key means
    ``name = key - min`` is a pure narrow map and the big side NEVER
    shuffles — the dominant case for well-formed ids (event_id,
    doc_id, a position column). Non-dense integer keys use
    "bucket"; compound/non-numeric keys use "range". "window" (global
    row_number — single-task sort) exists for tests/cross-checks only.

    The density-probe memo assumes source data is IMMUTABLE within a
    session for a given plan: the cache key combines the analyzed plan's
    semanticHash with the relation's input-file snapshot, so re-reading a
    path after an append/overwrite (a new file listing) misses the memo,
    but mutating files in place behind a live DataFrame is undefined —
    call ``release_ordinal_caches()`` to force a fresh probe.
    """
    order_by = list(order_by)
    cols = _cols(order_by)
    if not cols:
        raise ValueError("with_ordinal requires at least one order column")

    if strategy == "window":
        w = one_window().orderBy(*cols)
        return df.withColumn(name, (F.row_number().over(w) - 1).cast("long"))

    key = _leading_numeric_key(df, order_by)
    if strategy in ("auto", "bucket") and key is not None:
        # the density probe or the bucket counts job, and the final job,
        # each read df
        df = pin_if_nondeterministic(df)

    if strategy == "auto":
        if key is not None:
            if len(order_by) == 1:
                # single-key density probe: dense → ordinal is a pure map.
                # Memoised so chained ops don't re-run the eager
                # key-column scan.
                lo, n, dense = memo(df, ("density", key), lambda: _density(df, key))
                if n == 0:
                    return df.withColumn(name, F.lit(0).cast("long"))
                if dense:
                    return df.withColumn(
                        name,
                        (F.col(key).cast("long") - F.lit(lo)).cast("long"),
                    )
            strategy = "bucket"
        else:
            strategy = "range"

    if strategy == "bucket":
        if key is None:
            raise ValueError("bucket strategy needs a leading integer-like key")
        bucket = F.floor(F.col(key).cast("long") / F.lit(bucket_width)).cast("long")
        tagged = df.withColumn(_PID, bucket)
    elif strategy == "range":
        spark = df.sparkSession
        n = num_partitions or max(spark.sparkContext.defaultParallelism, 2)
        # Deterministic quantile-bounds path (r16, guide §2.5/§5): when
        # the LEADING order key is a named numeric column ordered
        # ascending, bucket boundaries come from ONE eager
        # approxQuantile probe over the pruned key column and are
        # frozen into the plan as literals — the bucket assignment is
        # then a pure deterministic row function, so NO persist is
        # needed for retry/rematerialisation consistency (the old
        # repartitionByRange path had to pin its nondeterministic
        # SAMPLE with a corpus-scale MEMORY_AND_DISK persist — exactly
        # the cache-pressure §5 warns about at 100 TB, rebuilt per
        # timed run since the r16 bench de-gaming). Monotone-coarsening
        # correctness: bucket = #bounds <= key is non-strictly
        # monotone in the key's sort order (Spark semantics give
        # null → empty filter → bucket 0, matching asc-nulls-first,
        # and NaN >= every bound → last bucket, matching asc-NaN-last);
        # the local window then orders by the FULL key within each
        # bucket, so boundary placement affects only balance, never
        # values. Skewed/degenerate distributions cost balance, not
        # correctness. Non-numeric or descending leading keys keep the
        # sampled+persisted path below.
        qkey = None
        if isinstance(order_by[0], str):
            try:
                if isinstance(df.schema[order_by[0]].dataType, _QNUMERIC):
                    qkey = order_by[0]
            except KeyError:
                qkey = None
        bounds = None
        if qkey is not None:
            # the bounds probe and the final job both read df
            df = pin_if_nondeterministic(df)
            bounds = memo(df, ("qbounds", qkey, n), lambda: _qbounds(df, qkey, n))
        if bounds:
            # bucket = #bounds <= key, as a plain comparison-sum chain:
            # a filter() higher-order function here trips an optimizer
            # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND when the lambda-bearing
            # grouping expression is collapsed into the downstream
            # aggregate (observed Spark 4.1); per-term when() keeps the
            # whole bucket expression codegen-able scalar arithmetic.
            # null key: every term's otherwise(0) fires -> bucket 0
            # (asc-nulls-first); NaN: >= every bound -> last bucket
            # (asc-NaN-last).
            kd = F.col(qkey).cast("double")
            terms = [
                F.when(kd >= F.lit(float(b)), F.lit(1)).otherwise(F.lit(0))
                for b in bounds
            ]
            bucket = sum(terms[1:], terms[0]).cast("long")
            tagged = df.withColumn(_PID, bucket)
        else:
            # sampled range partitioning, pinned by a persist: the
            # sample is nondeterministic, so every materialisation of
            # an unpersisted plan could assign different buckets.
            # Memoised per logical plan: re-running the same query
            # (chained ops; NOT timed bench runs, which flush this
            # first — r16 de-gaming) must reuse the SAME persisted
            # DataFrame — re-persisting an identical plan just trips
            # CacheManager's "already cached" warning and grows
            # _PERSISTED.
            tagged = memo(
                df,
                ("range", tuple(str(c) for c in cols), n),
                lambda: pin(
                    df.repartitionByRange(n, *cols).withColumn(_PID, F.spark_partition_id())
                ),
            )
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    counts = tagged.groupBy(_PID).agg(F.count(F.lit(1)).alias("__cnt"))
    # The offsets cumulative sum is a GLOBAL window by design — but only
    # over the tiny per-bucket counts table (one row per bucket/partition).
    w_off = one_window().orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        _OFF, F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).cast("long")
    ).select(_PID, _OFF)
    local = Window.partitionBy(_PID).orderBy(*cols)
    return (
        tagged.join(F.broadcast(offsets), _PID)
        .withColumn(name, (F.row_number().over(local) - 1 + F.col(_OFF)).cast("long"))
        .drop(_PID, _OFF)
    )


def rebase_index(df: DataFrame, name: str = IDX) -> DataFrame:
    """Re-number ``name`` densely 0..k-1 preserving current index order.

    The reference re-bases indices after filter/flatMap/distinct/sort/
    concatenate (e.g. semantic.h:1207 re-counts survivors) but PRESERVES
    them through map/skip/sub/peek — callers pick the matching behavior.

    The incoming index is unique (a dense one filtered, or a caller's
    sparse one), so the deterministic bucket strategy always applies: lazy,
    with no eager probe. ``SemanticFrame`` re-numbers its push order this
    way after filter/distinct and once for a caller-built frame.
    """
    tmp = f"{name}__new"
    out = with_ordinal(df, [name], name=tmp, strategy="bucket")
    return out.drop(name).withColumnRenamed(tmp, name)


def normalize_index(df: DataFrame, name: str = IDX) -> DataFrame:
    """Python-style modulo wrap of indices into [0, n): ``((i % n) + n) % n``.

    This is the reference's OrderedCollectable normalisation
    (semantic.h:492-504) applied at every ``toOrdered`` materialisation; it
    is what turns ``reverse()``'s negated indices into the observable
    rotation-reversal (element 0 stays at 0, elements 1..n-1 reverse —
    SURVEY.md §2.3) and wraps ``translate()`` offsets around.

    n is a scalar aggregate joined back via a broadcast of the 1-row side —
    no shuffle of the big side.
    """
    n_df = df.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    i = F.col(name)
    nn = F.col("__n")
    return (
        df.crossJoin(F.broadcast(n_df))
        .withColumn(name, ((i % nn) + nn) % nn)
        .drop("__n")
    )
