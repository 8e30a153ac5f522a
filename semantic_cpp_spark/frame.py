"""SemanticFrame — the fluent (element, index) stream API, Spark-first.

Mirrors the reference's ``Semantic<E>`` chainable surface
(reference semantic.h:980-1591) on top of a DataFrame with columns
``(__idx: long, __ord: long, value: <T>)``. Operators are lazy DataFrame
transformations; Catalyst fuses the chain exactly as the reference's
closure composition does (reference semantic.h:1376-1395), but with
predicate pushdown / column pruning / codegen for free.

Two coordinates are tracked because the reference distinguishes them:

- ``__idx`` — the LOGICAL index (the reference's ``Timestamp``): what
  operators emit via ``accept(element, index)``, what index-aware lambdas
  and findAt observe, and what toOrdered normalises.
- ``__ord`` — the PUSH (arrival) order: the sequence in which the
  generator chain delivers elements. Counter-based operators (filter,
  distinct, dropWhile, limit, skip, sub, concatenate — all of which emit
  their OWN running counter, semantic.h:1207/:1133/:1186/:1366/:1472/
  :1521) count in push order, NOT by the incoming index. The two
  coordinates coincide until reverse()/translate() rewrite ``__idx``
  without reordering pushes — after which e.g. ``reverse().limit(2)``
  still takes the first two PUSHED elements (pinned by tests).

``__ord`` is dense 0..n-1 in every frame, by construction: engine
sources number their rows densely, every operator keeps or re-numbers it
densely, and a frame a caller builds from its own DataFrame is re-numbered
once, lazily, at construction. So the counter operators read push
positions directly (limit/skip/sub filter on them, drop_while and
concatenate shift them, filter/distinct re-number survivors with the
lazy bucket rebase); none of them runs an eager job.

User callables receive Columns ``(value)`` or ``(value, idx)`` — the
reference's arity-dispatched index-aware lambda pattern
(semantic.h:1342-1357) — and must return a Column, keeping everything
JVM-side; Python-valued callables belong in pandas_udf kernels instead.
"""

from __future__ import annotations

import inspect
from typing import Any, Callable, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from semantic_cpp_spark.indexing import IDX, normalize_index, rebase_index, with_ordinal

VALUE = "value"
ORD = "__ord"

ColumnFn = Union[Column, Callable[..., Column]]


def _apply(fn: ColumnFn, value: Column, idx: Column) -> Column:
    """Arity-dispatch an index-aware lambda (reference semantic.h:1342-1357)."""
    if isinstance(fn, Column):
        return fn
    try:
        arity = len(inspect.signature(fn).parameters)
    except (TypeError, ValueError):
        arity = 1
    return fn(value, idx) if arity >= 2 else fn(value)


class KeyComparator:
    """The distributable comparator family for ``distinct(comparator=...)``.

    The reference overload (semantic.h:1144-1164) deduplicates through
    ``std::set<E, Comparator>`` — any strict weak ordering, where two
    elements are duplicates iff neither orders before the other. A
    black-box pairwise ``lt(a, b)`` cannot be hash-partitioned (equivalence
    membership would need all-pairs comparison — O(n²) shuffles), but every
    comparator of the form ``a < b  iff  key(a) < key(b)`` — compare-by-
    extracted-key, the shape of virtually every real std::set comparator
    (case-folded strings, by-field ordering, rounded/banded numerics,
    modular classes) — induces equivalence classes that are exactly the
    equality classes of ``key``, so canonical-representative dedup is a
    key-partitioned first-occurrence pick: one shuffle at any scale.

    Build one with ``compare_by(key_fn)``; arbitrary pairwise comparators
    outside this family raise NotImplementedError with this note (also
    recorded in COVERAGE.md §2.2)."""

    def __init__(self, key: ColumnFn):
        self.key = key


def compare_by(key: ColumnFn) -> KeyComparator:
    """Comparator ordering elements by an extracted key — the supported
    ``distinct(comparator)`` family (see KeyComparator)."""
    return KeyComparator(key)


class SemanticFrame:
    """A stream of (value, __idx) pairs backed by a DataFrame.

    ``df`` must contain LongType ``__idx`` and a value column (any Spark
    type — the reference's template parameter E, SURVEY.md §1.3);
    ``__ord`` is taken as ``__idx`` when absent (sources push in index
    order). Either need only be unique: the push order is re-numbered
    dense 0..n-1 here, by the lazy bucket rebase (no eager job).
    """

    def __init__(self, df: DataFrame, value_col: str = VALUE):
        if value_col != VALUE:
            df = df.withColumnRenamed(value_col, VALUE)
        if ORD not in df.columns:
            df = df.withColumn(ORD, F.col(IDX))
        self.df = rebase_index(df, ORD).select(IDX, ORD, VALUE)

    # -- plumbing ---------------------------------------------------------

    @property
    def _v(self) -> Column:
        return F.col(VALUE)

    @property
    def _i(self) -> Column:
        return F.col(IDX)

    @classmethod
    def _with(cls, df: DataFrame) -> "SemanticFrame":
        """A frame over ``df`` whose ``__ord`` (``__idx`` when absent) is
        already dense 0..n-1 — engine sources and this class's operators,
        which need no re-numbering."""
        frame = cls.__new__(cls)
        if ORD not in df.columns:
            df = df.withColumn(ORD, F.col(IDX))
        frame.df = df.select(IDX, ORD, VALUE)
        return frame

    def _recounted(self, df: DataFrame) -> "SemanticFrame":
        """The dense push order of ``df`` becomes both the logical index
        and the push order (the counter-emitting operators renumber
        both)."""
        return self._with(df.select(F.col(ORD).alias(IDX), ORD, VALUE))

    def _positions(self, start: int, end: int | None = None) -> "SemanticFrame":
        """Push positions [start, end), each emitted at its position (the
        operator's counter includes the skipped prefix); the survivors'
        push order counts from 0 again."""
        keep = F.col(ORD) >= start
        if end is not None:
            keep = keep & (F.col(ORD) < end)
        return self._with(
            self.df.filter(keep).select(
                F.col(ORD).alias(IDX),
                (F.col(ORD) - F.lit(max(start, 0))).alias(ORD),
                VALUE,
            )
        )

    def to_df(self) -> DataFrame:
        """The raw (``__idx``, ``value``) DataFrame, unordered."""
        return self.df.select(IDX, VALUE)

    def to_list(self) -> list[Any]:
        """Driver-side materialisation in index order (test helper)."""
        return [
            r[VALUE]
            for r in self.df.orderBy(IDX, ORD).select(VALUE).collect()
        ]

    def pairs(self) -> list[tuple[int, Any]]:
        return [
            (r[IDX], r[VALUE])
            for r in self.df.orderBy(IDX, ORD).select(IDX, VALUE).collect()
        ]

    # -- intermediate ops: projections / filters (SURVEY §2.2) ------------

    def map(self, fn: ColumnFn) -> "SemanticFrame":
        """1:1 transform; index preserved (reference semantic.h:1376-1395)."""
        return self._with(
            self.df.select(
                self._i, F.col(ORD), _apply(fn, self._v, self._i).alias(VALUE)
            )
        )

    def redirect(self, fn: ColumnFn) -> "SemanticFrame":
        """Rewrite element as f(element, index); index preserved.

        Reference semantic.h:1433-1446 — despite README.md:411 calling it an
        index remap, the code rewrites the ELEMENT (accept(redirector(e,i), i)).
        """
        return self.map(fn)

    def filter(self, pred: ColumnFn) -> "SemanticFrame":
        """Keep matches; emits its own counter in push order
        (reference semantic.h:1197-1216: accept(element, count))."""
        kept = self.df.filter(_apply(pred, self._v, self._i))
        return self._recounted(rebase_index(kept, ORD))

    def flat(self, fn: ColumnFn | None = None) -> "SemanticFrame":
        """Flatten an array-valued element (or extractor result) 1:N;
        re-numbered by a global running count (reference
        semantic.h:1244-1307). Inner order = array order, outer order =
        push order — rank on (parent __ord, position)."""
        arr = self._v if fn is None else _apply(fn, self._v, self._i)
        exploded = self.df.select(
            F.col(ORD).alias("__pord"), F.posexplode(arr).alias("__pos", VALUE)
        )
        out = with_ordinal(exploded, ["__pord", "__pos"], name=ORD)
        return self._recounted(out)

    def flat_map(self, fn: ColumnFn) -> "SemanticFrame":
        """Alias of flat(extractor) — reference flatMap semantic.h:1309-1335."""
        return self.flat(fn)

    def peek(self) -> "SemanticFrame":
        """Observation point. The reference's side-effect consumer
        (semantic.h:1407-1431) has no distributed analogue with exactly-once
        semantics; we expose the stream unchanged (see peek_observe)."""
        return self

    def distinct(
        self,
        key: ColumnFn | None = None,
        comparator: "KeyComparator | Callable | None" = None,
    ) -> "SemanticFrame":
        """First-occurrence (in push order) dedup, re-counted
        (reference semantic.h:1122-1164).

        ``key`` dedups under a custom equivalence directly; ``comparator``
        is the std::set strict-weak-ordering overload, supported for the
        compare-by-key family (``compare_by(key_fn)`` — see KeyComparator
        for why that family is the distributable subset). An arbitrary
        pairwise comparator raises NotImplementedError rather than
        silently running an O(n²) all-pairs plan."""
        if comparator is not None:
            if key is not None:
                raise ValueError("pass either key or comparator, not both")
            if isinstance(comparator, KeyComparator):
                key = comparator.key
            else:
                raise NotImplementedError(
                    "distinct(comparator) supports the compare-by-key family "
                    "only (frame.compare_by): a black-box pairwise comparator "
                    "cannot be hash-partitioned without an O(n^2) all-pairs "
                    "join — express the ordering as a key extractor instead "
                    "(COVERAGE.md §2.2)"
                )
        k = self._v if key is None else _apply(key, self._v, self._i)
        tagged = self.df.withColumn("__k", k)
        w = Window.partitionBy("__k").orderBy(ORD)
        kept = (
            tagged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__k", "__rn")
        )
        return self._recounted(rebase_index(kept, ORD))

    def take_while(self, pred: ColumnFn) -> "SemanticFrame":
        """Emit (with original indices) while pred holds in push order,
        then stop (reference semantic.h:1532-1554: accept(element, index)).
        Needs the global min push-position failing pred — a scalar
        aggregate broadcast back (two jobs, SURVEY §7.3)."""
        fail = F.when(~_apply(pred, self._v, self._i), F.col(ORD))
        cut = self.df.agg(F.min(fail).alias("__cut"))
        out = (
            self.df.crossJoin(F.broadcast(cut))
            .filter(F.col("__cut").isNull() | (F.col(ORD) < F.col("__cut")))
            .drop("__cut")
        )
        return self._with(out)

    def drop_while(self, pred: ColumnFn) -> "SemanticFrame":
        """Drop the leading push-order run while pred holds; everything
        from the first failure onward is emitted re-counted
        (reference semantic.h:1166-1195). The survivors are a suffix of
        the push order, so their new position is ``__ord - cut``."""
        fail = F.when(~_apply(pred, self._v, self._i), F.col(ORD))
        cut = self.df.agg(F.min(fail).alias("__cut"))
        kept = (
            self.df.crossJoin(F.broadcast(cut))
            .filter(F.col("__cut").isNotNull() & (F.col(ORD) >= F.col("__cut")))
            .withColumn(ORD, F.col(ORD) - F.col("__cut"))
        )
        return self._recounted(kept)

    # -- size control / index ops / ordering (SURVEY §2.3) ----------------

    def limit(self, n: int) -> "SemanticFrame":
        """First n elements by PUSH order, emitted with the operator's own
        counter 0..n-1 (reference semantic.h:1359-1374) — observable after
        skip/translate/reverse: reverse().limit(2) takes the first two
        PUSHED elements. The push order is dense, so this is a filter on
        it: a narrow map, no job before the main one."""
        return self._positions(0, n)

    def skip(self, n: int) -> "SemanticFrame":
        """Drop the first n pushed elements; the emitted index is the
        arrival counter INCLUDING the skipped prefix (reference
        semantic.h:1463-1481: accept(element, count)) — output indices
        start at n."""
        return self._positions(n)

    def sub(self, start: int, end: int) -> "SemanticFrame":
        """Slice arrival positions [start, end); emitted index = arrival
        position (reference semantic.h:1512-1530)."""
        return self._positions(start, end)

    def reverse(self) -> "SemanticFrame":
        """Negate indices; push order unchanged (reference
        semantic.h:1448-1461 — accept(element, -index) in the same
        sequence). The observable reversal happens at to_ordered()'s
        modulo-normalisation: -i mod n == n-i, so element 0 stays at
        index 0 and elements 1..n-1 reverse — a rotation-reversal."""
        return self._with(self.df.withColumn(IDX, -self._i))

    def translate(self, offset: int) -> "SemanticFrame":
        """Shift all indices by offset; push order unchanged
        (reference semantic.h:1577-1590)."""
        return self._with(self.df.withColumn(IDX, self._i + F.lit(offset)))

    def concatenate(self, other: "SemanticFrame") -> "SemanticFrame":
        """Append another stream; both sides re-numbered with one running
        count across the boundary in push order (reference
        semantic.h:1012-1120): the right side's push order is offset by
        the left count."""
        cnt = self.df.agg(F.count(F.lit(1)).cast("long").alias("__lc"))
        right = other.df.crossJoin(F.broadcast(cnt)).withColumn(
            ORD, F.col(ORD) + F.col("__lc")
        )
        return self._recounted(self.df.unionByName(right.drop("__lc")))

    def concatenate_element(self, element: Any) -> "SemanticFrame":
        """concatenate(single element) — the reference's scalar overload
        (semantic.h:1012-1120 branch 2): append one value at the end."""
        one = self.df.sparkSession.createDataFrame(
            [(0, 0, element)], schema=self.df.schema
        )
        return self.concatenate(self._with(one))

    def concatenate_container(self, items: list) -> "SemanticFrame":
        """concatenate(container) — the container overload (branch 4)."""
        rows = [(i, i, v) for i, v in enumerate(items)]
        other = self.df.sparkSession.createDataFrame(rows, schema=self.df.schema)
        return self.concatenate(self._with(other))

    def parallel(self, n: int | None = None) -> "SemanticFrame":
        """Concurrency declaration → repartition hint. Reference quirk: the
        no-arg overload sets concurrency to 1 (sequential!), semantic.h:
        1397-1400 — mapped to coalesce(1) for fidelity."""
        if n is None:
            return self._with(self.df.coalesce(1))
        return self._with(self.df.repartition(n))

    def sort(self, key: ColumnFn | None = None, ascending: bool = True) -> "SemanticFrame":
        """Stable value sort, ties broken by the stored (logical) index,
        re-indexed 0..n-1 (reference semantic.h:1483-1503, tiebreak
        comparator on (value, index) :477-490). Custom comparators become
        derived sort-key columns. The sorted buffer re-pushes in sorted
        order, so push order follows the new index."""
        k = self._v if key is None else _apply(key, self._v, self._i)
        tagged = self.df.withColumn("__k", k)
        # ascending passes the PLAIN column name (identical ordering —
        # bare columns order asc-nulls-first everywhere with_ordinal
        # uses them) so the range strategy can recognise a named
        # numeric leading key and take its deterministic
        # quantile-bounds path (r16, indexing.py) instead of the
        # sampled+persisted range partitioning.
        order = [
            "__k" if ascending else F.col("__k").desc(),
            F.col(IDX).asc(),
            F.col(ORD).asc(),
        ]
        out = with_ordinal(tagged, order, name="__rk")
        return self._recounted(out.drop(ORD).withColumnRenamed("__rk", ORD))

    # -- materialisation seams (SURVEY §1.2) ------------------------------

    def to_ordered(self) -> "SemanticFrame":
        """OrderedCollectable: modulo-normalise indices into [0, n)
        (reference semantic.h:471-517) — where reverse()/translate()
        become observable. The multimap buffer re-pushes in normalised
        index order (ties keep push order: multimap equal keys preserve
        insertion order), so __ord is re-ranked accordingly."""
        norm = normalize_index(self.df)
        out = with_ordinal(norm, [IDX, ORD], name="__rk")
        return self._with(
            out.select(IDX, F.col("__rk").alias(ORD), VALUE)
        )

    def to_unordered(self) -> "SemanticFrame":
        """UnorderedCollectable — no ordering guarantee; identity here
        (a DataFrame is already unordered; reference semantic.h:916-974
        materialises eagerly, which Spark replaces with laziness)."""
        return self

    def cache(self) -> "SemanticFrame":
        return self._with(self.df.cache())

    def to_statistics(self) -> DataFrame:
        """Statistics materialisation (reference semantic.h:600-879): the
        numeric terminal bundle as one row — count, sum, avg (empty→0),
        min, max, range, population variance/stddev, exact median, and the
        reference-formula skewness/kurtosis. One aggregation pass."""
        from semantic_cpp_spark.functions import stats

        v = self._v.cast("double")
        return self.df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("sum"),
            F.coalesce(F.avg(v), F.lit(0.0)).alias("avg"),
            F.min(v).alias("min"),
            F.max(v).alias("max"),
            (F.max(v) - F.min(v)).alias("range"),
            F.var_pop(v).alias("var_pop"),
            F.stddev_pop(v).alias("stddev_pop"),
            F.percentile(v, F.lit(0.5)).alias("median"),
            stats.skewness_ref(v).alias("skewness"),
            stats.kurtosis_ref(v).alias("kurtosis"),
        )

    def peek_observe(self, name: str, *exprs: Column) -> "SemanticFrame":
        """peek with real observability (reference semantic.h:1407-1431):
        attaches a named `DataFrame.observe` metric evaluated when the
        stream materialises — the exactly-once-safe form of a side-effect
        consumer (collect metrics via the QueryExecutionListener or
        `Observation`)."""
        metrics = exprs or (F.count(F.lit(1)).alias("rows"),)
        return self._with(self.df.observe(name, *metrics))

    # -- terminal finders (SURVEY §2.5 matching/finding) -------------------

    def find_at(self, i: int) -> DataFrame:
        """Element at LOGICAL index i. Negative i wraps python-style WITH
        modulo: (n - (|i| % n)) % n — reference collector.h:883-910 (so
        find_at(-n-1) == find_at(-1)); non-negative short-circuits
        (collector.h:859-881)."""
        if i >= 0:
            return self.df.filter(self._i == i).select(self._v.alias(VALUE))
        n_df = self.df.agg(F.count(F.lit(1)).cast("long").alias("__n"))
        nn = F.col("__n")
        # CASE-guard the modulo: ANSI mode (Spark 4 default) raises on % 0
        # for the empty-stream case.
        tgt = F.when(nn > 0, (nn - (F.lit(-i) % nn)) % nn)
        return (
            self.df.crossJoin(F.broadcast(n_df))
            .filter(self._i == tgt)
            .select(self._v.alias(VALUE))
        )

    def find_any(self) -> DataFrame:
        """useFindAny: genuinely nondeterministic in the reference
        (function.h:88-102 random accept, collector.h:838-857). Spark
        form: first row of whichever partition answers first — `limit(1)`
        with no ordering. Documented nondeterminism (SURVEY §7.4)."""
        return self.df.select(self._v.alias(VALUE)).limit(1)

    def for_each(self, fn) -> int:
        """useForEach (collector.h:450-464): driver-observable side effect
        per element + count, folded in push order to honor the reference's
        sequential contract (use ``df.foreach`` for fire-and-forget
        executor-side effects)."""
        rows = self.df.orderBy(ORD).select(VALUE).collect()
        for r in rows:
            fn(r[VALUE])
        return len(rows)

    def to_vector(self) -> list[Any]:
        """toVector (collector.h:2434-2448): values in index order."""
        return self.to_list()

    def to_set(self) -> set:
        """toSet: dedup (collector.h:2463-2474)."""
        return {r[VALUE] for r in self.df.select(VALUE).distinct().collect()}

    def to_map(self, key_fn: ColumnFn, value_fn: ColumnFn) -> dict:
        """toMap(keyFn, valueFn): last write wins per key in push order
        (unordered_map insert-or-assign over the stream)."""
        rows = (
            self.df.select(
                _apply(key_fn, self._v, self._i).alias("k"),
                _apply(value_fn, self._v, self._i).alias("v"),
                F.col(ORD),
            )
            .orderBy(ORD)
            .collect()
        )
        return {r["k"]: r["v"] for r in rows}

    def use_out(self, delimiter: str = ", ", prefix: str = "[", suffix: str = "]") -> str:
        """useOut (collector.h:1351-1576): join + print to stdout."""
        s = self.scalar(self.join_str(delimiter, prefix, suffix))
        print(s)
        return s

    def use_error(self, delimiter: str = ", ", prefix: str = "[", suffix: str = "]") -> str:
        """useError (collector.h:1578-1803): join + print to stderr."""
        import sys

        s = self.scalar(self.join_str(delimiter, prefix, suffix))
        print(s, file=sys.stderr)
        return s

    def find_first(self) -> DataFrame:
        return self.df.agg(F.min_by(self._v, self._i).alias(VALUE))

    def find_last(self) -> DataFrame:
        return self.df.agg(F.max_by(self._v, self._i).alias(VALUE))

    def find_minimum(self, key: ColumnFn | None = None) -> DataFrame:
        k = self._v if key is None else _apply(key, self._v, self._i)
        return self.df.agg(F.min_by(self._v, k).alias(VALUE))

    def find_maximum(self, key: ColumnFn | None = None) -> DataFrame:
        k = self._v if key is None else _apply(key, self._v, self._i)
        return self.df.agg(F.max_by(self._v, k).alias(VALUE))

    def all_match(self, pred: ColumnFn) -> DataFrame:
        p = _apply(pred, self._v, self._i)
        return self.df.agg(F.coalesce(F.bool_and(p), F.lit(True)).alias(VALUE))

    def any_match(self, pred: ColumnFn) -> DataFrame:
        p = _apply(pred, self._v, self._i)
        return self.df.agg(F.coalesce(F.bool_or(p), F.lit(False)).alias(VALUE))

    def none_match(self, pred: ColumnFn) -> DataFrame:
        p = _apply(pred, self._v, self._i)
        return self.df.agg(
            (~F.coalesce(F.bool_or(p), F.lit(False))).alias(VALUE)
        )

    def count(self) -> DataFrame:
        return self.df.agg(F.count(F.lit(1)).alias(VALUE))

    # -- grouping / windows (delegate to operators.*; SURVEY §2.6/2.8) -----

    def group(self, key_fn: ColumnFn, value_fn: ColumnFn | None = None) -> DataFrame:
        """useGroup/useGroupBy (collector.h:1065-1130): key → values in
        encounter (push) order."""
        from semantic_cpp_spark.operators.collectors import group_collect

        k = _apply(key_fn, self._v, self._i)
        v = None if value_fn is None else _apply(value_fn, self._v, self._i)
        return group_collect(self.df, k, v, idx=ORD)

    def partition(self, size: int) -> DataFrame:
        """usePartition (collector.h:2098-2136): fixed-size chunks in
        encounter order."""
        from semantic_cpp_spark.operators.collectors import partition_chunks

        return partition_chunks(self.df, size, idx=ORD)

    def partition_by(self, key_fn: ColumnFn, value_fn: ColumnFn | None = None) -> DataFrame:
        """usePartitionBy (collector.h:2138-2203)."""
        from semantic_cpp_spark.operators.collectors import partition_by_key

        k = _apply(key_fn, self._v, self._i)
        v = None if value_fn is None else _apply(value_fn, self._v, self._i)
        return partition_by_key(self.df, k, v, idx=ORD)

    def tumble(self, size: int) -> DataFrame:
        """toWindow().tumble(size) (semantic.h:910-913) over the ordered
        buffer's normalised indices."""
        from semantic_cpp_spark.operators.windows import tumble

        return tumble(self.to_ordered().to_df(), size)

    def slide(self, size: int, step: int) -> DataFrame:
        """toWindow().slide(size, step) (semantic.h:1595-1643)."""
        from semantic_cpp_spark.operators.windows import slide

        return slide(self.to_ordered().to_df(), size, step)

    # -- terminal string join (SURVEY §2.7) --------------------------------

    def join_str(
        self, delimiter: str = ", ", prefix: str = "[", suffix: str = "]"
    ) -> DataFrame:
        """useJoin: '[a, b, c]' accumulated in push order (reference
        collector.h:1132-1241). Implemented as
        sort_array(collect_list((ord, value))) so encounter order is
        pinned regardless of partitioning."""
        packed = F.array_sort(
            F.collect_list(
                F.struct(F.col(ORD).alias("i"), self._v.cast("string").alias("v"))
            )
        )
        joined = F.array_join(F.transform(packed, lambda s: s["v"]), delimiter)
        return self.df.agg(
            F.concat(F.lit(prefix), joined, F.lit(suffix)).alias(VALUE)
        )

    def join_str_converted(
        self, prefix: str, converter: Callable[[Column], Column], suffix: str
    ) -> DataFrame:
        """useJoin(prefix, converter, suffix) (reference
        collector.h:1296-1349): every element is run through ``converter``
        (a Column→Column fn — the reference's element-to-charsequence
        functor), joined with the HARD-CODED comma delimiter (reference
        :1299 `static const Charsequence comma(",")`), wrapped in
        prefix/suffix. Same push-order pinning as join_str."""
        conv = converter(self._v).cast("string")
        packed = F.array_sort(
            F.collect_list(F.struct(F.col(ORD).alias("i"), conv.alias("v")))
        )
        joined = F.array_join(F.transform(packed, lambda s: s["v"]), ",")
        return self.df.agg(
            F.concat(F.lit(prefix), joined, F.lit(suffix)).alias(VALUE)
        )

    def scalar(self, df: DataFrame | None = None) -> Any:
        """Collect a 1-row/1-col terminal DataFrame to a Python scalar."""
        target = self.df if df is None else df
        row = target.first()
        return None if row is None else row[0]
