"""Row-location machinery: with_ordinal strategy equivalence and
determinism, a SemanticFrame's dense push order, the engine's
plan-keyed memo and its one flush, exact
percentiles by histogram narrowing, and the parquet schema memo every
fixture load goes through."""

import logging
import math
import random
from collections import Counter
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from semantic_cpp_spark import indexing
from semantic_cpp_spark.functions import stats
from semantic_cpp_spark.functions.stats import narrow_ranges, percentiles_exact_sorted
from semantic_cpp_spark.indexing import (
    IDX,
    memo,
    memo_counts,
    normalize_index,
    rebase_index,
    release_ordinal_caches,
    with_ordinal,
)


def _mk(spark, n=1000):
    # sparse, shuffled keys to stress bucket/range assignment
    return spark.range(n).select(
        (F.col("id") * 37 % n * 1000 + F.col("id")).alias("key"),
        F.col("id").alias("payload"),
    )


def test_strategies_agree(spark):
    df = _mk(spark)
    expect = {
        r["key"]: r[IDX]
        for r in with_ordinal(df, ["key"], strategy="window").collect()
    }
    for strategy in ("bucket", "range"):
        got = {
            r["key"]: r[IDX]
            for r in with_ordinal(df, ["key"], strategy=strategy).collect()
        }
        assert got == expect, strategy


def test_ordinal_dense_and_ordered(spark):
    df = _mk(spark, 500)
    out = with_ordinal(df, ["key"]).collect()
    idxs = sorted(r[IDX] for r in out)
    assert idxs == list(range(500))
    by_key = sorted(out, key=lambda r: r["key"])
    assert [r[IDX] for r in by_key] == list(range(500))


def test_rebase_after_filter(spark):
    df = with_ordinal(_mk(spark, 100), ["key"])
    kept = df.filter(F.col(IDX) % 3 == 0)
    out = rebase_index(kept)
    idxs = sorted(r[IDX] for r in out.collect())
    assert idxs == list(range(34))


def test_normalize_wraps_negative(spark):
    df = spark.createDataFrame(
        [(-3, "a"), (-2, "b"), (-1, "c"), (0, "d")], f"{IDX} long, value string"
    )
    out = {r["value"]: r[IDX] for r in normalize_index(df).collect()}
    # n=4: -3 -> 1, -2 -> 2, -1 -> 3, 0 -> 0
    assert out == {"a": 1, "b": 2, "c": 3, "d": 0}


def test_dense_key_fast_path(spark):
    """A dense 0-based (or offset) integer key becomes the ordinal via a
    pure map — and still agrees with the window strategy."""
    from pyspark.sql import functions as F

    df = spark.range(100).select((F.col("id") + 7).alias("key"), F.col("id").alias("p"))
    out = with_ordinal(df, ["key"], strategy="auto")
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    got = {r["key"]: r[IDX] for r in out.collect()}
    expect = {
        r["key"]: r[IDX]
        for r in with_ordinal(df, ["key"], strategy="window").collect()
    }
    assert got == expect


def test_range_quantile_bounds_path(spark):
    """r16: a named ASC numeric leading key takes the deterministic
    quantile-bounds range path — literal boundaries, no persist — and
    must agree with the window ground truth on doubles with duplicates,
    nulls (first) and NaN (last), with string tiebreaks ordered within
    equal keys."""
    import math

    rows = []
    vals = [3.5, 1.0, None, float("nan"), 2.25, 3.5, -1.5, None, 0.0, 2.25]
    for i, v in enumerate(vals * 30):
        rows.append((v, f"t{i:04d}"))
    df = spark.createDataFrame(rows, "k double, tie string")
    def _norm(v):
        # nan != nan in Python tuple equality; normalise to a sentinel
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    got = [
        (_norm(r["k"]), r["tie"])
        for r in sorted(
            with_ordinal(df, ["k", "tie"], strategy="range").collect(),
            key=lambda r: r[IDX],
        )
    ]
    expect = [
        (_norm(r["k"]), r["tie"])
        for r in sorted(
            with_ordinal(df, ["k", "tie"], strategy="window").collect(),
            key=lambda r: r[IDX],
        )
    ]

    def _key(t):
        k = t[0]
        return (
            0 if k is None else (2 if k == "NaN" else 1),
            -math.inf if k is None or k == "NaN" else k,
            t[1],
        )

    assert got == expect
    assert got == sorted(got, key=_key)
    # the quantile path must not persist anything (no range cache entry)
    plan = (
        with_ordinal(df, ["k", "tie"], strategy="range")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "InMemoryTableScan" not in plan


def test_range_quantile_bounds_deterministic(spark):
    """two independent constructions produce identical ordinals (the
    boundaries are frozen literals, not a nondeterministic sample)."""
    df = spark.range(2000).select(
        (F.col("id") % 97 * 1.5).alias("k"), F.col("id").alias("tie")
    )
    a = {r["tie"]: r[IDX] for r in with_ordinal(df, ["k", "tie"], strategy="range").collect()}
    release_ordinal_caches()
    b = {r["tie"]: r[IDX] for r in with_ordinal(df, ["k", "tie"], strategy="range").collect()}
    assert a == b


def _noisy():
    """A value that changes on every evaluation of the plan."""
    return F.udf(lambda i: i + random.random(), "double").asNondeterministic()


def test_range_quantile_bounds_pins_nondeterministic_input(spark):
    """The bounds probe and the final job read the input twice: a
    nondeterministic input is pinned, so the ordinal is still dense and
    ordered by the key the rows carry."""
    df = spark.range(3000).select(_noisy()("id").alias("k"), F.col("id").alias("tie"))
    try:
        out = sorted(with_ordinal(df, ["k", "tie"], strategy="range").collect(),
                     key=lambda r: r[IDX])
    finally:
        release_ordinal_caches()
    assert [r[IDX] for r in out] == list(range(3000))
    ks = [r["k"] for r in out]
    assert ks == sorted(ks)


def _ordinal_over_pinned(df, order_by, **kw):
    """(rows by ordinal, the pinned input's rows) of one ``with_ordinal``
    call whose input must be pinned; caches released afterwards."""
    before = len(indexing._PERSISTED)
    try:
        out = sorted(with_ordinal(df, order_by, **kw).collect(), key=lambda r: r[IDX])
        assert len(indexing._PERSISTED) == before + 1
        pinned = indexing._PERSISTED[-1].collect()
    finally:
        release_ordinal_caches()
    return out, pinned


def test_dense_probe_pins_nondeterministic_input(spark):
    """The auto density probe and the final job read the input twice.
    Here row 0 survives each evaluation with probability 1/2, so two
    reads can disagree on the key's minimum; pinned, the ordinal is
    ``key - min`` over the one set of rows both jobs see."""
    df = spark.range(3000).select(F.col("id").alias("k")).filter(
        (F.col("k") > 0) | (_noisy()("k") < 0.5))
    out, pinned = _ordinal_over_pinned(df, ["k"])
    assert [r[IDX] for r in out] == list(range(len(pinned)))
    assert [r["k"] for r in out] == sorted(r["k"] for r in pinned)


@pytest.mark.parametrize("strategy", ["auto", "bucket"])
def test_bucket_ordinal_pins_nondeterministic_input(spark, strategy):
    """The bucket counts job and the final job read the input twice; a
    random 70% of the keys survives each evaluation, so unpinned the
    offsets would count other rows than the ones they number."""
    df = spark.range(3000).select(F.col("id").alias("k")).filter(
        _noisy()("k") - F.col("k") < 0.7)
    out, pinned = _ordinal_over_pinned(df, ["k"], strategy=strategy, bucket_width=64)
    assert [r[IDX] for r in out] == list(range(len(pinned)))
    assert [r["k"] for r in out] == sorted(r["k"] for r in pinned)


@pytest.mark.parametrize("strategy", ["auto", "bucket"])
def test_deterministic_ordinal_input_is_not_pinned(spark, strategy):
    before = len(indexing._PERSISTED)
    df = _mk(spark, 200)
    out = with_ordinal(df, ["key"], strategy=strategy, bucket_width=64)
    assert sorted(r[IDX] for r in out.collect()) == list(range(200))
    assert len(indexing._PERSISTED) == before


# -- a SemanticFrame's dense push order (frame.ORD) -------------------------

_VALUES = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3]


def _counter_ops(s):
    """pairs() of every counter operator over ``s`` (partition: its
    chunks), the operators that emit their own running count."""
    return {
        "filter": s.filter(lambda v: v > 3).pairs(),
        "distinct": s.distinct().pairs(),
        "drop_while": s.drop_while(lambda v: v < 5).pairs(),
        "limit": s.limit(5).pairs(),
        "skip": s.skip(11).pairs(),
        "sub": s.sub(4, 9).pairs(),
        "concatenate": s.concatenate(s).pairs(),
        "partition": sorted((r["chunk"], r["values"]) for r in s.partition(3).collect()),
    }


def test_caller_frame_with_sparse_index_counts_like_dense(spark):
    """A caller may build a SemanticFrame on an ``__idx`` that is unique
    but not dense (here 10·i over three partitions). Its push order is
    re-numbered dense once at construction, so every counter operator
    answers as it does on a dense source of the same values."""
    from semantic_cpp_spark.frame import SemanticFrame
    from semantic_cpp_spark.sources import from_container

    v = _VALUES
    first = [x for i, x in enumerate(v) if x not in v[:i]]
    cut = next(i for i, x in enumerate(v) if x >= 5)
    expect = {
        "filter": list(enumerate(x for x in v if x > 3)),
        "distinct": list(enumerate(first)),
        "drop_while": list(enumerate(v[cut:])),
        "limit": list(enumerate(v[:5])),
        "skip": [(i, v[i]) for i in range(11, len(v))],
        "sub": [(i, v[i]) for i in range(4, 9)],
        "concatenate": list(enumerate(v + v)),
        "partition": [(c, v[3 * c:3 * c + 3]) for c in range((len(v) + 2) // 3)],
    }
    rows = [(10 * i, x) for i, x in enumerate(v)]
    sparse = SemanticFrame(
        spark.createDataFrame(rows, f"{IDX} long, value long").repartition(3)
    )
    try:
        assert sparse.pairs() == rows
        assert _counter_ops(sparse) == expect
        assert _counter_ops(from_container(spark, v)) == expect
    finally:
        release_ordinal_caches()


def test_random_frame_filter_pins_input_once(spark):
    """use_random's values change on every evaluation of the plan, and
    filter's bucket re-numbering reads its input in two jobs (the bucket
    counts, then the numbering), so building the filter pins that input
    once and the survivors are numbered over the rows both jobs saw."""
    from semantic_cpp_spark.sources import use_random

    before = len(indexing._PERSISTED)
    try:
        kept = use_random(spark, 2000).filter(lambda v: v < 0.5)
        assert len(indexing._PERSISTED) == before + 1
        pairs = kept.pairs()
    finally:
        release_ordinal_caches()
    assert [i for i, _ in pairs] == list(range(len(pairs)))
    assert 0 < len(pairs) < 2000 and all(x < 0.5 for _, x in pairs)


# -- the engine memo (indexing.memo) ---------------------------------------


def _counted(fn):
    """(fn(), the memo lookups it made)."""
    before = memo_counts()
    out = fn()
    return out, memo_counts() - before


def _unreachable():
    raise AssertionError("memo recomputed an entry it holds")


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_ordinal_probe_memoised(spark):
    """The auto-strategy density probe runs its eager aggregate once per
    logical plan, not once per with_ordinal call; a filtered plan is
    another plan."""
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    release_ordinal_caches()
    _, d = _counted(lambda: with_ordinal(df, ["k"]))
    assert d == Counter({"misses": 1, "density misses": 1})
    # the entry holds (lo, n, dense)
    assert memo(df, ("density", "k"), _unreachable) == (0, 100, True)
    # same plan again → a hit, no second probe
    _, d = _counted(lambda: with_ordinal(df, ["k"]))
    assert d == Counter({"hits": 1, "density hits": 1})
    kept = df.filter("k >= 50")
    _, d = _counted(lambda: with_ordinal(kept, ["k"]))
    assert d == Counter({"misses": 1, "density misses": 1})
    assert memo(kept, ("density", "k"), _unreachable) == (50, 50, True)
    release_ordinal_caches()


def test_release_ordinal_caches(spark):
    """Range-strategy persists are memoised per plan and unpersisted by
    release_ordinal_caches, which also empties the memo."""
    df = spark.createDataFrame(
        [("b", 1), ("a", 2), ("c", 3)], schema="s string, v int"
    )
    release_ordinal_caches()
    before = _persistent_rdds(spark)
    out, d = _counted(lambda: with_ordinal(df, ["s"], strategy="range"))
    assert d == Counter({"misses": 1, "range misses": 1})
    assert [r["s"] for r in out.orderBy("__idx").collect()] == ["a", "b", "c"]
    _, d = _counted(lambda: with_ordinal(df, ["s"], strategy="range"))
    assert d == Counter({"hits": 1, "range hits": 1})
    assert release_ordinal_caches() == 1
    assert _persistent_rdds(spark) <= before
    _, d = _counted(lambda: with_ordinal(df, ["s"], strategy="range"))
    assert d["range misses"] == 1
    release_ordinal_caches()


def test_release_unpersists_signature_and_eventflow_persists(spark, tmp_path):
    """The MinHash signatures and the event-flow intermediate are pinned
    through the memo, so the one flush counts and unpersists them."""
    from semantic_cpp_spark.operators.eventflow import conversion_latency
    from semantic_cpp_spark.pipeline.dedup import minhash_lsh_pairs

    docs, events = str(tmp_path / "documents"), str(tmp_path / "events")
    text = "a near duplicate document about the river bank and its fox"
    spark.createDataFrame(
        [(0, text), (1, text + " too"), (2, "something else entirely")],
        "doc_id long, text string",
    ).write.parquet(docs)
    steps = ["signup", "view", "purchase"]
    spark.createDataFrame(
        [(u, u * 100 + t, step) for u in range(5) for t, step in enumerate(steps[: 1 + u % 3])],
        "user_id long, tus long, event_type string",
    ).write.parquet(events)
    release_ordinal_caches()
    before = _persistent_rdds(spark)

    def build():
        for df in (
            minhash_lsh_pairs(spark.read.parquet(docs), F.col("text"), F.col("doc_id")),
            conversion_latency(spark.read.parquet(events), steps),
        ):
            df.write.format("noop").mode("overwrite").save()

    _, d = _counted(build)
    assert d["signatures misses"] == 1 and d["eventflow misses"] == 1
    assert len(_persistent_rdds(spark) - before) == 2
    assert release_ordinal_caches() == 2
    assert _persistent_rdds(spark) <= before


def test_memo_stays_within_bound_and_eviction_keeps_persists(spark, monkeypatch):
    """The memo is a bounded FIFO. Evicting a pinned DataFrame's entry
    does not unpersist it: plans built on it may still run, so it stays
    registered until release_ordinal_caches."""
    monkeypatch.setattr(indexing, "_MEMO_MAX", 4)
    release_ordinal_caches()
    df = spark.range(10)
    pinned = memo(df, ("pinned",), lambda: indexing.pin(df.select("id")))
    for i in range(10):
        assert memo(df, ("filler", i), lambda: i) == i
        assert len(indexing._MEMO) <= 4
    _, d = _counted(lambda: memo(df, ("filler", 9), _unreachable))
    assert d["hits"] == 1
    _, d = _counted(lambda: memo(df, ("pinned",), lambda: None))
    assert d["misses"] == 1
    assert pinned.storageLevel.useMemory
    assert release_ordinal_caches() == 1
    assert not pinned.storageLevel.useMemory


def test_hot_route_probe_reruns_after_append(spark, tmp_path):
    """minhash_lsh_pairs memoises its route probe per corpus plan and file
    snapshot. Appending a file to the corpus directory leaves the plan's
    semanticHash unchanged, so a rebuild in the same session, with no
    flush, must still run the probe against the new snapshot."""
    import uuid

    from semantic_cpp_spark.pipeline.dedup import minhash_lsh_pairs

    schema = "doc_id long, text string"
    corpus = str(tmp_path / "docs")
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    spark.createDataFrame(
        [(0, base), (1, "an entirely different sentence about stock markets today")],
        schema,
    ).write.parquet(corpus)
    sc = spark.sparkContext

    def build():
        docs = spark.read.schema(schema).parquet(corpus)
        group = f"hot_route_{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            pairs = minhash_lsh_pairs(docs, F.col("text"), F.col("doc_id"))
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return pairs, len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        pairs, first_jobs = build()
        assert first_jobs >= 1 and pairs.count() == 0
        spark.createDataFrame([(2, base)], schema).write.mode("append").parquet(corpus)
        pairs, rebuild_jobs = build()
        assert rebuild_jobs == first_jobs
        assert [(r["d1"], r["d2"]) for r in pairs.collect()] == [(0, 2)]
    finally:
        release_ordinal_caches()


# -- exact percentiles (stats.percentiles_exact_sorted) ---------------------

_STATS_LOG = "semantic_cpp_spark.functions.stats"
_PS = [0.0, 0.25, 0.5, 0.9137, 1.0]
_INF = float("inf")


def _close(got, exp):
    """Within 1e-9 absolute, the bound the test had before the narrowing
    path (it holds for long > 2^53 and decimal too: both engines
    interpolate in double); NaN, ±inf and null match only themselves."""
    if got is None or exp is None:
        return got is exp
    if math.isnan(exp) or math.isinf(exp):
        return math.isnan(got) if math.isnan(exp) else got == exp
    return abs(got - exp) < 1e-9


def _percentiles(df, caplog, ps=_PS):
    """(1-row result, its column names, the call's decision record)."""
    names = [f"p{i}" for i in range(len(ps))]
    with caplog.at_level(logging.DEBUG, logger=_STATS_LOG):
        caplog.clear()
        out = percentiles_exact_sorted(df, F.col("v"), ps, names)
    [rec] = [r.decision for r in caplog.records if r.name == _STATS_LOG]
    return out, names, rec


def _builtin(df, ps=_PS):
    q = df.agg(F.percentile("v", F.array(*[F.lit(p) for p in ps])).alias("q")).first()["q"]
    return [None] * len(ps) if q is None else q


def _uniform(spark):
    rng = random.Random(11)
    data = [(round(rng.uniform(0, 1000), 2),) for _ in range(997)]
    return spark.createDataFrame(data + [(42.0,)] * 50, "v double")


def _long_tail(spark):
    rng = random.Random(5)
    data = [(rng.expovariate(1.0),) for _ in range(5000)] + [(1e12,)]
    return spark.createDataFrame(data, "v double")


def _one_value(spark):
    rng = random.Random(3)
    # whole numbers: every sub-bucket of [7, 199] holds one value
    data = [(7.0,)] * 9000 + [(float(rng.randrange(100, 200)),) for _ in range(1000)]
    return spark.createDataFrame(data, "v double")


def _no_window(rec, out):
    assert rec["window_rows"] == 0 and rec["driver_ranks"] > 0
    assert "Window" not in out._jdf.queryExecution().executedPlan().toString()


def _narrowed(rounds=1):
    def check(rec, out):
        assert rec["fallback"] is None and rec["rounds"] >= rounds, rec
    return check


def _fallback(rec, out):
    assert rec["fallback"] and rec["window_rows"] == rec["n"], rec


_CASES = {
    "uniform": (_uniform, _narrowed()),
    "long_tail": (_long_tail, _narrowed(rounds=2)),
    "one_value_90pct": (_one_value, _no_window),
    "signed_zero": (
        lambda s: s.createDataFrame([(-0.0,), (0.0,)] * 40 + [(1.5,), (-2.0,)], "v double"),
        _narrowed(),
    ),
    "nan": (
        lambda s: s.createDataFrame([(float(i),) for i in range(20)] + [(math.nan,)] * 3, "v double"),
        _fallback,
    ),
    "inf": (
        lambda s: s.createDataFrame([(-_INF,), (_INF,), (0.25,), (0.5,), (0.75,)], "v double"),
        _fallback,
    ),
    "nulls": (
        lambda s: s.createDataFrame([(float(i % 17),) for i in range(60)] + [(None,)] * 9, "v double"),
        _narrowed(),
    ),
    "all_null": (lambda s: s.createDataFrame([(None,)] * 4, "v double"), lambda rec, out: None),
    "empty": (lambda s: s.createDataFrame([], "v double"), lambda rec, out: None),
    "long_above_2_53": (
        lambda s: s.createDataFrame([(2**60 + i * 37,) for i in range(1000)], "v long"),
        _narrowed(),
    ),
    "decimal_18_4": (
        lambda s: s.createDataFrame(
            [(Decimal(i * 7919 % 100003) / Decimal("7.5"),) for i in range(1500)],
            "v decimal(18,4)",
        ),
        _narrowed(),
    ),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_percentiles_sorted_matches_builtin(spark, caplog, case):
    """Histogram narrowing agrees with F.percentile (hence DuckDB
    quantile_cont) on duplicates, exact-integer and interpolated ranks,
    and every input shape the narrowing treats apart; its decision
    record says which way it went."""
    build, check = _CASES[case]
    df = build(spark)
    out, names, rec = _percentiles(df, caplog)
    got = out.collect()[0]
    exp = _builtin(df)
    for i, nm in enumerate(names):
        assert _close(got[nm], exp[i]), (case, _PS[i], got[nm], exp[i])
    assert rec["n"] == df.filter(F.col("v").isNotNull()).count()
    check(rec, out)


def test_percentiles_exact_rank_returns_value_itself(spark, caplog):
    """A rank on a row, or between equal values, returns that value:
    ±inf survive instead of becoming inf − inf = NaN. DuckDB and
    F.percentile agree."""
    import duckdb

    con = duckdb.connect()
    for data, ps, want in (
        ([-_INF, _INF, 0.25, 0.5, 0.75], [0.0, 1.0], [-_INF, _INF]),
        ([0.5, _INF, _INF], [0.9], [_INF]),
    ):
        df = spark.createDataFrame([(x,) for x in data], "v double")
        out, names, _ = _percentiles(df, caplog, ps)
        got = [out.first()[nm] for nm in names]
        con.execute("CREATE OR REPLACE TABLE t(v DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in data])
        duck = [con.execute("SELECT quantile_cont(v, ?) FROM t", [p]).fetchone()[0] for p in ps]
        assert got == want == duck == list(_builtin(df, ps)), (data, got, duck)


def test_percentiles_sorted_empty_and_validation(spark):
    df = spark.createDataFrame([], "v double")
    row = percentiles_exact_sorted(df, F.col("v"), [0.5], ["m"]).collect()[0]
    assert row["m"] is None
    with pytest.raises(ValueError):
        percentiles_exact_sorted(df, F.col("v"), [1.5], ["m"])
    # ps=[] short-circuits to a 0-column row instead of crashing in the
    # rank filter (ADVICE r3/r4)
    some = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    out = percentiles_exact_sorted(some, F.col("v"), [], [])
    assert out.columns == [] and out.count() == 1


def test_percentiles_sorted_pins_nondeterministic_input(spark, caplog):
    """Every job of the call reads one pinned copy of a nondeterministic
    input: the answer equals the same percentiles over those rows."""
    import numpy as np

    df = spark.range(4000).select(_noisy()("id").alias("v")).filter(F.rand() < 0.7)
    try:
        out, names, rec = _percentiles(df, caplog)
        got = out.first()
        rows = [r["__v"] for r in indexing._PERSISTED[-1].collect()]
    finally:
        release_ordinal_caches()
    assert rec["pinned"] and rec["n"] == len(rows)
    for i, nm in enumerate(names):
        assert _close(got[nm], float(np.percentile(rows, 100 * _PS[i]))), _PS[i]


def test_percentiles_sorted_recomputes_on_count_mismatch(spark, caplog, monkeypatch):
    """A round whose counts do not add up is never used: the call pins
    its input and starts over."""
    calls = []

    def stale_once(ranges, hist, need):
        calls.append(1)
        return None if len(calls) == 1 else narrow_ranges(ranges, hist, need)

    monkeypatch.setattr(stats, "narrow_ranges", stale_once)
    df = _uniform(spark)
    try:
        out, names, rec = _percentiles(df, caplog)
        got = out.first()
    finally:
        release_ordinal_caches()
    assert len(calls) >= 2 and rec["pinned"]
    for nm, exp in zip(names, _builtin(df)):
        assert _close(got[nm], exp)


def test_narrow_ranges_bookkeeping():
    """Pure driver bookkeeping: ranks move into the sub-bucket that holds
    them, single-valued sub-buckets resolve, and counts that do not add
    up to the range's count return None."""
    ranges = [(0.0, 100.0, 10, 20), (500.0, 600.0, 50, 5)]
    # sub-buckets arrive in any order; bucket order is value order
    hist = [(0, 7, 8, 70.0, 90.0), (1, 3, 5, 550.0, 550.0), (0, 0, 12, 0.0, 10.0)]
    need = [10, 21, 22, 29, 52]
    resolved, open_ = narrow_ranges(ranges, hist, need)
    assert resolved == {52: 550.0}
    assert open_ == [(0.0, 10.0, 10, 12), (70.0, 90.0, 22, 8)]
    # a sub-bucket holding no needed rank is dropped
    assert narrow_ranges(ranges, hist, [10]) == ({}, [(0.0, 10.0, 10, 12)])
    # counts short of the range's count (rows moved between jobs)
    assert narrow_ranges(ranges, hist[:2] + [(0, 0, 11, 0.0, 10.0)], need) is None
    # a range whose rows all vanished
    assert narrow_ranges(ranges, [h for h in hist if h[0] == 0], need) is None


# -- parquet schema memo (session.read_parquet) ------------------------------


def _read_logged(spark, path, caplog, group):
    """(DataFrame, memo decision, Spark jobs started) of one read."""
    from semantic_cpp_spark.session import read_parquet

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        with caplog.at_level(logging.DEBUG, logger="semantic_cpp_spark.session"):
            caplog.clear()
            df = read_parquet(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    [memo] = [r.decision["memo"] for r in caplog.records if hasattr(r, "decision")]
    return df, memo, len(sc.statusTracker().getJobIdsForGroup(group))


def test_schema_memo_hit_starts_no_job(spark, tmp_path, caplog):
    """A second read of unchanged files reuses the inferred schema: equal
    schema, no Spark job. Rewriting the file or flipping an inference
    conf misses."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    cold, memo, jobs = _read_logged(spark, path, caplog, "memo-cold")
    assert memo == "miss" and jobs >= 1  # inference is a job
    warm, memo, jobs = _read_logged(spark, path, caplog, "memo-warm")
    assert memo == "hit" and jobs == 0
    assert warm.schema == cold.schema
    assert sorted(warm.collect()) == sorted(cold.collect())

    tmp = str(tmp_path / "t.tmp")
    pq.write_table(pa.table({"a": [1.5], "b": ["w"]}), tmp)
    os.replace(tmp, path)
    df, memo, _ = _read_logged(spark, path, caplog, "memo-rewritten")
    assert memo == "miss" and df.schema["a"].dataType.typeName() == "double"

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    flipped = "false" if prev == "true" else "true"
    spark.conf.set(key, flipped)
    try:
        _, memo, _ = _read_logged(spark, path, caplog, "memo-conf")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert memo == "miss"


def test_schema_memo_skips_unstampable_path(spark, caplog):
    """A path that cannot be stat'ed is read without the memo, and the
    reader's own error surfaces."""
    from semantic_cpp_spark.session import read_parquet

    with caplog.at_level(logging.DEBUG, logger="semantic_cpp_spark.session"):
        with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
            read_parquet(spark, "/nonexistent/x.parquet")
    assert [r.decision["memo"] for r in caplog.records if hasattr(r, "decision")] == ["unstamped"]


# -- density from parquet footers (indexing._density) ------------------------
# A density probe over a bare scan of local parquet files is answered from
# their footers with no job; every other shape runs the aggregate. Either
# way the answer is the aggregate's.

_INT_TYPES = ("byte", "short", "integer", "long")


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    """The fixture's tables at sf0.001, written by the benchmark's
    generator."""
    from perfbench.gen import generate

    out = str(tmp_path_factory.mktemp("sf0.001"))
    generate(out, 0.001, 7)
    return out


def _probe(df, key):
    """(min, max, non-null count) of ``key`` by the aggregate job."""
    return tuple(df.agg(F.min(key), F.max(key), F.count(key)).first())


def _density_jobs(spark, df, key):
    """(_density's answer, whether footers gave it, Spark jobs it started)."""
    import uuid

    sc = spark.sparkContext
    group = f"density_{uuid.uuid4().hex[:8]}"
    footers = memo_counts()["density footers"]
    sc.setJobGroup(group, group)
    try:
        got = indexing._density(df, key)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    from_footers = memo_counts()["density footers"] - footers
    return got, from_footers, len(sc.statusTracker().getJobIdsForGroup(group))


def _as_density(stats):
    lo, hi, n = stats
    return (lo if n else 0, n, n > 0 and hi - lo + 1 == n)


def test_footer_density_matches_probe_on_fixture(spark, sf_dir):
    """Every integer column of every fixture table: the footers answer,
    with the aggregate's (min, max, count) and no job."""
    import glob
    import os

    from semantic_cpp_spark.session import load_table

    checked = []
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        table = os.path.basename(path).removesuffix(".parquet")
        df = load_table(spark, sf_dir, table)
        for field in df.schema.fields:
            if field.dataType.typeName() not in _INT_TYPES:
                continue
            expect = _probe(df, field.name)
            assert indexing._footer_density(df, field.name) == expect, (table, field.name)
            got, from_footers, jobs = _density_jobs(spark, df, field.name)
            assert (got, from_footers, jobs) == (_as_density(expect), 1, 0), (table, field.name)
            checked.append(f"{table}.{field.name}")
    assert {"events.event_id", "documents.doc_id", "lineitem.l_linenumber"} <= set(checked)


def _write(path, table, **kw):
    import pyarrow.parquet as pq

    pq.write_table(table, path, **kw)
    return path


def _filtered(spark, tmp_path):
    import pyarrow as pa

    path = _write(str(tmp_path / "kv.parquet"),
                  pa.table({"k": pa.array(range(60), pa.int64()),
                            "v": pa.array([i % 7 for i in range(60)], pa.int64())}))
    return spark.read.parquet(path).filter(F.col("v") > 2), "k"


def _partitioned(spark, tmp_path):
    out = str(tmp_path / "parts")
    spark.range(50).select(F.col("id").alias("k"), (F.col("id") % 3).alias("p")) \
        .write.partitionBy("p").parquet(out)
    return spark.read.parquet(out), "k"


def _no_statistics(spark, tmp_path):
    import pyarrow as pa

    path = _write(str(tmp_path / "nostats.parquet"),
                  pa.table({"k": pa.array(range(10, 40), pa.int64())}),
                  write_statistics=False)
    return spark.read.parquet(path), "k"


def _unsigned(spark, tmp_path):
    import pyarrow as pa

    path = _write(str(tmp_path / "unsigned.parquet"),
                  pa.table({"k": pa.array(range(5, 25), pa.uint32())}))
    return spark.read.parquet(path), "k"


def _csv(spark, tmp_path):
    path = str(tmp_path / "k.csv")
    with open(path, "w") as f:
        f.write("".join(f"{i}\n" for i in range(3, 30)))
    return spark.read.schema("k long").csv(path), "k"


def _case_mismatch(spark, tmp_path):
    import pyarrow as pa

    path = _write(str(tmp_path / "upper.parquet"),
                  pa.table({"K": pa.array(range(7, 19), pa.int64())}))
    return spark.read.schema("k long").parquet(path), "k"


@pytest.mark.parametrize("case", [_filtered, _partitioned, _no_statistics,
                                  _unsigned, _csv, _case_mismatch],
                         ids=lambda f: f.__name__.lstrip("_"))
def test_footer_density_falls_back_to_probe(spark, tmp_path, case):
    """Plans and files the footers cannot answer for exactly run the
    aggregate, with its answer."""
    df, key = case(spark, tmp_path)
    expect = _probe(df, key)
    assert expect[2] > 0
    assert indexing._footer_density(df, key) is None
    got, from_footers, jobs = _density_jobs(spark, df, key)
    assert (got, from_footers) == (_as_density(expect), 0) and jobs >= 1


def test_footer_density_multi_file_directory(spark, sf_dir, tmp_path):
    """A directory of several files (the benchmark's stream backlog split)
    sums their footers."""
    import os
    import shutil

    from perfbench.gen import STREAM_DIR, split_stream

    shutil.copyfile(os.path.join(sf_dir, "events.parquet"), tmp_path / "events.parquet")
    split_stream(str(tmp_path), 4, 1)
    df = spark.read.parquet(str(tmp_path / STREAM_DIR))
    assert len(df.inputFiles()) == 4
    expect = _probe(df, "event_id")
    assert indexing._footer_density(df, "event_id") == expect
    assert _density_jobs(spark, df, "event_id") == (_as_density(expect), 1, 0)
    out = with_ordinal(df, ["event_id"]).select("event_id", IDX).collect()
    assert sorted(r[IDX] for r in out) == list(range(expect[2]))
    assert all(r[IDX] == r["event_id"] - expect[0] for r in out)


def test_footer_density_counts_only_non_nulls(spark, tmp_path):
    import pyarrow as pa

    keys = [None if i % 4 == 0 else i for i in range(100, 140)]
    path = _write(str(tmp_path / "nulls.parquet"),
                  pa.table({"k": pa.array(keys, pa.int32())}), row_group_size=16)
    df = spark.read.parquet(path)
    expect = _probe(df, "k")
    assert expect == (101, 139, 30)
    assert indexing._footer_density(df, "k") == expect
    assert _density_jobs(spark, df, "k") == ((101, 30, False), 1, 0)


def test_footer_density_empty_file(spark, tmp_path):
    """An empty file counts 0 rows: the ordinal is the constant column."""
    import pyarrow as pa

    path = _write(str(tmp_path / "empty.parquet"),
                  pa.table({"k": pa.array([], pa.int64()), "v": pa.array([], pa.string())}))
    df = spark.read.parquet(path)
    assert indexing._footer_density(df, "k") == _probe(df, "k") == (None, None, 0)
    assert _density_jobs(spark, df, "k") == ((0, 0, False), 1, 0)
    release_ordinal_caches()
    out = with_ordinal(df, ["k"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "0 AS __idx" in plan and "Window" not in plan and "Join" not in plan
    assert out.collect() == []
