"""Stream-construction factories (reference semantic.h:1653-2417, SURVEY §2.1).

Every factory yields a SemanticFrame: a DataFrame (__idx: long, value)
with __idx dense 0..n-1 in the factory's natural order, so it is wrapped
as the frame's push order as is (``SemanticFrame._with``), without the
re-numbering a caller-built frame gets. Distributed sources
(`spark.range`, parquet scans) compute __idx without a global sort where
the source itself provides the order (range arithmetic, unique order
keys).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from semantic_cpp_spark.frame import VALUE, SemanticFrame
from semantic_cpp_spark.indexing import IDX, with_ordinal

ColumnOrName = Union[Column, str]


def from_range(
    spark: SparkSession, start: int, end: int, step: int | None = None
) -> SemanticFrame:
    """useRange: half-open [start, end) (reference semantic.h:1653-1706).

    No-step overload auto-swaps bounds so the stream always ascends
    (reference :1655-1658); explicit step==0 yields empty, negative step
    descends. __idx is pure arithmetic on `id` — no shuffle, fully
    distributed via spark.range's splittable source.
    """
    if step is None:
        lo, hi = (start, end) if start <= end else (end, start)
        df = spark.range(lo, hi).select(
            (F.col("id") - F.lit(lo)).cast("long").alias(IDX),
            F.col("id").alias(VALUE),
        )
        return SemanticFrame._with(df)
    if step == 0:
        return use_empty(spark, "long")
    df = spark.range(start, end, step)
    idx = ((F.col("id") - F.lit(start)) / F.lit(step)).cast("long")
    return SemanticFrame._with(df.select(idx.alias(IDX), F.col("id").alias(VALUE)))


def from_range_closed(
    spark: SparkSession, start: int, end: int, step: int | None = None
) -> SemanticFrame:
    """useRangeClosed: closed [start, end] (reference semantic.h:1708-1761)."""
    if step is None:
        lo, hi = (start, end) if start <= end else (end, start)
        return from_range(spark, lo, hi + 1)
    if step == 0:
        return use_empty(spark, "long")
    bound = end + (1 if step > 0 else -1)
    return from_range(spark, start, bound, step)


def from_container(spark: SparkSession, items: Sequence[Any]) -> SemanticFrame:
    """useFrom/useOf: stream over a driver-side container in iteration
    order (reference semantic.h:1983-2084)."""
    if not items:
        return use_empty(spark, "long")
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(items)], schema=(IDX, VALUE)
    )
    return SemanticFrame._with(df)


def from_repeat(spark: SparkSession, element: Any, count: int) -> SemanticFrame:
    """useRepeat: element × count (reference semantic.h:2086-2099)."""
    df = spark.range(count).select(
        F.col("id").alias(IDX), F.lit(element).alias(VALUE)
    )
    return SemanticFrame._with(df)


_ITERATE_UNROLL_MAX = 128
# Fallback ceiling when a probed closed form FAILS distributed verification
# (piecewise fn that mimics affine on the probe prefix): nested-expression
# unroll stays correct and plannable into the low thousands.
_ITERATE_UNROLL_HARD = 2048


def _empty_like(spark: SparkSession, seed: Any) -> SemanticFrame:
    t = "long" if isinstance(seed, int) else (
        "double" if isinstance(seed, float) else "string"
    )
    return use_empty(spark, t)


def _eval_prefix(spark: SparkSession, seed: Any, fn, n: int) -> list:
    """Evaluate the first n recurrence terms with ONE 1-row job (n nested
    Column expressions — safe for small n)."""
    col = F.lit(seed)
    cols = [col]
    for _ in range(n - 1):
        col = fn(col)
        cols.append(col)
    return list(spark.range(1).select(F.array(*cols).alias("a")).first()["a"])


def _unroll(
    spark: SparkSession, seed: Any, fn: Callable[[Column], Column], limit: int
) -> SemanticFrame:
    """Exact sequential evaluation (applies the generator at every step like
    the reference useIterate), in adaptively-sized chunks.

    A naive full unroll is EXPONENTIAL in expression-tree size for any fn
    that references its argument more than once (each nesting level clones
    the whole subtree — F.when(c < 100, c + 1).otherwise(0) doubles per
    step and OOMs the JVM near depth ~30). So: nest only while the printed
    expression stays small, materialise the chunk's values with one 1-row
    job, and re-seed the next chunk from the last value as a literal.
    Affine-ish fns run in a handful of jobs; branchy fns degrade to more,
    smaller chunks — never to an exponential plan."""
    vals: list = [seed]
    while len(vals) < limit:
        col = F.lit(vals[-1])
        cols = []
        while len(vals) + len(cols) < limit and len(cols) < 256:
            col = fn(col)
            cols.append(col)
            if len(str(col)) > 50_000:
                break
        chunk = spark.range(1).select(F.array(*cols).alias("a")).first()["a"]
        vals.extend(chunk)
    return from_container(spark, vals[:limit])


def _closed_form_holds(
    spark: SparkSession,
    fn: Callable[[Column], Column],
    closed_fn: Callable[[Column], Column],
    limit: int,
    float_tol: bool,
) -> bool:
    """Soundness check for a probed closed form: the recurrence
    fn(closed(i)) == closed(i+1) must hold at EVERY i in [0, limit-1), not
    just the probed prefix — a piecewise fn (e.g. when(x < 100, x+1).
    otherwise(0)) matches affine on terms 0-3 and diverges later. One
    distributed narrow job over spark.range; null-safe (a null from fn
    counts as a violation, never filtered away)."""
    cur = closed_fn(F.col("id"))
    want = closed_fn(F.col("id") + 1)
    got = fn(cur)
    if float_tol:
        # closed-form float rounding differs from sequential evaluation by
        # ULPs (geometric forms especially) — relative tolerance, not ==.
        ok = F.abs(got - want) <= F.lit(1e-9) * F.greatest(
            F.lit(1.0), F.abs(want)
        )
    else:
        ok = got == want
    viol = (~ok) | ok.isNull()
    return spark.range(limit - 1).where(viol).isEmpty()


def iterate(
    spark: SparkSession, seed: Any, fn: Callable[[Column], Column], limit: int
) -> SemanticFrame:
    """useIterate/useInfinite bounded prefix: seed, f(seed), f(f(seed)), ...
    (reference semantic.h:1763-1871). batch Spark has no native infinite
    source (SURVEY §2.1), so the prefix is bounded.

    Scale path: a recurrence is inherently sequential, but the dominant
    uses are AFFINE (f(x) = a·x + b — counters, geometric decay). We probe
    the first 4 terms once; closed forms that only ever evaluate fn at
    probed points (fixpoint, constant-after-seed, two-value alternation)
    are sound by construction, while value-visiting forms (arithmetic
    progression, float affine/geometric) are verified by a distributed
    check of fn(closed(i)) == closed(i+1) over the FULL range before being
    trusted. Verified forms run over ``spark.range(limit)`` — a pure
    narrow map, constant plan depth at ANY limit. Integer sequences take
    the closed form only for a == 1 (exact in int64; a ≠ 1 overflows
    int64 by n≈63 anyway, where the unroll's native overflow semantics
    apply). Non-affine recurrences fall back to the nested-expression
    unroll up to _ITERATE_UNROLL_HARD (Catalyst plan depth is O(limit))."""
    if limit <= 0:
        return _empty_like(spark, seed)
    if limit <= _ITERATE_UNROLL_MAX:
        return _unroll(spark, seed, fn, limit)

    closed_fn, needs_check, float_tol = _probe_closed_fn(spark, seed, fn)
    if closed_fn is not None and (
        not needs_check
        or _closed_form_holds(spark, fn, closed_fn, limit, float_tol)
    ):
        df = spark.range(limit).select(
            F.col("id").alias(IDX), closed_fn(F.col("id")).alias(VALUE)
        )
        return SemanticFrame._with(df)
    # probe looked affine but the recurrence diverges somewhere in
    # [0, limit), or was never affine — exact unroll while plannable.
    if limit <= _ITERATE_UNROLL_HARD:
        return _unroll(spark, seed, fn, limit)
    raise ValueError(
        f"iterate: non-affine recurrence with limit={limit} > "
        f"{_ITERATE_UNROLL_HARD} — the nested-expression unroll would blow "
        "up Catalyst planning. Supply a closed form via from_range().map, "
        "or reduce the limit."
    )


def _probe_closed_fn(spark: SparkSession, seed: Any, fn):
    """Probe the recurrence's first 4 terms (one 1-row job) and derive a
    closed form when they fit f(x) = a·x + b. Returns
    (closed_fn | None, needs_check, float_tol) where closed_fn maps an
    index Column to the value Column.

    needs_check=False branches are sound BY CONSTRUCTION — fn is only
    ever evaluated at probed points: fixpoint (x1==x0 means the sequence
    stays at x0 forever), constant-after-seed (a==0: f(x1)==x1 probed),
    two-value alternation (a==-1, b==0: f(x0)==x1 and f(x1)==x0 both
    probed). Value-visiting forms (arithmetic progression, float
    affine/geometric) need the distributed _closed_form_holds pass."""
    x0, x1, x2, x3 = _eval_prefix(spark, seed, fn, 4)
    is_int = all(isinstance(x, int) for x in (x0, x1, x2, x3))
    if x1 == x0:
        return (lambda i: F.lit(x0)), False, False
    if is_int:
        a, rem = divmod(x2 - x1, x1 - x0)
        b = x1 - a * x0
        if rem == 0 and x3 == a * x2 + b:
            if a == 1:  # arithmetic progression — visits unprobed values
                return (
                    lambda i: (F.lit(x0) + i * F.lit(b)).cast("long")
                ), True, False
            if a == 0:
                return (
                    lambda i: F.when(i == 0, F.lit(x0))
                    .otherwise(F.lit(x1))
                    .cast("long")
                ), False, False
            if a == -1 and b == 0:
                return (
                    lambda i: F.when(i % 2 == 0, F.lit(x0))
                    .otherwise(F.lit(x1))
                    .cast("long")
                ), False, False
        return None, False, False
    if isinstance(x0, float):
        denom = x1 - x0
        a = (x2 - x1) / denom
        b = x1 - a * x0
        if abs((a * x2 + b) - x3) <= 1e-12 * max(1.0, abs(x3)):
            if a == 1.0:
                return (lambda i: F.lit(float(x0)) + i * F.lit(b)), True, True
            c = b / (1.0 - a)
            return (
                lambda i: F.lit(x0 - c) * F.pow(F.lit(a), i) + F.lit(c)
            ), True, True
    return None, False, False


def use_infinite_stream(
    spark: SparkSession,
    seed: Any,
    fn: Callable[[Column], Column],
    rows_per_batch: int = 1000,
) -> DataFrame:
    """useInfinite as a TRUE unbounded source (reference
    semantic.h:1763-1783) — the batch engine can only take a bounded
    prefix (SURVEY §2.1), but Structured Streaming can run the real
    thing: the rate-micro-batch source supplies the ever-growing index
    and element i is the verified affine closed form f^i(seed), so the
    stream is distributed and needs NO sequential state.

    Non-affine generators are inherently sequential (element i depends
    on element i-1 across micro-batch boundaries) and stay batch-only
    via iterate() — a documented limit, raised loudly here. The closed
    form is soundness-checked over the first 1M indices before the
    query starts (same distributed check as iterate).

    Returns an UNBOUNDED streaming DataFrame (__idx long, value);
    compose with watermark-free transforms and a sink, e.g.
    ``.writeStream.format(...)``; every micro-batch holds
    ``rows_per_batch`` consecutive indices."""
    closed_fn, needs_check, float_tol = _probe_closed_fn(spark, seed, fn)
    if closed_fn is None or (
        needs_check
        and not _closed_form_holds(spark, fn, closed_fn, 1_000_000, float_tol)
    ):
        raise ValueError(
            "use_infinite_stream: generator is not affine (f(x) = a·x + b) "
            "— an infinite non-affine recurrence is inherently sequential; "
            "use iterate() for a bounded prefix instead."
        )
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
    )
    return src.select(
        F.col("value").alias(IDX), closed_fn(F.col("value")).alias(VALUE)
    )


def use_random(
    spark: SparkSession,
    count: int,
    minimum: float | int | None = None,
    maximum: float | int | None = None,
    integers: bool = False,
    seed: int = 42,
) -> SemanticFrame:
    """useRandom (reference semantic.h:1873-1973): uniform random reals or
    ints, bounded count (the infinite variants have no batch analogue —
    SURVEY §2.1). Seeded ``rand`` keeps runs reproducible per plan; the
    reference's generator is nondeterministic, so exact values are not a
    parity surface — distribution tests pin semantics instead."""
    lo = 0.0 if minimum is None else float(minimum)
    hi = 1.0 if maximum is None else float(maximum)
    v = F.rand(seed) * (hi - lo) + lo
    if integers:
        v = F.floor(v).cast("long")
    df = spark.range(count).select(F.col("id").alias(IDX), v.alias(VALUE))
    return SemanticFrame._with(df)


def use_blob_text(
    spark: SparkSession,
    text: str | bytes,
    start: int | None = None,
    end: int | None = None,
) -> SemanticFrame:
    """useBlob(text[, start, end]): the raw BYTES of a driver-side string
    as a stream of int 0-255 (reference semantic.h:2101-2138). start/end
    clamp to [0, len) (reference :2120-2124); start >= end → empty; the
    slice's index re-bases to 0 (reference :2126 starts index at 0 inside
    the window). str input is encoded UTF-8 first (std::string is bytes).

    The text lives on the driver, matching the reference's semantics; for
    byte-streaming a distributed column use
    functions.strings.blob_bytes + posexplode instead."""
    data = text.encode("utf-8") if isinstance(text, str) else bytes(text)
    lo = 0 if start is None else max(int(start), 0)
    hi = len(data) if end is None else min(int(end), len(data))
    if lo >= hi:
        return use_empty(spark, "int")
    df = spark.createDataFrame(
        [(i, int(b)) for i, b in enumerate(data[lo:hi])],
        schema=f"{IDX} long, {VALUE} int",
    )
    return SemanticFrame._with(df)


def use_generate(
    spark: SparkSession, supplier: Callable[[], Any], limit: int
) -> SemanticFrame:
    """useGenerate (reference semantic.h:1785-1827): bounded supplier
    calls. The supplier is a driver-side Python callable (matching the
    reference's single-process supplier semantics); the resulting stream
    is distributed afterwards."""
    return from_container(spark, [supplier() for _ in range(limit)])


def use_empty(spark: SparkSession, value_type: str = "string") -> SemanticFrame:
    """useEmpty (reference semantic.h:1975-1981)."""
    df = spark.createDataFrame([], schema=f"{IDX} long, {VALUE} {value_type}")
    return SemanticFrame._with(df)


def from_dataframe(
    df: DataFrame,
    value: ColumnOrName,
    order_by: Iterable[ColumnOrName],
    strategy: str = "auto",
) -> SemanticFrame:
    """Adopt any DataFrame column as a stream, ordered by a total order key.

    This is the engine's real scan path (the reference only reads
    std::istream, semantic.h:2140-2184 — file formats are our extension):
    parquet scan → column pruning + pushdown → scalable ordinal.
    """
    v = F.col(value) if isinstance(value, str) else value
    keys = list(order_by)
    named = df.select(*keys, v.alias(VALUE)) if all(
        isinstance(k, str) for k in keys
    ) else df.select(v.alias(VALUE), "*")
    out = with_ordinal(named, keys, name=IDX, strategy=strategy)
    return SemanticFrame._with(out.select(IDX, VALUE))


def from_parquet_column(
    spark: SparkSession,
    path: str,
    value: str,
    order_by: Iterable[str],
    strategy: str = "auto",
) -> SemanticFrame:
    df = spark.read.parquet(path)
    return from_dataframe(df, value, order_by, strategy=strategy)


def from_text_lines(spark: SparkSession, path: str) -> SemanticFrame:
    """useBlob(istream): lines of a text file as a stream
    (reference semantic.h:2140-2184). Line order = file order, exposed by
    Spark's per-file offsets; we rank on (file, offset-in-file) via
    monotonically_increasing_id within each input split — exact for a
    single driver-visible file set."""
    raw = spark.read.text(path).select(F.col("value"))
    tagged = raw.withColumn("__mid", F.monotonically_increasing_id())
    out = with_ordinal(tagged, ["__mid"], name=IDX)
    return SemanticFrame._with(out.select(IDX, VALUE))


def register_fixture_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every fixture table as a temp view so the engine's full
    surface is reachable through plain ``spark.sql`` (the SQL API —
    Catalyst plans SQL and DataFrame code identically)."""
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for n in names:
        spark.read.parquet(f"{sf_dir}/{n}.parquet").createOrReplaceTempView(n)
    return names


def from_csv(
    spark: SparkSession, path: str, schema: str, header: bool = True
) -> DataFrame:
    """CSV scan with an explicit schema (inference disabled — never
    double-scan big inputs; SURVEY §2.1: file formats are our extension,
    the reference reads only std::istream)."""
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def from_json_lines(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSON-lines scan with explicit schema (no inference pass)."""
    return spark.read.schema(schema).json(path)


def from_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (columnar, pushdown-capable like parquet)."""
    return spark.read.orc(path)
