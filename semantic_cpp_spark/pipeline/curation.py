"""Corpus-curation operators for training-data pipelines: deterministic
sampling, benchmark decontamination, pattern redaction, and token-budget
sharding (north-star extensions; the reference engine has no corpus layer —
SURVEY §2 scope note).

Parity rules (see registry docstrings): all randomness is md5-derived so
DuckDB oracles reproduce results bit-for-bit; sampling decisions are pure
int64 comparisons (no float thresholds); regex patterns are RE2-compatible
(no lookahead/backreferences) so Java and RE2 match identically.

Scale notes: every operator here is a narrow map or a single aggregation —
no shuffle beyond the final groupBy, no UDFs, whole-stage codegen
throughout. Sampling and sharding are the canonical "decide per row from a
hash" shapes that stay embarrassingly parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from semantic_cpp_spark.indexing import one_window
from semantic_cpp_spark.pipeline.text import (
    materialize_tokens,
    tokens,
    word_ngrams,
)

# 60 bits of md5 stays positive in int64 (15 hex digits) — same derivation
# as pipeline.text.fingerprint64.
HASH_BITS = 60
HASH_SPACE = 1 << HASH_BITS


def hash_u60(key: Column, salt: str) -> Column:
    """Deterministic uniform value in [0, 2^60) from md5(salt || key).
    Engine-portable: DuckDB ('0x' || substr(md5(...), 1, 15))::BIGINT."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


# Above this many entries, per-stratum lookup tables switch from a flat
# create_map literal to a broadcast join. The create_map form is ONE wide
# expression node (safe and narrow — no exchange at all); a nested
# when-chain, the pre-r11 form, StackOverflowed at ~400 entries (measured:
# 200 ok / 400 SOE) — far below temperature_mixture_sample's documented
# 10⁵ domain bound. Past ~10³ entries even the flat literal makes analysis
# sluggish (10⁴ measured at ~40 s), so big tables ride a broadcast join:
# still zero shuffle of the corpus, one KB-to-MB BroadcastExchange.
MAP_LOOKUP_THRESHOLD = 1024


def _drop_null_keys(table: dict) -> dict:
    """Strip None keys from a lookup table before either lookup tier
    (ADVICE r11): a NULL stratum value can never match ANY key — the
    pre-r11 when-chain's `stratum == lit(None)` was null (never true),
    element_at(map, NULL) is NULL, and a join on a null key never
    matches — so a None-keyed entry was always dead weight that fell
    through to the default. Dropping it up front preserves exactly
    that behavior while keeping create_map (which REJECTS null keys at
    runtime) and the broadcast table (null join keys never match)
    bit-identical; it also lets temperature_mixture_sample accept
    corpora whose domain column contains NULLs (the groupBy emits a
    None-keyed count) instead of failing mid-job."""
    return {k: v for k, v in table.items() if k is not None}


def _map_lookup(key: Column, table: dict, default: Column, cast: str) -> Column:
    """Flat literal-map lookup: create_map(k1, v1, k2, v2, ...)[key]
    with a default — replaces the nested when-chain fold (see
    MAP_LOOKUP_THRESHOLD). Values cast uniformly so mixed-magnitude
    ints cannot split the map's value type. None keys are dropped
    (_drop_null_keys — they are unmatchable in every tier)."""
    m = F.create_map(
        *[
            c
            for k, v in _drop_null_keys(table).items()
            for c in (F.lit(k), F.lit(v).cast(cast))
        ]
    )
    return F.coalesce(F.element_at(m, key), default.cast(cast))


def _broadcast_lookup(
    df: DataFrame, key: Column, table: dict, default: Column, cast: str
) -> tuple[DataFrame, Column]:
    """Broadcast-join lookup for tables past MAP_LOOKUP_THRESHOLD:
    returns (df ⟕ broadcast(table), value column). The corpus never
    shuffles — the only exchange is the broadcast of the #strata-row
    table; callers drop the helper columns after consuming the value.
    None keys are dropped (_drop_null_keys); frames already carrying
    the reserved ``__lk_key``/``__lk_val`` columns raise up front
    (VERDICT r11 "What's wrong #1") instead of misjoining."""
    for c in ("__lk_key", "__lk_val"):
        if c in df.columns:
            raise ValueError(
                f"_broadcast_lookup: input frame already carries the "
                f"reserved column {c!r} - rename it before the "
                "per-stratum lookup"
            )
    spark = df.sparkSession
    lt = spark.createDataFrame(
        [(k, v) for k, v in _drop_null_keys(table).items()],
        ["__lk_key", "__lk_val"],
    ).select("__lk_key", F.col("__lk_val").cast(cast).alias("__lk_val"))
    joined = df.withColumn("__lk_key", key).join(
        F.broadcast(lt), "__lk_key", "left"
    )
    return joined, F.coalesce(F.col("__lk_val"), default.cast(cast))


def sample_threshold(rate: float) -> int:
    """Integer keep-threshold for a [0,1] rate: keep iff u60 < threshold.
    Computed once driver-side so BOTH engines compare int64s — no float
    division anywhere in the decision."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    return int(rate * HASH_SPACE)


def bernoulli_sample(
    df: DataFrame, key: Column, rate: float, salt: str = "s"
) -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff the 60-bit hash of
    (salt, key) falls under rate·2^60. Reproducible across runs, engines,
    and cluster sizes — the property `df.sample()` (seeded per-partition
    RNG) cannot give once partitioning changes, which is why production
    corpus pipelines sample by content hash. Pure narrow filter."""
    return df.filter(hash_u60(key, salt) < F.lit(sample_threshold(rate)))


def stratified_sample(
    df: DataFrame,
    key: Column,
    stratum: Column,
    rates: dict[str, float],
    salt: str = "s",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant
    languages, keep rare ones whole): each stratum gets its own integer
    threshold; unknown strata use ``default_rate``. Up to
    MAP_LOOKUP_THRESHOLD strata the rate table rides a flat literal-map
    lookup — a pure narrow filter, zero exchanges (the pre-r11 nested
    when-chain StackOverflowed at ~400 strata); past it, a broadcast
    threshold-table join — the corpus still never shuffles."""
    thr = {v: sample_threshold(r) for v, r in rates.items()}
    default = F.lit(sample_threshold(default_rate))
    if len(thr) <= MAP_LOOKUP_THRESHOLD:
        thresh = _map_lookup(stratum, thr, default, "long")
        return df.filter(hash_u60(key, salt) < thresh)
    joined, thresh = _broadcast_lookup(df, stratum, thr, default, "long")
    return joined.filter(hash_u60(key, salt) < thresh).drop(
        "__lk_key", "__lk_val"
    )


def temperature_mixture_sample(
    df: DataFrame,
    key: Column,
    domain: Column,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    salt: str = "mix",
    max_domains: int = 100_000,
) -> DataFrame:
    """Temperature-based domain mixture sampling (the mT5 / UNIMAX
    α-sampling pattern): sample so the kept corpus follows the
    FLATTENED mixture p_d ∝ n_d^α instead of the raw domain counts —
    α < 1 downsamples dominant domains and keeps rare ones (nearly)
    whole, the standard rebalance before multilingual / multi-source
    pretraining. ``budget_frac`` sets the total kept fraction.

    Determinism & cross-engine exactness: per-domain counts are
    collected driver-side (one tiny agg — #domains rows, the k-means-
    centroid pattern), then the per-domain keep THRESHOLD is computed
    in EXACT integer arithmetic: w_d = floor(n_d^α · 1e6) (for α = 0.5
    this is floor(sqrt(n_d)·1e6) — IEEE sqrt and multiply are
    correctly rounded, so Python and any SQL engine produce the
    identical int64), and thr_d = min(2^60, budget · w_d · 2^60 //
    (Σw · n_d)) in arbitrary-precision ints — no float division
    anywhere in the keep decision (the decayed-activity exactness
    discipline). Domains whose target exceeds their size are kept
    whole (sampling caps at rate 1; repeat-upsampling is a caller
    concern). The filter itself is the stratified_sample lookup shape:
    a flat literal-map compare (pure narrow filter, no join) up to
    MAP_LOOKUP_THRESHOLD domains, a broadcast threshold-table join
    above it — partition-invariant either way, and the corpus never
    shuffles.

    100 TB: counts are one map-side-combined groupBy over the domain
    column (#domains rows back to the driver); the keep pass is a
    narrow md5-compare scan. Nothing scales with corpus size except
    the two linear scans.

    CONTRACT — domain cardinality (ADVICE/VERDICT r8-r9; execution
    form fixed r11): the driver holds one threshold per domain, so
    this operator is sized for CURATED mixture axes (language, source,
    crawl — 10⁰–10⁵ values), NOT per-hostname columns. ``max_domains``
    enforces the bound: exceeding it raises (count-first, before any
    threshold math) rather than silently collecting 10⁸ rows. Note
    the pre-r11 CASE-chain filter made the documented 10⁵ bound
    fiction — it StackOverflowed at ~400 domains; the two-tier
    lookup (literal map / broadcast join) actually reaches it.
    Rebalancing a 10⁸-cardinality column means bucketing it to a
    mixture axis first (e.g. hostname → registrable domain → source
    tier) — the thing production pipelines do anyway, because a
    temperature target over singleton domains degenerates to uniform
    sampling."""
    import math

    if not 0.0 < budget_frac <= 1.0:
        raise ValueError(f"budget_frac must be in (0,1], got {budget_frac}")
    if alpha < 0.0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if max_domains < 1:
        raise ValueError(f"max_domains must be >= 1, got {max_domains}")
    agg = df.groupBy(domain.alias("d")).agg(F.count(F.lit(1)).alias("n"))
    rows = agg.limit(max_domains + 1).collect()
    if len(rows) > max_domains:
        raise ValueError(
            f"temperature_mixture_sample: domain column exceeds "
            f"max_domains={max_domains} distinct values — bucket it to a "
            "mixture axis (language/source/tier) before rebalancing"
        )
    counts = {r["d"]: r["n"] for r in rows}
    if not counts:
        return df.filter(F.lit(False))
    if alpha == 0.5:
        w = {d: int(math.floor(math.sqrt(n) * 1e6)) for d, n in counts.items()}
    else:
        w = {d: int(math.floor(n**alpha * 1e6)) for d, n in counts.items()}
    total = sum(counts.values())
    sw = sum(w.values())
    budget = int(budget_frac * total)
    thr = {
        d: min(HASH_SPACE, budget * w[d] * HASH_SPACE // (sw * counts[d]))
        for d in counts
    }
    zero = F.lit(0)
    if len(thr) <= MAP_LOOKUP_THRESHOLD:
        t = _map_lookup(domain, thr, zero, "long")
        return df.filter(hash_u60(key, salt) < t)
    joined, t = _broadcast_lookup(df, domain, thr, zero, "long")
    return joined.filter(hash_u60(key, salt) < t).drop(
        "__lk_key", "__lk_val"
    )


def contaminated_docs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    bench_ids: list[int],
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: count, per corpus document, the distinct
    word n-grams it shares with a held-out benchmark set (here: the
    documents whose id is in ``bench_ids``). Docs with overlap ≥ 1 are the
    contamination report a pretraining pipeline must act on before
    training (drop or span-mask).

    Plan: one n-gram explode feeds BOTH sides; the benchmark span set is
    tiny by construction (test sets are orders of magnitude smaller than
    the corpus), so it broadcasts and the probe stays shuffle-free on the
    corpus side until the per-doc count. Production uses n=8-13; the
    fixture's word-salad density needs n=3 for a non-trivial overlap."""
    from semantic_cpp_spark.pipeline.text import materialize_tokens

    toks = F.split(F.trim(F.lower(text)), r"\s+")
    base = materialize_tokens(df, toks, {"doc_id": id_col})
    # Per-doc span dedup happens MAP-SIDE (array_distinct on the n-gram
    # array) — the corpus side previously paid a full (doc_id, span)
    # dropDuplicates exchange of every span string just to enforce an
    # intra-row-derivable property (r15; guide §2.4). The corpus branch
    # is now exchange-free until the per-doc count's partial aggregate.
    spans = base.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col("__toks"), n))).alias(
            "span"
        ),
    )
    bench = (
        spans.filter(F.col("doc_id").isin(bench_ids)).select("span").distinct()
    )
    corpus = spans.filter(~F.col("doc_id").isin(bench_ids))
    return (
        corpus.join(F.broadcast(bench), "span")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bench_spans"))
    )


def redact(col: Column, pattern: str, replacement: str) -> Column:
    """Replace every match of an RE2-compatible pattern (replace-all —
    DuckDB needs the explicit 'g' flag to agree)."""
    return F.regexp_replace(col, pattern, replacement)


def match_count(col: Column, pattern: str) -> Column:
    """Number of non-overlapping matches (group 0 — required explicitly,
    Spark errors on group-1 extraction from a groupless pattern)."""
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0)).cast("long")


def shard_assign(key: Column, n_shards: int, salt: str = "shard") -> Column:
    """Stable shard id in [0, n_shards) from the content hash — the
    write-side layout primitive (`df.withColumn("shard", ...).write
    .partitionBy("shard")`). Hash-based assignment keeps shards balanced
    to ±O(√(n/shards)) without any coordination, at any cluster size."""
    return hash_u60(key, salt) % F.lit(n_shards)


def pack_token_sequences(
    df: DataFrame,
    text: Column,
    id_col: Column,
    n_shards: int,
    budget: int,
) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences: shard
    by content hash, order docs within each shard (by id — stable), and
    assign each doc to sequence ⌊exclusive-cumulative-tokens / budget⌋.
    A doc STARTS in its sequence and may straddle the boundary — the
    downstream tokenizer splits at the budget; this operator decides the
    grouping. Returns per-sequence (shard, seq_id, n_docs, seq_tokens).

    Scale: the running sum is a window PER SHARD — packing is inherently
    sequential within a shard, so parallelism = n_shards; size n_shards
    to the cluster (executors × cores), not to the data. One exchange on
    the shard key, then the per-sequence rollup is co-partitioned."""
    toks = _pack_assign(df, text, id_col, n_shards, budget)
    return toks.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("seq_tokens"),
    )


def _pack_assign(
    df: DataFrame, text: Column, id_col: Column, n_shards: int, budget: int
) -> DataFrame:
    """Per-doc packing assignment (doc_id, shard, n_tok, seq_id): hash
    shard + per-shard running token sum + seq_id = ⌊exclusive-cum /
    budget⌋ — the shared core of pack_token_sequences (count rollup)
    and pack_encoded_sequences (id-stream materialization)."""
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(
            id_col.alias("doc_id"),
            shard_assign(id_col, n_shards).alias("shard"),
            F.size(tokens(text)).cast("long").alias("n_tok"),
        )
        .withColumn("cum", F.sum("n_tok").over(w))
        .withColumn(
            "seq_id", F.expr(f"(cum - n_tok) div {budget}").cast("long")
        )
    )


def pack_encoded_sequences(
    df: DataFrame,
    text: Column,
    id_col: Column,
    vocab: DataFrame,
    n_shards: int,
    budget: int,
    eos_id: int = -2,
) -> DataFrame:
    """The full make-training-shards composition: numericalize each doc
    against ``vocab`` (text.encode_tokens — OOV → −1), assign it to its
    (shard, seq_id) with the SAME packing rule as pack_token_sequences
    (shared _pack_assign core, so counts and streams can never
    disagree), and materialize each sequence's id stream — docs in
    doc_id order, each terminated by ``eos_id``. Returns per-sequence
    (shard, seq_id, n_docs, seq_tokens, seq_fp) with seq_fp = md5 of
    the '_'-joined stream — the shard-equality fingerprint two
    independently-built shard sets compare (the array itself rides as
    ``ids`` for writers). Scale shape: encode's one vocab join + the
    packer's one shard exchange; sequences concatenate inside the
    per-(shard, seq) groupBy — id arrays shuffle once, keyed by their
    destination sequence."""
    from semantic_cpp_spark.pipeline.text import encode_tokens

    enc = encode_tokens(df, text, id_col, vocab).select("doc_id", "ids")
    assign = _pack_assign(df, text, id_col, n_shards, budget).select(
        "doc_id", "shard", "n_tok", "seq_id"
    )
    per_doc = enc.join(assign, "doc_id")
    eos = F.array(F.lit(eos_id).cast("long"))
    seq_ids = F.flatten(
        F.transform(
            F.sort_array(F.collect_list(F.struct("doc_id", "ids"))),
            lambda s: F.concat(s["ids"], eos),
        )
    )
    return (
        per_doc.groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("seq_tokens"),
            seq_ids.alias("ids"),
        )
        .withColumn(
            "seq_fp",
            F.md5(
                F.array_join(
                    F.transform("ids", lambda x: x.cast("string")), "_"
                )
            ),
        )
    )


def quality_above_median(df: DataFrame, quality: Column) -> DataFrame:
    """Corpus-relative filter: keep rows whose quality is at or above the
    corpus median. The median is a 1-row exact-percentile aggregate
    broadcast back by crossJoin — the scalar-threshold pattern every
    "top half of the corpus" filter uses. Computed via the distributed
    sort + rank-selection path (stats.percentiles_exact_sorted), never
    `F.percentile`'s one-reducer merge — the quality column scales with
    the corpus (r6, same change as agg_quantiles/rfm_segments)."""
    from semantic_cpp_spark.functions import stats

    scored = df.withColumn("__q", quality)
    med = stats.percentiles_exact_sorted(
        scored, F.col("__q"), [0.5], ["__med"]
    )
    return (
        scored.crossJoin(F.broadcast(med))
        .filter(F.col("__q") >= F.col("__med"))
        .drop("__q", "__med")
    )


def shard_stats(
    df: DataFrame, text: Column, id_col: Column, n_shards: int
) -> DataFrame:
    """Per-shard document and token totals — the balance report for a
    token-budget sharding plan (each training shard should carry roughly
    equal token mass). One narrow map + one n_shards-row aggregation."""
    return (
        df.select(
            shard_assign(id_col, n_shards).alias("shard"),
            F.size(tokens(text)).cast("long").alias("n_tok"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
    )


def quality_bands(
    df: DataFrame, quality: Column, cuts: list[float] = (0.25, 0.5, 0.75)
) -> DataFrame:
    """Corpus-relative quality banding: assign each row the band its
    quality falls into between the corpus quartile cutoffs (band 0 =
    bottom quarter ... band 3 = top). The NAIVE form — ntile() over a
    global window — funnels the entire corpus through ONE task; the
    scale-correct form computes the 3 cutoffs as a 1-row exact-percentile
    aggregate, broadcasts it, and bands with a CASE — pure narrow map
    after one tiny broadcast. Band boundaries use half-open intervals
    [cut_i, cut_{i+1}), so rows equal to a cutoff go to the upper band
    (deterministic, unlike ntile's count-balanced splits)."""
    scored = df.withColumn("__q", quality)
    from semantic_cpp_spark.functions import stats

    # distributed sort + rank selection, not F.percentile's one-reducer
    # merge: the quality column scales with the corpus (r6)
    agg = stats.percentiles_exact_sorted(
        scored, F.col("__q"), list(cuts),
        [f"__c{i}" for i in range(len(cuts))],
    )
    band = stats.band_by_cuts(
        F.col("__q"), [f"__c{i}" for i in range(len(cuts))]
    )
    return (
        scored.crossJoin(F.broadcast(agg))
        .withColumn("band", band)
        .drop(*[f"__c{i}" for i in range(len(cuts))], "__q")
    )


def fixed_k_per_stratum(
    df: DataFrame, key: Column, stratum: Column, k: int, salt: str = "s"
) -> DataFrame:
    """Exactly-k uniform sample per stratum (k rows per language, per
    source, ...): rank rows within each stratum by their content-hash
    priority and keep the first k. Deterministic across runs/engines/
    partitionings (same property as bernoulli_sample), and — unlike a
    rate — guarantees the sample SIZE, which is what evaluation-set
    construction needs. Adds ``__rk`` (1-based). Strata are FEW by
    nature (languages, sources) — the skew audit's flag shape — but
    Spark's InferWindowGroupLimit turns the row_number-≤-k filter into
    a Partial top-k below the exchange, so only ≤k rows per stratum
    per input partition ever shuffle into the per-stratum partition
    (plan-pinned in test_plans; an r10 two-phase cut was reverted as
    redundant)."""
    from pyspark.sql import Window

    w = Window.partitionBy("__st").orderBy("__u", "__k")
    return (
        df.withColumn("__st", stratum)
        .withColumn("__k", key)
        .withColumn("__u", hash_u60(key, salt))
        .withColumn("__rk", F.row_number().over(w).cast("long"))
        .filter(F.col("__rk") <= k)
        .drop("__st", "__k", "__u")
    )


def corpus_diff(
    old: DataFrame, new: DataFrame, id_col: str, fp: Column
) -> DataFrame:
    """Snapshot change detection: full-outer join two corpus versions on
    the document id and compare content fingerprints — the incremental-
    ingestion primitive (what changed between yesterday's crawl and
    today's?). Output (doc_id, status ∈ {added, removed, changed,
    unchanged}). One co-partitioned join on the id; fingerprints are
    32-byte md5 so the shuffle never carries document bodies."""
    o = old.select(F.col(id_col).alias("doc_id"), fp.alias("__fp_old"))
    n = new.select(F.col(id_col).alias("doc_id"), fp.alias("__fp_new"))
    j = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("__fp_old").isNull(), "added")
        .when(F.col("__fp_new").isNull(), "removed")
        .when(F.col("__fp_old") == F.col("__fp_new"), "unchanged")
        .otherwise("changed")
    )
    return j.select("doc_id", status.alias("status"))


def word_chunks_t(t: Column, size: int = 10) -> Column:
    """Consecutive ``size``-word chunks of a token-array ATTRIBUTE ``t``
    (the last chunk may be shorter). ``t`` MUST be a real attribute on
    the per-document hot path — the per-element ``slice(t, ...)``
    re-inlines an expression-valued ``t`` under projection collapse,
    re-tokenizing the document once per chunk (the materialize_tokens
    trap, r15; callers route through text.materialize_tokens).

    Guarded: ``F.sequence(0, -1)`` would yield a DESCENDING [0, -1] (Spark
    picks step=-1 when start > stop), so the empty-token case returns []
    explicitly."""
    n_chunks = F.ceil(F.size(t) / F.lit(size)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(t, i * size + 1, size), " "),
    )
    return F.when(n_chunks > 0, chunks).otherwise(
        F.array().cast("array<string>")
    )


def word_chunks(col: Column, size: int = 10) -> Column:
    """word_chunks_t over the whitespace tokenisation of raw text —
    O(L²) on any hot path (see word_chunks_t); kept for tiny/test
    inputs. Corpus-scale callers use materialize_tokens +
    word_chunks_t."""
    return word_chunks_t(tokens(col), size)


def remove_boilerplate_chunks(
    df: DataFrame,
    text: Column,
    id_col: Column,
    chunk_size: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-level boilerplate removal (the C4 / RefinedWeb cleaning
    rule "drop any line occurring in ≥ N documents", at word-chunk
    granularity): a chunk appearing in ``min_docs`` distinct docs is
    boilerplate; every occurrence is dropped and each document is
    re-assembled from its surviving chunks in order.

    Returns (doc_id, n_chunks, n_kept, clean_text).

    Plan: posexplode chunks → countDistinct(doc_id) per chunk → plain
    shuffle LEFT join back on the chunk text (NOT broadcast: unlike the
    Jaccard df-cap's heavy-hitter set, the ≥2-docs chunk set can be a
    large fraction of all chunks at corpus scale, so it must stay
    distributed; the join key equals the groupBy key, so the exchange is
    reused) → re-assemble per doc via array_sort(collect_list(struct)).
    Per-doc state is bounded by document length, never corpus size."""
    # tokens materialized before the per-chunk slice (the word_chunks_t
    # O(L^2) guard, r15)
    ch = materialize_tokens(df, tokens(text), {"doc_id": id_col}).select(
        "doc_id",
        F.posexplode(word_chunks_t(F.col("__toks"), chunk_size)).alias(
            "chunk_idx", "chunk"
        ),
    )
    hot = (
        ch.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("chunk", F.lit(True).alias("__hot"))
    )
    flagged = ch.join(hot, "chunk", "left")
    keep = F.col("__hot").isNull()
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.count(F.when(keep, 1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                # collect_list drops NULLs, so only kept chunks survive;
                # array_sort on (chunk_idx, chunk) structs restores order.
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct("chunk_idx", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )


def split_assign(
    key: Column,
    fractions: tuple[float, float] = (0.8, 0.1),
    salt: str = "split",
) -> Column:
    """Deterministic train/val/test assignment from the content hash:
    u60 < f_train·2^60 → 'train'; < (f_train+f_val)·2^60 → 'val'; else
    'test'. The same int64-threshold decision as bernoulli_sample, so a
    document's split NEVER changes across runs, engines, or cluster
    sizes — the property that prevents silent train/test leakage when a
    corpus is re-partitioned or re-processed. Pure narrow expression."""
    f_train, f_val = fractions
    th1 = sample_threshold(f_train)
    th2 = sample_threshold(f_train + f_val)
    u = hash_u60(key, salt)
    return (
        F.when(u < F.lit(th1), "train")
        .when(u < F.lit(th2), "val")
        .otherwise("test")
    )


def clean_corpus_summary(df: DataFrame, text: Column, id_col: Column) -> DataFrame:
    """End-to-end corpus-cleaning funnel — the composition a real
    pretraining pipeline runs, in one Spark plan: exact dedup (keep the
    smallest id per normalised fingerprint) → corpus-relative quality
    filter (≥ median of the DEDUPED set, distributed rank-selection
    median) → deterministic 80/10/10 split assignment. Returns ONE row:
    (n_total, n_unique, n_final, n_train, n_val, n_test).

    Composition shape: the keep-list join is co-keyed on doc_id; the
    median is a broadcast 1-row aggregate; the split is a narrow map —
    so the funnel adds ONE join and one broadcast over the cost of its
    stages. Each stage is also available separately (exact_dedup,
    quality_above_median, split_assign)."""
    from semantic_cpp_spark.pipeline.text import fingerprint, quality_score

    base = df.select(id_col.alias("doc_id"), text.alias("text"))
    groups = base.select("doc_id", fingerprint(F.col("text")).alias("__fp"))
    keep = groups.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
    totals = groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.count_distinct("__fp").cast("long").alias("n_unique"),
    )
    uniq = base.join(keep.select("doc_id"), "doc_id")
    fin = quality_above_median(uniq, quality_score(F.col("text")))
    split = split_assign(F.col("doc_id"))
    stage2 = fin.agg(
        F.count(F.lit(1)).cast("long").alias("n_final"),
        *[
            F.count(F.when(split == s, 1)).cast("long").alias(f"n_{s}")
            for s in ("train", "val", "test")
        ],
    )
    return totals.crossJoin(F.broadcast(stage2))


def weighted_sample_k(
    df: DataFrame,
    key: Column,
    weight: Column,
    k: int,
    salt: str = "wsamp",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES,
    'Weighted random sampling with a reservoir', IPL 2006): each row gets
    priority = −ln(u)/w with u uniform in (0,1]; the k smallest
    priorities are a weighted sample without replacement — exactly the
    distribution of drawing k items sequentially with probability
    proportional to weight. The pretraining use-case: sample documents
    proportional to length (token budget) or quality weight.

    Determinism: u is md5-derived ((u60+1)/2^60, never 0 so ln is
    finite), so the sample is reproducible across runs, engines, and
    cluster sizes — same rationale as bernoulli_sample.

    Scale shape: priority is a pure narrow expression; the k-smallest
    selection is a TakeOrdered (per-partition top-k + driver merge of
    k·partitions rows), never a global sort. Weights must be > 0."""
    u = (hash_u60(key, salt) + F.lit(1)).cast("double") / F.lit(float(HASH_SPACE))
    pri = -F.log(u) / weight.cast("double")
    return (
        df.withColumn("__pri", pri)
        .orderBy("__pri")
        .limit(k)
        .withColumnRenamed("__pri", "priority")
    )


def chunk_text(
    df: DataFrame,
    text: Column,
    id_col: Column,
    size: int = 120,
    stride: int = 90,
) -> DataFrame:
    """RAG-style overlapping character chunking: windows of ``size``
    chars starting every ``stride`` chars (overlap = size − stride; the
    final chunks may be shorter; an empty text yields one empty chunk).
    Returns (doc_id, chunk_idx, chunk, chunk_len).

    Scale shape: pure narrow generator — sequence(1, len, stride) →
    posexplode → substring; zero exchanges, fully codegen'd JVM-side,
    and the output inherits the input partitioning (each chunk row lands
    where its document was read). The expansion factor is bounded by
    ⌈len/stride⌉ per document."""
    if stride <= 0 or size <= 0:
        raise ValueError(f"size and stride must be > 0, got {size}, {stride}")
    t = text
    starts = F.sequence(F.lit(1), F.greatest(F.length(t), F.lit(1)), F.lit(stride))
    return df.select(
        id_col.alias("doc_id"),
        t.alias("__t"),
        F.posexplode(starts).alias("chunk_idx", "__pos"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.substring(F.col("__t"), F.col("__pos"), F.lit(size)).alias("chunk"),
        F.length(F.substring(F.col("__t"), F.col("__pos"), F.lit(size)))
        .cast("long")
        .alias("chunk_len"),
    )


def line_dedup(
    df: DataFrame,
    text: Column,
    id_col: Column,
    chunk_size: int = 10,
) -> DataFrame:
    """Corpus-level keep-FIRST-occurrence chunk dedup (the C4 rule
    "discard all but one of any three-sentence span occurring more than
    once", at word-chunk granularity — the complement of
    remove_boilerplate_chunks, which drops EVERY occurrence of a hot
    chunk): for each repeated chunk, the occurrence with the smallest
    (doc_id, chunk_idx) survives and all later occurrences are removed;
    each document is re-assembled from its surviving chunks in order.

    Returns (doc_id, n_chunks, n_kept, clean_text).

    Plan: posexplode chunks → min(struct(doc_id, chunk_idx)) per chunk
    (the global first occurrence under lexicographic order — a single
    map-side-combinable aggregate, no window) → shuffle join back on the
    chunk text (join key equals the groupBy key, exchange reused) →
    re-assemble per doc. Per-chunk state is O(1); per-doc state is
    bounded by document length."""
    # tokens materialized before the per-chunk slice (the word_chunks_t
    # O(L^2) guard, r15)
    ch = materialize_tokens(df, tokens(text), {"doc_id": id_col}).select(
        "doc_id",
        F.posexplode(word_chunks_t(F.col("__toks"), chunk_size)).alias(
            "chunk_idx", "chunk"
        ),
    )
    first = ch.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("__first")
    )
    flagged = ch.join(first, "chunk")
    keep = (F.col("doc_id") == F.col("__first.doc_id")) & (
        F.col("chunk_idx") == F.col("__first.chunk_idx")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.count(F.when(keep, 1)).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("chunk_idx", "chunk")))
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )


def negative_samples(
    positives: DataFrame,
    n_items: DataFrame,
    k: int = 5,
    margin: int = 5,
    user_col: str = "user",
    item_col: str = "item",
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for contrastive / recommender
    training pairs: for each user in ``positives`` (user, item), up to
    ``k`` items the user did NOT interact with, drawn pseudo-randomly
    from the dense 0..n_items-1 id space by the md5 hash of
    (salt, user, j) — reproducible across runs, engines, and cluster
    sizes (the same anti-leakage rationale as bernoulli_sample; a
    seeded RNG would re-deal on every repartition).

    ``n_items`` is a 1-row DataFrame (column ``n_items``) so the item
    count is derived from data, not hard-coded per scale factor.

    Plan: explode k+margin candidate draws per user (narrow), drop
    collisions with the positives by LEFT ANTI join on (user, item) —
    co-keyed with the dedup groupBy that follows — then keep the first
    k survivors per user by draw order (window bounded by k+margin rows
    per user). Users whose margin is exhausted by positives/duplicate
    draws yield fewer than k rows, deterministically.

    Returns (user, item, rank) with rank 1..k in draw order."""
    from pyspark.sql import Window

    users = positives.select(F.col(user_col).alias("user")).distinct()
    cand = (
        users.crossJoin(F.broadcast(n_items))
        .select(
            "user",
            F.explode(F.sequence(F.lit(0), F.lit(k + margin - 1))).alias("j"),
            F.col("n_items"),
        )
        .withColumn(
            "item",
            hash_u60(
                F.concat(F.col("user").cast("string"), F.lit("-"), F.col("j")),
                salt,
            )
            % F.col("n_items"),
        )
        .drop("n_items")
    )
    pos = positives.select(
        F.col(user_col).alias("user"), F.col(item_col).alias("item")
    )
    neg = cand.join(pos, ["user", "item"], "left_anti")
    first = neg.groupBy("user", "item").agg(F.min("j").alias("j"))
    w = Window.partitionBy("user").orderBy("j", "item")
    return (
        first.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("user"), F.col("item"), "rank")
    )


def importance_weights(
    df: DataFrame,
    stratum: Column,
    target: dict[str, float],
    default_target: float = 0.0,
) -> DataFrame:
    """Data-mixture importance reweighting: per stratum (language,
    source, domain), the per-example weight target_share/actual_share
    that makes weighted training draw from the TARGET mixture while
    reading the corpus as-is — the standard alternative to physically
    resampling (DoReMi-style mixture adjustment consumes exactly this
    shape). Strata absent from ``target`` get ``default_target``.

    Returns one row per stratum:
    (stratum, n_docs, actual_share, target_share, weight) — the weight
    column joins back to examples by stratum (broadcast — the stratum
    table is tiny by construction).

    Scale shape: ONE groupBy(stratum) + a broadcast 1-row total; shares
    are exact-int ratios divided once; no per-row state. The target
    table applies to the #strata-row counts frame via the same
    two-tier lookup as stratified_sample (flat literal map /
    broadcast join past MAP_LOOKUP_THRESHOLD — a when-chain fold
    StackOverflows at ~400 entries regardless of row count)."""
    tgt_table = {k: float(v) for k, v in target.items()}
    default = F.lit(float(default_target))
    if len(tgt_table) <= MAP_LOOKUP_THRESHOLD:
        tgt = _map_lookup(F.col("stratum"), tgt_table, default, "double")
        joined_cols = None
    else:
        joined_cols = True
    counts = df.select(stratum.alias("stratum")).groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    total = counts.agg(F.sum("n_docs").cast("long").alias("__n"))
    base = counts.crossJoin(F.broadcast(total))
    if joined_cols:
        base, tgt = _broadcast_lookup(
            base, F.col("stratum"), tgt_table, default, "double"
        )
    actual = F.col("n_docs") / F.col("__n")
    # actual_share is an EXACT int64 ratio → integer half-up rounding
    # (stats.ratio_round6, cross-engine exact on half-micro boundaries);
    # target_share/weight derive from float targets — not in that class,
    # round(double, 6) stays (no exact-integer form exists for them).
    from semantic_cpp_spark.functions.stats import ratio_round6

    return base.select(
        "stratum",
        "n_docs",
        ratio_round6(F.col("n_docs"), F.col("__n")).alias("actual_share"),
        F.round(tgt, 6).alias("target_share"),
        F.round(tgt / actual, 6).alias("weight"),
    )


DSIR_BUCKETS = 4096  # hashed n-gram feature space (DSIR uses 10k; any
# fixed B works — the λ table is EXACTLY B rows and broadcasts at every scale)


def _dsir_feature_rows(
    df: DataFrame, cols: dict, text: Column
) -> DataFrame:
    """One row per hashed-feature INSTANCE: unigrams + bigrams over the
    LM tokenizer (split on \\s+ after trim+lower, empty tokens dropped),
    carrying ``cols`` (name → Column, evaluated before the barrier)
    alongside the exploded feature string ``f``.

    The token array is materialized ONCE per row through an
    ``explode(array(t))`` barrier before the bigram lambda runs —
    without it, projection collapse re-inlines the tokenizer into each
    ``element_at(t, ...)`` reference, O(L²) re-tokenizations per doc
    (the retrieval._lm_events finding, same fix). The bigram transform
    is guarded on size ≥ 2 — Spark's ``sequence(1, 0)`` would DESCEND
    and fabricate a reversed bigram on single-token docs."""
    raw = F.filter(
        F.split(F.trim(F.lower(text)), r"\s+"), lambda w: w != F.lit("")
    )
    base = df.select(
        *[c.alias(n) for n, c in cols.items()],
        F.explode(F.array(raw)).alias("__t"),
    )
    t = F.col("__t")
    bis = F.when(
        F.size(t) >= F.lit(2),
        F.transform(
            F.sequence(F.lit(1), F.size(t) - F.lit(1)),
            lambda i: F.concat(
                F.element_at(t, i.cast("int")),
                F.lit(" "),
                F.element_at(t, (i + F.lit(1)).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(
        *cols.keys(), F.explode(F.concat(t, bis)).alias("f")
    )


def _dsir_bucket(f: Column, buckets: int) -> Column:
    """md5-derived bucket in [0, buckets) — the engine-portable hash
    (DuckDB: ('0x' || substr(md5(f),1,15))::BIGINT % buckets)."""
    return (
        F.conv(F.substring(F.md5(f), 1, 15), 16, 10).cast("long")
        % F.lit(buckets)
    )


def dsir_train(
    df: DataFrame,
    text: Column,
    is_target: Column,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Fit the DSIR λ table: EXACTLY ``buckets`` rows (b, lam), where
    lam(b) = nll_raw(b) − nll_target(b) in int64 micro-units (each term
    the LM round(−ln(p)·10⁶) idiom on a positive Laplace-smoothed
    probability). DENSIFIED over the full bucket spine (spark.range):
    a bucket never seen in the raw corpus still gets its Laplace-floor
    λ, so stream-time scoring of NEW documents always joins — an
    unseen feature scores the floor instead of silently dropping from
    n_feats. Model-sized output: broadcast it at any corpus scale."""
    if df.isStreaming:
        raise ValueError(
            "dsir_train requires a BATCH frame (it runs corpus-scale "
            "batch aggregations); train the λ table on a batch corpus, "
            "then score the stream with dsir_score(stream_df, ..., lam)."
        )
    b_lit = F.lit(float(buckets))
    # spread docs BEFORE the feature explode — a small parquet source
    # arrives as one split and would serialize the explode+md5 into a
    # single task (same trap dedup.exploded_shingles guards; measured
    # 68.4 s → 14.2 s at sf1.0)
    n = df.sparkSession.sparkContext.defaultParallelism
    ev = _dsir_feature_rows(
        df.repartition(n), {"__tgt": is_target}, text
    ).select("__tgt", _dsir_bucket(F.col("f"), buckets).alias("b"))
    # ONE corpus-scale aggregate; target counts and both totals are
    # exact integer marginals of the model-sized (exactly B rows after
    # the spine join) counts table — the lm_train_trigram shape
    # (ADVICE r14: the previous tgt_c/raw_c/totals triple each
    # re-derived the explode+md5 event build, ReusedExchange 0).
    # tt = Σ t_b and rt = Σ r_b because every event lands in exactly
    # one bucket; the totals ride a GLOBAL window over the spine-joined
    # frame rather than a counts.agg() crossJoin so the single corpus
    # pass is STRUCTURAL (a separate .agg() consumer re-plans the whole
    # corpus subtree — 2 scans in the static plan, reuse left to AQE's
    # discretion). The empty partitionBy is bounded by construction:
    # exactly B = `buckets` rows ever enter the window.
    counts = ev.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("r_b"),
        F.sum(F.col("__tgt").cast("long")).cast("long").alias("t_b"),
    )
    spine = df.sparkSession.range(buckets).select(F.col("id").alias("b"))
    dense = spine.join(counts, ["b"], "left").select(
        "b",
        F.coalesce(F.col("r_b"), F.lit(0)).cast("long").alias("r_b"),
        F.coalesce(F.col("t_b"), F.lit(0)).cast("long").alias("t_b"),
    )
    w = one_window()
    tt = F.sum("t_b").over(w).cast("long")
    rt = F.sum("r_b").over(w).cast("long")
    nll_t = F.round(
        -F.log((F.col("t_b") + F.lit(1.0)) / (tt + b_lit))
        * F.lit(1000000.0)
    ).cast("long")
    nll_r = F.round(
        -F.log((F.col("r_b") + F.lit(1.0)) / (rt + b_lit))
        * F.lit(1000000.0)
    ).cast("long")
    return dense.select("b", (nll_r - nll_t).alias("lam"))


def dsir_score(
    df: DataFrame,
    text: Column,
    id_col: Column,
    lam: DataFrame,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Score documents against a trained λ table: per-doc exact int64
    sums of the per-event λ. Batch/stream agnostic — on a readStream
    frame the λ join is a stream-static broadcast join and the per-doc
    rollup runs in update mode (pinned batch==stream in
    test_streaming). Documents with zero tokens emit no row.

    Returns (doc_id, n_feats, logw_micro, log_weight)."""
    # batch path: spread docs before the explode (see dsir_train). A
    # streaming frame skips the hint — micro-batches are already small
    # and repartition would add a per-batch shuffle for nothing.
    if not df.isStreaming:
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    ev = _dsir_feature_rows(df, {"doc_id": id_col}, text).select(
        "doc_id", _dsir_bucket(F.col("f"), buckets).alias("b")
    )
    return (
        ev.join(F.broadcast(lam), ["b"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("lam").cast("long").alias("logw_micro"),
        )
        .select(
            "doc_id",
            "n_feats",
            "logw_micro",
            (F.col("logw_micro") / F.lit(1000000.0)).alias("log_weight"),
        )
    )


def dsir_logweights(
    df: DataFrame,
    text: Column,
    id_col: Column,
    is_target: Column,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-example DSIR importance log-weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): hash
    unigram+bigram features into ``buckets`` buckets, fit two Laplace-
    smoothed bag-of-buckets models — the TARGET slice (``is_target``)
    and the RAW corpus (all rows) — and score every document with

        log w(x) = Σ_events [ nll_raw(b) − nll_target(b) ]

    (positive → the document looks more like the target distribution;
    resampling with probability ∝ exp(log w) draws the target). This is
    the per-example companion to ``importance_weights`` (which reweights
    whole strata); dsir_train/dsir_score expose the two halves for the
    train-once / score-incrementally (streaming) shape.

    Engine-exactness discipline: each per-event term is the established
    LM idiom — round(−ln(p)·10⁶) to int64 micro-units — applied to each
    POSITIVE nll separately (p = (c+1)/(total+B) < 1 always), then an
    exact integer subtraction and exact per-doc int64 sums; the
    displayed ``log_weight`` is one int64/double division both engines
    round identically.

    Scale shape: the λ table is exactly B rows by construction —
    model-sized, broadcast — so the plan is two map-side-combinable
    corpus groupBys (target counts filter-pushed from the same explode),
    one broadcast join back to the event stream, and one per-doc
    aggregate; document bodies never shuffle and nothing content-sized
    is broadcast. Documents with zero tokens emit no row (their
    importance is undefined, like LM perplexity).

    Returns (doc_id, n_feats, logw_micro, log_weight).
    """
    if df.isStreaming:
        raise ValueError(
            "dsir_logweights trains AND scores on the same frame, so it "
            "requires a BATCH frame; for streaming, fit once with "
            "dsir_train(batch_corpus, ...) and score the stream with "
            "dsir_score(stream_df, ..., lam) (stream-static broadcast "
            "join; batch==stream pinned in test_streaming)."
        )
    return dsir_score(
        df, text, id_col, dsir_train(df, text, is_target, buckets), buckets
    )
