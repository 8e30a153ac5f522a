"""Deduplication operators for training-data pipelines (north star per
BASELINE.json): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design: every variant avoids the O(n²) all-pairs comparison —
exact dedup is one hash-groupBy; Jaccard pairs join only docs SHARING a
shingle; MinHash/LSH joins only docs sharing a band bucket; SimHash joins
only docs sharing a signature prefix. All hashing is md5-derived so the
DuckDB oracle can reproduce results bit-for-bit (no engine-private hash
functions in result-bearing positions).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_cpp_spark.functions.stats import ratio_round6
from semantic_cpp_spark.indexing import memo, pin
from semantic_cpp_spark.pipeline.text import fingerprint, normalize_text, tokens

# -- MinHash parameters (shared with the SQL oracle generator) --------------
# h_j(x) = (A[j]*x + B[j]) mod P over x = first-8-hex of md5(shingle).
# A < 2^28 keeps A*x < 2^61 — no int64 overflow in either engine.
MINHASH_P = 4_294_967_311  # prime > 2^32
NUM_HASHES = 16
LSH_BANDS = 4
LSH_ROWS = NUM_HASHES // LSH_BANDS
_rng = random.Random(42)
MINHASH_A = [_rng.randrange(1, 1 << 28) for _ in range(NUM_HASHES)]
MINHASH_B = [_rng.randrange(0, MINHASH_P) for _ in range(NUM_HASHES)]

SIMHASH_BITS = 60  # 15 hex digits of md5 — stays positive in int64


def shingles_t(t: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a token-array ATTRIBUTE ``t``.

    ``t`` MUST be a real attribute on any per-document hot path: the
    per-element ``slice(t, i+1, k)`` re-inlines an expression-valued
    ``t`` under projection collapse — O(L²) re-tokenizations per doc
    (the word_ngrams/_lm_events trap, found HERE in r15: the r14
    repo-wide audit missed this site, and exploded_shingles measured
    9.7 s for 260k shingle rows at sf0.1 — ~20× the linear build).
    Route through text.materialize_tokens first."""
    n = F.size(t)
    idxs = F.sequence(F.lit(0), n - k)
    sh = F.transform(
        idxs,
        lambda i: F.array_join(F.slice(t, i + 1, k), " "),
    )
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of the whitespace-tokenised text.
    O(L²) on any hot path (see shingles_t) — kept only for tiny/test
    inputs; every corpus-scale caller uses materialize_tokens +
    shingles_t."""
    return shingles_t(tokens(col), k)


def shingle_hash(col: Column) -> Column:
    """32-bit integer hash of a shingle: first 8 hex digits of md5 —
    engine-portable (DuckDB: ('0x' || substr(md5(s),1,8))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text: Column, id_col: Column) -> DataFrame:
    """Exact dedup on the normalised-text fingerprint, keeping the
    smallest id per group (deterministic 'first'). One hash-groupBy —
    the 100 TB path (shuffle on fingerprint only, ~32 bytes/row)."""
    return (
        df.select(id_col.alias("doc_id"), fingerprint(text).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def exploded_shingles(df: DataFrame, text: Column, id_col: Column, k: int = 3) -> DataFrame:
    # Spread the docs across the cluster BEFORE the expensive shingle
    # explode: a small parquet source arrives as one split, which would
    # otherwise serialize all derived work (explode, md5, self-join) into
    # a single task.
    #
    # Each shingle is hashed ONCE to its 60-bit md5 long right here, so
    # every downstream exchange (df count, hot-set anti-join, the pair
    # self-join) carries 8-byte keys instead of shingle text — measured
    # 1.4-1.5× on the self-join family at sf1.0, and the win grows with
    # k. A collision (P ≈ n²/2⁶¹) merges two shingles corpus-wide; the
    # oracles mirror the same derivation, so the differential gate stays
    # hash-exact regardless.
    n = df.sparkSession.sparkContext.defaultParallelism
    from semantic_cpp_spark.pipeline.text import materialize_tokens

    # Two explode(array(.)) barriers (r15): the first materializes the
    # token array (the shingles_t O(L²) guard), the second the shingle
    # array itself — size() and explode() below both reference it, and
    # without the barrier each reference re-runs the
    # transform+array_distinct build.
    base = materialize_tokens(
        df.repartition(n), tokens(text), {"doc_id": id_col}
    )
    witharr = base.select(
        "doc_id",
        F.explode(F.array(shingles_t(F.col("__toks"), k))).alias("__sh"),
    )
    return (
        witharr.select(
            "doc_id",
            F.size("__sh").alias("n_sh"),
            F.explode("__sh").alias("sh"),
        )
        .withColumn(
            "sh", F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long")
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """Near-duplicate pairs by Jaccard over distinct k-shingles with
    document frequency ≤ ``max_shingle_df``.

    Plan: explode shingles → drop shingles appearing in more than
    ``max_shingle_df`` docs (a hot "boilerplate" shingle in f docs would
    contribute f² join pairs — the df-cap is what keeps the self-join
    near-linear; near-dups are joined by their RARE shingles) → self-join
    on the shingle → per-pair common count → Jaccard over the same
    capped shingle sets (numerator and denominator consistent).

    ``max_shingle_df=None`` disables the cap (exact Jaccard over all
    shingles — quadratic on corpora with heavy shingle reuse).

    The hashed shingle table is MATERIALIZED once (localCheckpoint —
    r15, guide §8's "write the fingerprint table once" / §2.4): it is
    consumed by the df count, the anti-join probe, the per-doc sizes,
    the sizes join-back, and BOTH self-join sides — as lazy lineage
    each reference re-ran the scan+shingle+md5 build (8 leaf
    occurrences in the final plan). The materialized rows are the
    16-byte-key proxies, never document text; the capped/sized
    lineage above the checkpoint stays lazy so its anti-join/sizes
    shapes remain visible in the final plan (plan-pinned) and
    runtime stage reuse dedupes the identical a/b subtrees."""
    ex = exploded_shingles(df, text, id_col, k).localCheckpoint()
    if max_shingle_df is not None:
        # The HOT set (df > cap) is small by construction — broadcast it
        # and anti-join, instead of shuffling the full shingle table
        # through an equi-join on the frequency table (measured 10× slower).
        dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
        hot = dfreq.filter(F.col("__df") > max_shingle_df).select("sh")
        ex = ex.join(F.broadcast(hot), "sh", "left_anti")
        # per-doc sizes over the surviving (rare) shingles; one row per doc,
        # so it SCALES with the corpus — no broadcast hint (a hint would
        # force a multi-GB broadcast at 100 TB; the shuffle join on doc_id
        # co-partitions with the explode output, and AQE may still pick a
        # broadcast while stats sit under the threshold).
        sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n2"))
        ex = (
            ex.drop("n_sh")
            .join(sizes, "doc_id")
            .withColumnRenamed("__n2", "n_sh")
        )
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("a.n_sh").alias("na"),
            F.first("b.n_sh").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        # keep/drop on the RAW double ratio (IEEE division + compare is
        # bit-identical across engines); only round() diverged — displayed
        # value via exact integer half-up division (stats.ratio_round6,
        # the half-micro boundary class round(double, 6) gets wrong)
        .filter(F.col("jaccard") >= threshold)
        .select(
            "d1",
            "d2",
            ratio_round6(
                F.col("common"),
                F.col("na") + F.col("nb") - F.col("common"),
            ).alias("jaccard"),
        )
    )
    return pairs


def containment_pairs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """DIRECTED near-duplicate pairs by shingle containment
    C(d1→d2) = |S(d1) ∩ S(d2)| / |S(d1)|: "most of d1's shingles also
    appear in d2". Catches subset duplication — a short document quoted
    verbatim inside a longer one — which symmetric Jaccard misses (the
    union denominator dilutes the score when |S(d2)| ≫ |S(d1)|).

    Same blocking as ngram_jaccard_pairs: docs meet ONLY through a shared
    shingle, and the df-cap drops hot boilerplate shingles before the
    self-join (a shingle in f docs contributes f² pairs). The directed
    form emits both (d1,d2) and (d2,d1) candidates — 2× the join output
    of the '<'-ordered form, same asymptotic bound. Numerator and
    denominator both use the capped shingle sets (consistent).

    The hashed shingle table is localCheckpointed at the same point
    as ngram_jaccard_pairs (r15) — see the rationale there."""
    ex = exploded_shingles(df, text, id_col, k).localCheckpoint()
    if max_shingle_df is not None:
        dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
        hot = dfreq.filter(F.col("__df") > max_shingle_df).select("sh")
        ex = ex.join(F.broadcast(hot), "sh", "left_anti")
        sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__n2"))
        ex = (
            ex.drop("n_sh")
            .join(sizes, "doc_id")
            .withColumnRenamed("__n2", "n_sh")
        )
    a = ex.alias("a")
    b = ex.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.first("a.n_sh").alias("na"),
        )
        .withColumn("containment", F.col("common") / F.col("na"))
        # raw-double threshold, exact-int display rounding (see
        # ngram_jaccard_pairs — same half-micro boundary reasoning)
        .filter(F.col("containment") >= threshold)
        .select(
            "d1",
            "d2",
            ratio_round6(F.col("common"), F.col("na")).alias("containment"),
        )
    )


def minhash_signature(df: DataFrame, text: Column, id_col: Column, k: int = 3) -> DataFrame:
    """MinHash signatures: per doc, NUM_HASHES minima of affine hashes of
    the shingle set.

    Shape: explode shingles → md5-hash each ONCE → one groupBy(doc) with
    NUM_HASHES ``min`` aggregates. The tempting all-expression form
    (NUM_HASHES array_min/transform towers over the shingle array) re-
    inlines the md5+split subtree into every hash function after Catalyst
    collapses projections — measured 16× slower. Here the expensive hash
    is computed once per (doc, shingle) row and each aggregate is a
    multiply-add; shuffle carries (doc_id, h) only.

    Docs shorter than k tokens have no shingles → explode drops them
    (matches the oracle's len(shingles) > 0 guard)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    from semantic_cpp_spark.pipeline.text import materialize_tokens

    # tokens materialized before the per-element slice (the shingles_t
    # O(L²) guard, r15)
    ex = materialize_tokens(
        df.repartition(n), tokens(text), {"doc_id": id_col}
    ).select(
        "doc_id", F.explode(shingles_t(F.col("__toks"), k)).alias("s")
    )
    hashed = ex.select("doc_id", shingle_hash(F.col("s")).alias("h"))
    mins = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"m{j}")
        for j, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    per_doc = hashed.groupBy("doc_id").agg(*mins)
    sig = F.array(*[F.col(f"m{j}") for j in range(NUM_HASHES)])
    return per_doc.select("doc_id", sig.alias("sig"))


def _band_key_explode() -> Column:
    """Explode expression turning a MinHash ``sig`` array column into
    LSH_BANDS (band, key) structs — key = '_'-joined band slice. Shared
    by the self-join (minhash_lsh_pairs) and the batch-vs-corpus lookup
    (incremental_near_dup) so the band layout cannot diverge."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("band"),
                    F.array_join(
                        F.transform(
                            F.slice("sig", t * LSH_ROWS + 1, LSH_ROWS),
                            lambda x: x.cast("string"),
                        ),
                        "_",
                    ).alias("key"),
                )
                for t in range(LSH_BANDS)
            ]
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 3,
    threshold: float = 0.5,
    bucket_cap: int = 1024,
) -> DataFrame:
    """MinHash+LSH candidate pairs, verified by estimated Jaccard
    (signature agreement rate).

    Plan: signatures (narrow) → explode into LSH_BANDS band keys →
    groupBy band key (docs collide only if a whole band matches) →
    pairs within bucket → dedup pairs → verify with the full signature.
    Shuffle volume: BANDS rows/doc, each a short string — 100 TB-safe.

    A DUPLICATE CLUSTER of c docs puts all c in the same band bucket —
    c²/2 pairs that would otherwise run as one straggler task; the
    triangle-distributed self-join (pipeline.blocking, r6) spreads each
    over-``bucket_cap`` bucket across ceil(c/cap)² tasks with pair
    completeness preserved exactly. (The c² pair OUTPUT for a clique is
    inherent to pair enumeration — monster cliques should flow through
    dedup_keep_list's cluster representation instead.)

    HYBRID routing (one O(n)-partial-agg probe job): when NO band bucket
    exceeds ``bucket_cap`` — the common, uniform-corpus case — the plan
    stays the original carry-signatures self-join (fewest stages, fastest
    at low pair volume). Only a corpus with an actual hot bucket pays for
    the triangle fan-out + narrow-pair dedup + signature re-attach plan
    (measured 3.7× faster there: 29 → 7.9 µs/pair on a 1600-clique).
    Output is bit-identical either way, so the driver oracle is one plain
    SQL self-join regardless of route.
    """
    from semantic_cpp_spark.pipeline import blocking
    # pinned: the band self-join and the signature-verification joins
    # would otherwise recompute the md5+aggregate pipeline up to 4×.
    # Memoised on the corpus so repeated builds in one session reuse ONE
    # persist and skip the route probe (bench.py flushes the memo before
    # every timed run — r16 de-gaming).
    params = (str(text), str(id_col), k)
    sigs = memo(
        df, ("signatures", *params),
        lambda: pin(minhash_signature(df, text, id_col, k)),
    )
    bands = sigs.select(
        "doc_id", "sig", _band_key_explode().alias("bk")
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    has_hot = memo(
        df, ("hot_route", *params, bucket_cap),
        lambda: not (
            bands.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > bucket_cap)
            .isEmpty()
        ),
    )
    if not has_hot:
        # uniform route: plain self-join carrying signatures (fewest stages)
        a, b = bands.alias("a"), bands.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("d1"),
                F.col("b.doc_id").alias("d2"),
                F.col("a.sig").alias("sig1"),
                F.col("b.sig").alias("sig2"),
            )
            .dropDuplicates(["d1", "d2"])
        )
    else:
        # hot route: triangle fan-out; candidates stay NARROW (two longs)
        # through the cross-band dropDuplicates shuffle, signatures
        # re-attach via two equi-joins against the persisted signature
        # table. Measured on a 1600-doc clique (1.28M pairs): carrying
        # the 2×16-long arrays through the dedup shuffle cost 29 µs/pair;
        # this plan runs the same output at ~8 µs/pair.
        tagged = blocking.triangle_tag(bands, ["band", "key"], "doc_id", bucket_cap)
        a, b = tagged.alias("a"), tagged.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & blocking.triangle_cond("a", "b")
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("d1"),
                F.col("b.doc_id").alias("d2"),
            )
            .dropDuplicates(["d1", "d2"])
            .join(
                sigs.select(
                    F.col("doc_id").alias("d1"), F.col("sig").alias("sig1")
                ),
                "d1",
            )
            .join(
                sigs.select(
                    F.col("doc_id").alias("d2"), F.col("sig").alias("sig2")
                ),
                "d2",
            )
        )
    agree = F.size(
        F.filter(
            F.zip_with("sig1", "sig2", lambda x, y: x == y), lambda eq: eq
        )
    )
    return (
        cand.withColumn("est_jaccard", agree / F.lit(NUM_HASHES))
        .filter(F.col("est_jaccard") >= threshold)
        .select("d1", "d2", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


def minhash_containment_pairs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 3,
    j_threshold: float = 0.5,
    c_threshold: float = 0.5,
) -> DataFrame:
    """Containment ESTIMATED from MinHash — the LSH-scale form of
    containment_pairs. From the estimated Jaccard ĵ and exact distinct-
    shingle counts |A|, |B|, the intersection is |A∩B| = ĵ·(|A|+|B|)/
    (1+ĵ), so Ĉ(A→B) = ĵ·(|A|+|B|) / ((1+ĵ)·|A|) — both directions
    derived from ONE symmetric LSH candidate pass (the '<'-ordered band
    join), no directed self-join at all. Use when the exact operator's
    shingle-collision join is too dense (its cost scales with shingle
    co-occurrence; this scales with band collisions).

    Sizes come from one narrow aggregate over the same shingle explode.
    Emits (d1, d2, est_containment) for BOTH directions ≥ c_threshold of
    every LSH pair with ĵ ≥ j_threshold (candidate recall is bounded by
    the LSH bands, exactly as for minhash_lsh_pairs)."""
    pairs = minhash_lsh_pairs(df, text, id_col, k, threshold=j_threshold)
    sizes = (
        exploded_shingles(df, text, id_col, k)
        .groupBy("doc_id")
        .agg(F.count_distinct("sh").alias("n_sh"))
    )
    j = (
        pairs.join(sizes.withColumnRenamed("doc_id", "d1"), "d1")
        .withColumnRenamed("n_sh", "na")
        .join(
            sizes.select(
                F.col("doc_id").alias("d2"), F.col("n_sh").alias("nb")
            ),
            "d2",
        )
    )
    inter = F.col("est_jaccard") * (F.col("na") + F.col("nb")) / (
        1 + F.col("est_jaccard")
    )
    fwd = j.select(
        "d1", "d2", (inter / F.col("na")).alias("est_containment")
    )
    rev = j.select(
        F.col("d2").alias("d1"),
        F.col("d1").alias("d2"),
        (inter / F.col("nb")).alias("est_containment"),
    )
    return (
        fwd.unionByName(rev)
        .filter(F.col("est_containment") >= c_threshold)
        .select(
            "d1", "d2", F.round("est_containment", 6).alias("est_containment")
        )
    )


def incremental_near_dup(
    corpus: DataFrame,
    batch: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental (batch-vs-corpus) near-dup: which NEW documents are
    near-duplicates of the EXISTING corpus — the continuous-ingestion
    shape. A daily crawl batch must NOT trigger a full-corpus self-join;
    the corpus is touched only through the MinHash band-key equi-join
    (an index lookup: candidates are corpus docs sharing a whole band
    with some batch doc).

    At 100 TB the corpus band table is a PRECOMPUTED index (persist /
    write the minhash_signature output once, append per batch); here both
    sides are derived on the fly for a self-contained, oracle-checkable
    query — the join shape is identical either way. No broadcast hint on
    either side: the batch is usually small enough for AQE to broadcast
    it, but a backfill-sized batch must be allowed to shuffle.

    Output: (new_id, dup_of, est_jaccard) — directed, batch → corpus.
    """
    csigs = minhash_signature(corpus, text, id_col, k)
    bsigs = minhash_signature(batch, text, id_col, k)
    cb = csigs.select("doc_id", "sig", _band_key_explode().alias("bk")).select(
        F.col("doc_id").alias("dup_of"),
        F.col("sig").alias("sig2"),
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    bb = bsigs.select("doc_id", "sig", _band_key_explode().alias("bk")).select(
        F.col("doc_id").alias("new_id"),
        F.col("sig").alias("sig1"),
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    # a batch re-ingesting an id already in the corpus (re-crawl /
    # backfill overlap) would otherwise report the doc as a near-dup of
    # itself (self-review r6)
    cand = (
        bb.join(cb, ["band", "key"])
        .filter(F.col("new_id") != F.col("dup_of"))
        .dropDuplicates(["new_id", "dup_of"])
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig1", "sig2", lambda x, y: x == y), lambda eq: eq
        )
    )
    return (
        cand.withColumn("est_jaccard", agree / F.lit(NUM_HASHES))
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "dup_of", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


def simhash(df: DataFrame, text: Column, id_col: Column) -> DataFrame:
    """SimHash: per token (weighted by multiplicity), vote ±1 on each of
    SIMHASH_BITS bits of the token's md5-derived hash; fingerprint bit =
    1 iff the vote is positive.

    Plan: explode tokens → token-level hash (60-bit) → for each bit, sum
    votes per doc → pack bits. Expressed as explode + single groupBy with
    SIMHASH_BITS conditional sums — one shuffle of (doc_id, token_hash).
    """
    tok = df.select(
        id_col.alias("doc_id"),
        F.explode(tokens(normalize_text(text))).alias("w"),
    )
    h = F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long")
    tok = tok.select("doc_id", h.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy("doc_id").agg(*votes)
    packed = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = bit * F.lit(1 << b).cast("long")
        packed = term if packed is None else packed + term
    return per_doc.select("doc_id", packed.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    max_hamming: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Blocking: split the signature into (max_hamming+1) chunks — any pair
    within the distance budget must agree on ≥1 whole chunk (pigeonhole),
    so join on chunk equality, then verify with bit_count(xor). Avoids
    all-pairs at scale.

    The signature table is localCheckpointed (r15): both self-join
    sides reference it, and as lazy lineage each side re-ran the
    token-explode + 60-conditional-sum vote aggregate. (doc_id,
    simhash) is 16 bytes/doc at any corpus. Pass a precomputed
    ``sigs`` (e.g. the family gate's shared one) to skip the build."""
    if sigs is None:
        sigs = simhash(df, text, id_col).localCheckpoint()
    chunks = max_hamming + 1
    width = SIMHASH_BITS // chunks
    blocked = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * width)
                        .bitwiseAND((1 << width) - 1)
                        .alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .dropDuplicates(["d1", "d2"])
    )
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", F.col("hamming").cast("long").alias("hamming"))
    )


def connected_components(
    pairs: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over a near-dup
    pair list (the step after every pairwise dedup variant — pairs say
    "these two match", clusters say "keep one representative per group").
    Returns (doc_id, component) where component = the smallest doc_id
    reachable through the pair graph.

    Algorithm: hash-min label propagation WITH POINTER JUMPING — every
    node starts labelled with itself; each round (a) labels flow across
    edges and every node keeps the minimum seen (one join + groupBy-min,
    both partitioned on the node key), then (b) labels are rewritten
    through their own targets, l(v) ← l(l(v)) (one self-join). Plain
    propagation needs O(diameter) rounds — a 1M-link duplication chain
    would need 1M rounds; jumping halves remaining path lengths every
    round, giving O(log n) total (test-pinned: a 40-node chain converges
    in ≤8 rounds where propagation alone would need 40). The
    changed-label count per round is a scalar aggregate (no collect of
    data). For web-scale graphs with massive hub components, the
    large-star/small-star rewrite (Kiveris et al.) additionally bounds
    per-key fan-in; hubs here are ordinary AQE skew-join territory.
    """
    edges = pairs.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    edges = edges.union(
        edges.select(F.col("t").alias("s"), F.col("s").alias("t"))
    ).persist()
    try:
        # localCheckpoint (not persist) each round: it CUTS the lineage, so
        # the plan tree stays flat — with persist alone, ~10 rounds of
        # join+union+groupBy nest deep enough to overflow the JVM stack
        # just printing the plan. Same materialisation cost (eager).
        labels = (
            edges.select(F.col("s").alias("v"))
            .distinct()
            .withColumn("l", F.col("v"))
        ).localCheckpoint()
        for _ in range(max_iter):
            prop = (
                edges.join(labels, edges["s"] == labels["v"])
                .select(F.col("t").alias("v"), F.col("l"))
            )
            mins = (
                labels.select("v", "l")
                .union(prop)
                .groupBy("v")
                .agg(F.min("l").alias("l"))
            )
            # pointer jumping: follow the label one hop — labels are node
            # ids, so l's own label exists whenever l is a node (always).
            lut = mins.select(
                F.col("v").alias("__lv"), F.col("l").alias("__ll")
            )
            new_labels = (
                mins.join(lut, mins["l"] == lut["__lv"], "left")
                .select(
                    "v", F.coalesce(F.col("__ll"), F.col("l")).alias("l")
                )
            ).localCheckpoint()
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "v")
                .filter(F.col("n.l") != F.col("o.l"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        return labels.select(
            F.col("v").alias("doc_id"), F.col("l").alias("component")
        )
    finally:
        edges.unpersist()


def cluster_representatives(
    df: DataFrame,
    id_col: Column,
    score: Column,
    pairs: DataFrame,
) -> DataFrame:
    """Quality-aware duplicate-cluster collapse: after any pairwise
    dedup variant produces near-dup ``pairs``, pick ONE representative
    per connected component by (``score`` DESC, doc_id ASC) — the
    keep-the-best-member policy real curation pipelines use (keep the
    longest / highest-quality copy), where the smallest-id convention
    of connected_components alone would keep an arbitrary one.
    Documents in no pair form singleton components and keep themselves.

    ``score`` must be a deterministic expression of the row (an exact
    integer such as a token or char count keeps the argmax
    engine-exact; a float score inherits the usual 1-ulp boundary
    class). Returns (doc_id, component, score, rep_id, keep) — one row
    per input document; ``keep`` = (doc_id == rep_id), so the
    surviving corpus is ``.filter("keep")``.

    Scale shape: connected_components bounds the label work to docs in
    any pair (O(log n) rounds of key-partitioned join+min); the
    component table joins back LEFT on doc_id (co-keyed); the argmax
    is ONE max_by aggregate per component (map-side combinable — no
    per-component sort, no window over the corpus), broadcast-joined
    back to the per-doc rows when small, AQE otherwise."""
    comp = connected_components(pairs)
    base = df.select(id_col.alias("doc_id"), score.alias("score"))
    lab = base.join(comp, "doc_id", "left").select(
        "doc_id",
        "score",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )
    # argmax by (score DESC, doc_id ASC): max_by over a struct whose
    # second field inverts the id order (bitwise NOT keeps int64 order
    # reversed and total, negation would overflow at Long.MIN_VALUE)
    reps = lab.groupBy("component").agg(
        F.max_by(
            "doc_id",
            F.struct(F.col("score"), F.bitwise_not(F.col("doc_id"))),
        ).alias("rep_id")
    )
    return lab.join(reps, "component").select(
        "doc_id",
        "component",
        "score",
        "rep_id",
        (F.col("doc_id") == F.col("rep_id")).alias("keep"),
    )


def shared_spans(
    df: DataFrame,
    text: Column,
    id_col: Column,
    span_words: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring (word-span) cross-document duplication: every
    ``span_words``-word span that appears in >= ``min_docs`` distinct
    documents, with its document count and first doc — the span-level
    exact-dedup primitive from the training-data-dedup literature
    (report → mask/cut the shared spans).

    Shape: explode spans (narrow, ~n_words rows/doc) → per-doc distinct
    (a span repeated inside one doc counts once) → groupBy span. At
    100 TB the shuffle key should be the span's 64-bit hash rather than
    the text (same plan, 8-byte keys); the text key keeps this
    oracle-checkable. The token array rides a materialize_tokens
    barrier before the per-element n-gram slice (the O(L²) collapse
    guard, SCALING r14/r15)."""
    from semantic_cpp_spark.pipeline.text import materialize_tokens, word_ngrams

    toks = F.split(F.trim(F.lower(text)), r"\s+")
    base = materialize_tokens(df, toks, {"doc_id": id_col})
    # Per-doc distinct via array_distinct on the n-gram array — map-side,
    # replacing a corpus-scale dropDuplicates exchange on (doc_id, span)
    # whose dedup key never crossed rows (r15; guide §2.4). The only
    # remaining exchange is the per-span groupBy's.
    ex = base.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_ngrams(F.col("__toks"), span_words))
        ).alias("span"),
    )
    return (
        ex.groupBy("span")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def dedup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: Column,
    src: str = "d1",
    dst: str = "d2",
) -> DataFrame:
    """The end-to-end dedup OUTCOME: given near-dup pairs, keep one
    representative per duplicate cluster (the smallest id = its
    connected component label) plus every document in no pair at all.
    Returns (doc_id, is_cluster_rep) — the cleaned-corpus id list a
    training pipeline actually consumes.

    Plan: connected components over the pairs (bounded — pair nodes
    only), then one broadcast-friendly anti/semi pass over the full
    corpus: dup-node ids are a small fraction of the corpus by
    construction (they ARE the duplicates), so the component table
    broadcasts and the corpus scan stays narrow."""
    comp = connected_components(pairs, src, dst)
    reps = comp.filter(F.col("doc_id") == F.col("component")).select("doc_id")
    dup_nodes = comp.select("doc_id")
    corpus = df.select(id_col.alias("doc_id"))
    untouched = corpus.join(F.broadcast(dup_nodes), "doc_id", "left_anti")
    return untouched.withColumn("is_cluster_rep", F.lit(False)).union(
        reps.withColumn("is_cluster_rep", F.lit(True))
    )


def _prefix_filter_candidates(
    df: DataFrame,
    text: Column,
    id_col: Column,
    k: int,
    tau_num: int,
    tau_den: int,
) -> tuple[DataFrame, DataFrame]:
    """Candidate-generation stage of prefix_filter_jaccard_pairs, exposed
    so tests can COUNT the candidate set — the quantity the prefix-filter
    guarantee is about (hot boilerplate shingles sort last in the
    canonical order and fall outside every prefix, so candidates stay
    near-linear where the naive any-shared-shingle join goes quadratic).
    Returns (per-doc sorted hash sets, distinct candidate pairs)."""
    if not (0 < tau_num <= tau_den):
        raise ValueError(f"need 0 < tau_num <= tau_den, got {tau_num}/{tau_den}")
    n_part = df.sparkSession.sparkContext.defaultParallelism
    from semantic_cpp_spark.pipeline.text import materialize_tokens

    h = F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long")
    # tokens materialized before the per-element slice (the shingles_t
    # O(L²) guard, r15)
    ex = (
        materialize_tokens(
            df.repartition(n_part), tokens(text), {"doc_id": id_col}
        )
        .select(
            "doc_id", F.explode(shingles_t(F.col("__toks"), k)).alias("sh")
        )
        .select("doc_id", h.alias("sh"))
    )
    dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    grouped = (
        ex.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("sh")))
            ).alias("__ord")
        )
        .select(
            "doc_id",
            F.transform("__ord", lambda s: s["sh"]).alias("shs"),
        )
    )
    n = F.size("shs")
    # ceil(tau*n) in exact integer math: (tau_num*n + tau_den - 1) // tau_den
    ceil_tau_n = F.floor(
        (F.lit(tau_num) * n + F.lit(tau_den - 1)) / F.lit(tau_den)
    ).cast("int")
    prefix_len = n - ceil_tau_n + F.lit(1)
    pref = grouped.select(
        "doc_id", F.explode(F.slice("shs", F.lit(1), prefix_len)).alias("sh")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    return grouped, cand


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 3,
    tau_num: int = 4,
    tau_den: int = 5,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (Chaudhuri et
    al. SSJoin ICDE'06 / Bayardo et al. AllPairs WWW'07 / Xiao et al.
    PPJoin): all pairs with Jaccard ≥ τ = tau_num/tau_den over distinct
    k-word shingles — LOSSLESS, unlike ngram_jaccard_pairs' df-cap
    (which silently ignores hot shingles in both candidate generation
    and the score).

    Theory: order every doc's shingle set by the canonical total order
    (global document frequency asc, then shingle — rarest first). If
    J(A,B) ≥ τ then |A∩B| ≥ ⌈τ·|A|⌉, so any (|A|−⌈τ·|A|⌉+1)-length
    prefix of A must contain an intersection element, and likewise for
    B; since both prefixes hold each set's RAREST elements under the
    same total order, the pair shares a token lying in both prefixes
    (the classic prefix-filter lemma). Candidates = prefix-prefix
    self-join; exact verification on the full sets.

    Why this scales where the naive self-join doesn't: a boilerplate
    shingle in f docs contributes f² join pairs, but hot shingles sort
    LAST in the canonical order and fall outside almost every prefix —
    the candidate join only meets docs through their rarest ⌈(1−τ)·n⌉+1
    shingles. ⌈τ·n⌉ is computed in INTEGER arithmetic ((num·n+num−1+…)
    floor-div) so a float ulp can never shorten the prefix below the
    lossless bound.

    Plan: explode → hash each shingle ONCE to its 60-bit md5 long (the
    text never shuffles — every downstream exchange, array, and
    intersect runs on 8-byte keys; the canonical order becomes
    (df, hash), which is just as total) → df count (groupBy h) → join
    back (co-keyed, exchange reused) → per-doc
    sort_array(collect_list(struct(df,h))) → slice prefix → prefix
    self-join → verify candidates against the two full sorted hash
    sets with array_intersect (per-pair cost bounded by doc length, no
    further explode). A 60-bit collision (P ≈ n²/2⁶¹) would merge two
    shingles corpus-wide; the oracle mirrors the same md5 derivation so
    the differential gate stays hash-exact regardless.

    Returns (d1, d2, jaccard) with d1 < d2.
    """
    grouped, cand = _prefix_filter_candidates(
        df, text, id_col, k, tau_num, tau_den
    )
    s1 = grouped.select(F.col("doc_id").alias("d1"), F.col("shs").alias("__s1"))
    s2 = grouped.select(F.col("doc_id").alias("d2"), F.col("shs").alias("__s2"))
    common = F.size(F.array_intersect("__s1", "__s2"))
    denom = F.size("__s1") + F.size("__s2") - common
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        # threshold test in INTEGER cross-multiplication (common·den ≥
        # num·denom) — no float in the keep/drop decision; display value
        # by exact integer half-up division too (stats.ratio_round6)
        .filter(common * F.lit(tau_den) >= F.lit(tau_num) * denom)
        .select("d1", "d2", ratio_round6(common, denom).alias("jaccard"))
    )


# -- Bloom-filter membership -------------------------------------------------
# The index primitive for INCREMENTAL corpus dedup at 100 TB: build once
# over the corpus's exact-dedup keys, broadcast to every probe batch, and
# pay an anti-join against the full corpus only for the (tiny) maybe-member
# set. Stored SPARSE — one (word_index, mask) row per 32-bit word with any
# bit set — because the probe is a word-index equi-join, and a dense array
# would force a driver-side assembly the join never needs.

BLOOM_BITS = 1 << 22  # 4M bits — per-word 32-bit masks, so 131072 words max
BLOOM_HASHES = 5


def _bloom_positions(key: Column, n_bits: int, k_hashes: int) -> Column:
    """Array of k md5-derived bit positions in [0, n_bits) for a key.
    n_bits must be a power of two ≤ 2^60 (the modulo then takes the low
    bits of the 60-bit md5 prefix — engine-portable like hash_u60)."""
    from semantic_cpp_spark.pipeline.curation import hash_u60

    return F.array(
        *[hash_u60(key, f"bloom{i}-") % n_bits for i in range(k_hashes)]
    )


def bloom_build(
    df: DataFrame,
    key: Column,
    n_bits: int = BLOOM_BITS,
    k_hashes: int = BLOOM_HASHES,
) -> DataFrame:
    """Distributed Bloom-filter build: returns the SPARSE filter as
    (w, mask) rows — word index and the OR of its set bits (32 bits per
    word, masks always positive in int64). One explode + one distinct +
    one bit_or groupBy; no driver-side state, no collect — the filter IS
    a DataFrame, persistable as parquet next to the corpus it indexes
    (the precomputed-index shape dedup_incremental_batch documents for
    its band table)."""
    if n_bits & (n_bits - 1) or n_bits <= 0:
        raise ValueError(f"n_bits must be a power of two, got {n_bits}")
    pos = (
        df.select(
            F.explode(_bloom_positions(key, n_bits, k_hashes)).alias("pos")
        )
        .distinct()
    )
    return (
        pos.select(
            F.shiftright("pos", 5).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("mask"))
    )


# Above this bit count the sparse filter stops being broadcastable:
# a worst-case-dense filter has n_bits/32 (word, mask) rows at 16 bytes
# of payload each = n_bits/2 bytes, so the default 10 MB
# autoBroadcastJoinThreshold is crossed near 2^24–2^25 bits; 2^25 (a
# ≤16 MB explicit broadcast, still cheap to ship to every executor) is
# the ceiling, past which the probe becomes a plain shuffle equi-join
# on the word index — same plan shape, no driver or executor-memory
# bitmap ever (the SCALING.md 100 TB sizing: 10^10 keys at 1% FP ≈
# 2^37 bits ≈ 12 GB of sparse rows takes this path). (ADVICE r8: the
# old 2^28 constant mis-stated this math by ~10×.)
BLOOM_BROADCAST_MAX_BITS = 1 << 25


def bloom_probe(
    bloom: DataFrame,
    batch: DataFrame,
    key: Column,
    id_col: Column,
    n_bits: int = BLOOM_BITS,
    k_hashes: int = BLOOM_HASHES,
    broadcast: bool | None = None,
) -> DataFrame:
    """Probe a batch against a sparse Bloom filter: (id, maybe_member)
    per batch row — maybe_member true iff ALL k hashed bits are set (no
    false negatives ever; false-positive rate ≈ (set_bits/n_bits)^k,
    the caller's sizing knob). The probe fans each row into k (word,
    bit) lookups, equi-joins the (≤n_bits/32-row, broadcastable) sparse
    filter on the word index, and bool_ands back per id — no corpus
    access at all, which is the point: only maybe-members proceed to
    the exact verify join. ``id_col`` must identify batch rows uniquely
    (duplicate ids would bool_and across DIFFERENT keys' probes), and
    ``n_bits``/``k_hashes`` MUST match the build call — a mismatch maps
    probes onto bits the build never set, silently breaking the
    no-false-negative guarantee (hence the same sizing validation as
    bloom_build; at scale, persist the two numbers next to the filter
    parquet and read them back rather than re-typing them —
    bloom_save/bloom_load do exactly that).

    Join strategy: the filter side broadcasts while it fits (n_bits ≤
    BLOOM_BROADCAST_MAX_BITS, ~10 MB of sparse rows) and degrades to a
    plain shuffle equi-join on the word index beyond that — the SAME
    logical plan, so the transition is free; ``broadcast`` overrides the
    size-derived choice either way."""
    if n_bits & (n_bits - 1) or n_bits <= 0:
        raise ValueError(f"n_bits must be a power of two, got {n_bits}")
    if broadcast is None:
        broadcast = n_bits <= BLOOM_BROADCAST_MAX_BITS
    probes = batch.select(
        id_col.alias("__id"),
        F.explode(_bloom_positions(key, n_bits, k_hashes)).alias("pos"),
    ).select(
        "__id",
        F.shiftright("pos", 5).alias("w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("b"),
    )
    hit = F.coalesce(
        (F.col("mask").bitwiseAND(F.col("b")) != 0), F.lit(False)
    )
    filt = F.broadcast(bloom) if broadcast else bloom.hint("shuffle_merge")
    return (
        probes.join(filt, "w", "left")
        .select("__id", hit.alias("__hit"))
        .groupBy("__id")
        .agg(F.bool_and("__hit").alias("maybe_member"))
        .select(F.col("__id").alias("id"), "maybe_member")
    )


def bloom_save(
    bloom: DataFrame,
    path: str,
    n_bits: int = BLOOM_BITS,
    k_hashes: int = BLOOM_HASHES,
) -> None:
    """Persist a sparse Bloom filter NEXT TO its sizing parameters —
    the at-scale shape the probe docstring mandates: a probe against a
    filter re-read with the wrong (n_bits, k_hashes) silently loses the
    no-false-negative guarantee, so the two numbers travel in a sidecar
    parquet under the same root (``<path>/filter`` + ``<path>/params``)
    and bloom_load refuses to hand back one without the other. The
    filter rows stay distributed end to end (a 2^37-bit corpus index is
    ~12 GB of (w, mask) rows — never driver state)."""
    bloom.select(
        F.col("w").cast("long"), F.col("mask").cast("long")
    ).write.mode("overwrite").parquet(f"{path}/filter")
    bloom.sparkSession.createDataFrame(
        [(int(n_bits), int(k_hashes))], "n_bits long, k_hashes int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def bloom_load(spark, path: str) -> tuple[DataFrame, int, int]:
    """Re-open a bloom_save'd filter: returns (filter frame, n_bits,
    k_hashes) so the caller probes with the EXACT sizing the build used
    instead of re-typing constants. The params sidecar is one row; the
    filter scan stays lazy/distributed."""
    p = spark.read.parquet(f"{path}/params").collect()
    if len(p) != 1:
        raise ValueError(f"bloom params sidecar must hold exactly 1 row, got {len(p)}")
    return (
        spark.read.parquet(f"{path}/filter"),
        int(p[0]["n_bits"]),
        int(p[0]["k_hashes"]),
    )


# -- HyperLogLog cardinality sketch ------------------------------------------
# The batch companion of streaming.ops.sliding_unique_users_hll, sharing its
# exact register derivation (md5 'hll-' salt, idx = low bits, rho from the
# minimal-binary length of the remainder) so the two surfaces are mutually
# checkable. The corpus-cardinality primitive at 100 TB: "how many distinct
# users/keys/fingerprints" as one 2^p-row aggregate instead of a full
# count(DISTINCT) shuffle of every distinct key.

HLL_REGS = 1 << 10


def hll_distinct(df: DataFrame, key: Column, n_regs: int = HLL_REGS) -> DataFrame:
    """Approximate distinct count by HyperLogLog (Flajolet et al. 2007)
    in PURE Column expressions — no UDF, no driver state: md5-hash each
    key (hash_u60, salt 'hll-'), split into a register index (low bits)
    and a 50-bit remainder whose leading-zero rank is the register
    value, groupBy(idx).max(rho) builds the 2^p registers, and a final
    1-row aggregate applies the bias-corrected estimator with the
    small-range linear-counting correction.

    Determinism: registers are md5-derived, so the estimate is exactly
    reproducible across runs, engines (the DuckDB oracle replays it
    verbatim — bin() has identical minimal-binary semantics), and
    cluster sizes. Standard error ~1.04/√m ≈ 3.3% at the default 1024
    registers; raise n_regs for tighter bands.

    Scale shape: the only exchange carries ≤ n_regs rows per partition
    (max() is map-side combinable), vs count(DISTINCT)'s shuffle of
    every distinct key — the difference between 8 KB and terabytes at
    10^10 keys. Returns one row (n_regs, hll_count)."""
    from semantic_cpp_spark.pipeline.curation import hash_u60

    if n_regs & (n_regs - 1) or n_regs < 128:
        raise ValueError(f"n_regs must be a power of two >= 128, got {n_regs}")
    alpha = 0.7213 / (1.0 + 1.079 / n_regs)
    h = hash_u60(key, "hll-")
    # shiftright, NOT float division: h spans 60 bits and a double round
    # trip would corrupt the low bits of the quotient past 2^53
    p = n_regs.bit_length() - 1
    rest = F.shiftright(h, p)
    max_rho = 60 - p + 1  # all-zero remainder rank (51 at p=10)
    rho = F.when(rest == 0, F.lit(max_rho)).otherwise(
        F.lit(max_rho) - F.length(F.bin(rest))
    )
    regs = (
        df.select((h % n_regs).alias("idx"), rho.alias("rho"))
        .groupBy("idx")
        .agg(F.max("rho").alias("m"))
    )
    agg = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("s_used"),
        F.count(F.lit(1)).alias("n_used"),
    )
    e = (F.lit(alpha) * n_regs * n_regs) / (
        F.col("s_used") + (F.lit(n_regs) - F.col("n_used")) * F.lit(1.0)
    )
    v = F.lit(n_regs) - F.col("n_used")
    est = F.when(
        (e <= F.lit(2.5 * n_regs)) & (v > 0),
        F.lit(float(n_regs)) * F.log(F.lit(float(n_regs)) / v),
    ).otherwise(e)
    return agg.select(
        F.lit(n_regs).cast("long").alias("n_regs"),
        F.round(est, 4).alias("hll_count"),
    )


# -- Count-Min frequency sketch ----------------------------------------------
# The third classic sketch next to the Bloom membership index and the HLL
# cardinality estimator: approximate per-key frequencies in d × w counters
# regardless of key cardinality. md5-derived row hashes keep it replayable.

CMS_DEPTH = 4
CMS_WIDTH = 1 << 10


def cms_build(
    df: DataFrame,
    key: Column,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Distributed Count-Min sketch build (Cormode & Muthukrishnan
    2005): every input row increments one counter per hash row, so the
    whole build is one explode to ``depth`` (r, c) cells + one groupBy
    — the only exchange carries ≤ depth·width map-side-combined rows
    per partition (64 KB at the defaults) no matter how many distinct
    keys the corpus holds. The frequency analog of hll_distinct's
    cardinality registers: count(*) GROUP BY key shuffles every
    distinct key; this never does.

    Returned sparse as (r, c, cnt) rows — persistable next to the
    corpus like the Bloom filter, and mergeable across corpus deltas by
    summing cells."""
    from semantic_cpp_spark.pipeline.curation import hash_u60

    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("r"),
                (hash_u60(key, f"cms{r}-") % width).alias("c"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("cell"))
        .select("cell.r", "cell.c")
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key: Column,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Point-query a Count-Min sketch for every row of ``keys``:
    estimate = min over the ``depth`` rows of the key's counter — an
    OVERESTIMATE of the true frequency with probability ≥ 1 − e^-depth
    of the excess staying under (e/width)·N (the one-sided CMS
    guarantee; both properties test-pinned). The probe fans each key
    into ``depth`` cell lookups and equi-joins the ≤ depth·width-row
    sparse sketch — broadcastable at any corpus size because the
    sketch size is a constant of (depth, width), never of the data
    (the bloom_probe argument without the big-m regime). Returns
    (key, cms_count)."""
    from semantic_cpp_spark.pipeline.curation import hash_u60

    probes = keys.select(
        key.alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        (hash_u60(key, f"cms{r}-") % width).alias("c"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("cell"),
    ).select("key", "cell.r", "cell.c")
    return (
        probes.join(F.broadcast(cms), ["r", "c"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_count"))
    )


def _hll_idx_rho(key: Column, n_regs: int) -> tuple[Column, Column]:
    """(register index, leading-zero rank) for one key — the exact
    derivation hll_distinct uses (md5 'hll-' salt, shiftright, bin)."""
    from semantic_cpp_spark.pipeline.curation import hash_u60

    h = hash_u60(key, "hll-")
    p = n_regs.bit_length() - 1
    rest = F.shiftright(h, p)
    max_rho = 60 - p + 1
    rho = F.when(rest == 0, F.lit(max_rho)).otherwise(
        F.lit(max_rho) - F.length(F.bin(rest))
    )
    return (h % n_regs), rho


def hll_state(
    df: DataFrame, group_keys: list[str], key: Column, n_regs: int = HLL_REGS
) -> DataFrame:
    """Per-group HLL register state (group_keys..., idx, m) — the
    MERGEABLE form of hll_distinct: sparse register rows (only touched
    registers appear), ≤ n_regs rows per group regardless of how many
    keys the group saw. The sketch analog of rollup.agg_state, with a
    property plain counts can't have: merging is idempotent max(), so
    OVERLAPPING increments (re-ingested days, replayed batches) merge
    WITHOUT double counting — test-pinned."""
    if n_regs & (n_regs - 1) or n_regs < 128:
        raise ValueError(f"n_regs must be a power of two >= 128, got {n_regs}")
    idx, rho = _hll_idx_rho(key, n_regs)
    return (
        df.select(*group_keys, idx.alias("idx"), rho.alias("rho"))
        .groupBy(*group_keys, "idx")
        .agg(F.max("rho").alias("m"))
    )


def hll_merge(states: list[DataFrame], group_keys: list[str]) -> DataFrame:
    """Fold HLL state tables: union + groupBy(keys, idx).max(m).
    Associative, commutative, AND idempotent — merge(s, s) == s, so
    at-least-once pipelines stay correct. State size stays ≤ n_regs
    rows per group no matter how many increments fold in."""
    if not states:
        raise ValueError("hll_merge needs at least one state table")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return u.groupBy(*group_keys, "idx").agg(F.max("m").alias("m"))


def hll_finalize(
    state: DataFrame, group_keys: list[str], n_regs: int = HLL_REGS
) -> DataFrame:
    """Resolve per-group register states to cardinality estimates:
    the bias-corrected HLL estimator with the small-range
    linear-counting correction, per group (the same arithmetic as
    hll_distinct's single-group epilogue, rounded to 4dp). Returns
    (group_keys..., hll_count)."""
    alpha = 0.7213 / (1.0 + 1.079 / n_regs)
    agg = state.groupBy(*group_keys).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("s_used"),
        F.count(F.lit(1)).alias("n_used"),
    )
    e = (F.lit(alpha) * n_regs * n_regs) / (
        F.col("s_used") + (F.lit(n_regs) - F.col("n_used")) * F.lit(1.0)
    )
    v = F.lit(n_regs) - F.col("n_used")
    est = F.when(
        (e <= F.lit(2.5 * n_regs)) & (v > 0),
        F.lit(float(n_regs)) * F.log(F.lit(float(n_regs)) / v),
    ).otherwise(e)
    return agg.select(*group_keys, F.round(est, 4).alias("hll_count"))


def cms_merge(sketches: list[DataFrame]) -> DataFrame:
    """Fold Count-Min sketches built with the same (depth, width,
    salt) over corpus deltas: union + groupBy(r, c).sum — counters are
    additive, so merge(cms(A), cms(B)) == cms(A ∪ B) cell-for-cell
    (test-pinned), completing the mergeable-state trio: counts/sums
    merge by + (rollup.merge_states), HLL registers by idempotent max
    (hll_merge), CMS cells by + — NOT idempotent, so exactly-once
    increment semantics are the caller's contract (unlike hll_merge,
    re-merging the same delta double-counts; that is inherent to any
    additive sketch). ≤ depth·width rows per sketch at any scale."""
    if not sketches:
        raise ValueError("cms_merge needs at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("r", "c").agg(F.sum("cnt").cast("long").alias("cnt"))


# Token-position width of the packed first-occurrence key
# (pk = doc_id << SPAN_POS_BITS | pos): 2^20 tokens ≈ a million words,
# far past any sane training document; longer ones must chunk.
SPAN_POS_BITS = 20


def duplicate_span_cuts(
    df: DataFrame, text: Column, id_col: Column, n: int = 8
) -> DataFrame:
    """EXACT-SUBSTRING deduplication planner (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" pass,
    re-expressed shuffle-friendly in token space): find, for every
    document, the maximal token regions whose content already occurs
    earlier in the corpus — the regions an exact-substring dedup cuts,
    where document-level dedup (exact/MinHash) keeps or drops whole
    docs and misses the 30%-boilerplate-70%-novel case entirely.

    Construction: every n-word span occurrence (doc, pos) that is NOT
    the span's GLOBAL first occurrence is a duplicate occurrence
    (within-doc repeats count — only the corpus-wide first survives);
    its covered interval is [pos, pos+n); per-doc interval coalescing
    (operators.eventflow.merge_intervals) yields the cut list.
    COMPLETENESS: a duplicated region of m ≥ n tokens contributes
    exactly m−n+1 duplicated n-gram occurrences whose union covers it
    precisely, so the merged blocks equal the maximal duplicated
    regions — no suffix array needed, and regions shorter than n
    tokens are below the cut threshold by definition (Lee et al. use
    50 BPE tokens; n≈8 words is the same order).

    Scale shape: spans shuffle as 60-bit md5 HASHES, never text (the
    ngram_novelty discipline; collisions merge two spans' first-
    occurrence records at P ≈ n²/2⁶¹ — mirrored in the oracle).
    First-occurrence = one min() over the PACKED int64
    doc_id·2²⁰ + pos (single map-side-combinable agg, no window over
    the corpus; requires pos < 2²⁰ — ENFORCED in-plan (VERDICT r8 #3):
    a document beyond 2²⁰ tokens raises at execution instead of
    silently aliasing into another doc's packed range; chunk such
    documents first. doc_id must stay below 2⁴³ for the product to fit
    int64 — the same ceiling every 63-bit id scheme here has). The
    interval merge runs per doc. Returns (doc_id, cut_start, cut_end,
    n_spans), token-indexed, half-open."""
    from semantic_cpp_spark.operators.eventflow import merge_intervals
    from semantic_cpp_spark.pipeline.text import materialize_tokens, word_ngrams

    toks = F.split(F.trim(F.lower(text)), r"\s+")
    base = materialize_tokens(df, toks, {"doc_id": id_col})
    h = F.conv(F.substring(F.md5(F.col("span")), 1, 15), 16, 10).cast("long")
    guarded_pos = F.when(
        F.col("pos") < F.lit(1 << SPAN_POS_BITS), F.col("pos").cast("long")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "duplicate_span_cuts: token position >= "
                    f"2^{SPAN_POS_BITS} would alias the packed "
                    "first-occurrence key — chunk documents beyond "
                    f"{1 << SPAN_POS_BITS} tokens first (doc_id "
                ),
                F.col("doc_id").cast("string"),
                F.lit(")"),
            )
        ).cast("long")
    )
    occ = (
        base.select(
            "doc_id",
            F.posexplode(word_ngrams(F.col("__toks"), n)).alias("pos", "span"),
        )
        .select(
            "doc_id",
            guarded_pos.alias("pos"),
            h.alias("h"),
        )
        .withColumn(
            "pk", F.col("doc_id") * F.lit(1 << SPAN_POS_BITS) + F.col("pos")
        )
    )
    first = occ.groupBy("h").agg(F.min("pk").alias("first_pk"))
    dup = occ.join(first, "h").filter(F.col("pk") != F.col("first_pk"))
    iv = dup.select(
        "doc_id",
        F.col("pos").alias("s"),
        (F.col("pos") + n).alias("e"),
    )
    m = merge_intervals(iv, "doc_id", "s", "e")
    return m.select(
        "doc_id",
        F.col("b_start").cast("long").alias("cut_start"),
        F.col("b_end").cast("long").alias("cut_end"),
        F.col("n_intervals").cast("long").alias("n_spans"),
    )


def apply_span_cuts(
    df: DataFrame,
    text: Column,
    id_col: Column,
    cuts: DataFrame,
    emit_text: bool = False,
) -> DataFrame:
    """Execute an exact-substring dedup plan: remove every token whose
    position falls inside one of the doc's ``cuts`` intervals (the
    duplicate_span_cuts output) and re-join the survivors — the
    write-side of the Lee et al. pass. The surgery is PURE higher-order
    Column work (transform-with-index + exists + filter over the token
    array), so the only exchange is the broadcast-sized per-doc cut
    list join — document bodies never shuffle, and docs with no cuts
    pass through verbatim. Returns (doc_id, n_tokens, n_cut, clean_fp)
    with clean_fp = md5 of the cleaned single-space-joined text (the
    fingerprint downstream dedup stages key on); ``emit_text=True``
    adds the MATERIALIZED ``clean_text`` column itself (VERDICT r8 #6
    — the pipeline-composition form: re-chunk / re-embed / re-score
    the deduped corpus; md5(clean_text) ≡ clean_fp row-for-row,
    test-pinned)."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    per_doc = cuts.groupBy("doc_id").agg(
        F.collect_list(F.struct("cut_start", "cut_end")).alias("cut_list")
    )
    j = (
        df.select(id_col.alias("doc_id"), toks.alias("ws"))
        .join(per_doc, "doc_id", "left")
        .withColumn(
            "cut_list",
            F.coalesce(
                F.col("cut_list"),
                F.array().cast(
                    "array<struct<cut_start:bigint,cut_end:bigint>>"
                ),
            ),
        )
    )
    indexed = F.transform(
        F.col("ws"), lambda w, i: F.struct(w.alias("w"), i.alias("i"))
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            F.col("cut_list"),
            lambda c: (c["cut_start"] <= s["i"]) & (s["i"] < c["cut_end"]),
        ),
    )
    clean = F.concat_ws(" ", F.transform(kept, lambda s: s["w"]))
    cols = [
        F.col("doc_id"),
        F.size("ws").cast("long").alias("n_tokens"),
        (F.size("ws") - F.size(kept)).cast("long").alias("n_cut"),
    ]
    if emit_text:
        cols.append(clean.alias("clean_text"))
    cols.append(F.md5(clean).alias("clean_fp"))
    return j.select(*cols)


# -- passage-level MinHash near-dup (sub-document FUZZY dedup) ---------------
# Granularity ladder: exact/MinHash dedup keeps or drops WHOLE docs;
# duplicate_span_cuts removes EXACT repeated token regions; this layer
# catches the remaining case — NEAR-duplicate passages (boilerplate
# paragraphs, templated sections, lightly-edited copies) embedded in
# otherwise-novel documents, the RefinedWeb/Dolma sub-document pass.
# Docs chunk into fixed token windows; each passage minhashes
# INDEPENDENTLY and passages meet through the standard band-bucket
# join, so all of minhash_lsh_pairs' scale machinery (band keys only in
# the shuffle, triangle-split hot buckets) applies unchanged — the
# corpus just has ~n_tokens/window times more, much smaller, "docs".

PASSAGE_TOKENS = 32


def passage_explode(
    df: DataFrame, text: Column, id_col: Column, window: int = PASSAGE_TOKENS
) -> DataFrame:
    """(pkey, doc_id, pid, ptext): non-overlapping ``window``-token
    passages (last one ragged), ptext single-space re-joined. pkey
    packs doc_id·2²⁰ + pid (the span-cuts packing discipline) so the
    passage table can flow through any machinery keyed by one int64;
    pid ≥ 2²⁰ (a 33M-token document at window=32) raises in-plan
    rather than aliasing — same contract, same fix (chunk first)."""
    t = F.split(F.trim(text), r"\s+")
    base = df.select(id_col.alias("doc_id"), t.alias("__ws"))
    npass = F.expr(f"(size(__ws) + {window - 1}) div {window}")
    ex = base.select(
        "doc_id",
        "__ws",
        F.explode(F.sequence(F.lit(0), npass - 1)).alias("pid"),
    )
    guarded_pid = F.when(
        F.col("pid") < F.lit(1 << SPAN_POS_BITS), F.col("pid").cast("long")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "passage_explode: passage index >= "
                    f"2^{SPAN_POS_BITS} would alias the packed key — "
                    "chunk documents first (doc_id "
                ),
                F.col("doc_id").cast("string"),
                F.lit(")"),
            )
        ).cast("long")
    )
    return ex.select(
        "doc_id",
        guarded_pid.alias("pid"),
        F.array_join(
            F.slice(F.col("__ws"), F.col("pid") * window + 1, window), " "
        ).alias("ptext"),
    ).withColumn(
        "pkey", F.col("doc_id") * F.lit(1 << SPAN_POS_BITS) + F.col("pid")
    )


def passage_minhash_pairs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    window: int = PASSAGE_TOKENS,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate PASSAGE pairs: passage_explode → the standard
    MinHash(NUM_HASHES)+LSH(BANDS) band-bucket pipeline on the packed
    passage key → unpack. Returns (d1, p1, d2, p2, est_jaccard) with
    (d1, p1) < (d2, p2) in packed order; within-doc pairs (d1 = d2,
    repeated boilerplate inside one document) are real output, callers
    wanting only cross-doc matches filter d1 <> d2 (passage_dup_summary
    does). Passages shorter than ``k`` tokens have no shingles and
    never pair — the minhash_signature contract."""
    p = passage_explode(df, text, id_col, window)
    pairs = minhash_lsh_pairs(
        p, F.col("ptext"), F.col("pkey"), k=k, threshold=threshold
    )
    bits = F.lit(1 << SPAN_POS_BITS)
    return pairs.select(
        F.expr(f"d1 div {1 << SPAN_POS_BITS}").alias("d1"),
        (F.col("d1") % bits).alias("p1"),
        F.expr(f"d2 div {1 << SPAN_POS_BITS}").alias("d2"),
        (F.col("d2") % bits).alias("p2"),
        "est_jaccard",
    )


def passage_dup_summary(
    df: DataFrame,
    text: Column,
    id_col: Column,
    window: int = PASSAGE_TOKENS,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-document boilerplate profile from the passage pairs: how
    many of a doc's passages near-duplicate a passage of ANOTHER doc.
    Returns (doc_id, n_passages, n_dup_passages, dup_ppm) for every
    document — dup_ppm = n_dup·10⁶ div n_passages, exact integer, the
    curation signal (drop or re-weight docs that are mostly shared
    boilerplate even when no WHOLE doc matches). Pair volume is the
    only corpus-sized intermediate; the summary is two groupBys over
    (doc, pid) pairs."""
    pairs = passage_minhash_pairs(df, text, id_col, window, k, threshold)
    cross = pairs.filter(F.col("d1") != F.col("d2"))
    dup = (
        cross.select(F.col("d1").alias("doc_id"), F.col("p1").alias("pid"))
        .unionByName(
            cross.select(
                F.col("d2").alias("doc_id"), F.col("p2").alias("pid")
            )
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_passages"))
    )
    totals = (
        passage_explode(df, text, id_col, window)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_passages"))
    )
    return (
        totals.join(dup, "doc_id", "left")
        .na.fill({"n_dup_passages": 0})
        .select(
            "doc_id",
            "n_passages",
            "n_dup_passages",
            F.expr("(n_dup_passages * 1000000) div n_passages").alias(
                "dup_ppm"
            ),
        )
    )


def passage_keep_list(
    df: DataFrame,
    text: Column,
    id_col: Column,
    window: int = PASSAGE_TOKENS,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The write-side of the passage pass: resolve near-dup passage
    PAIRS into clusters (connected_components over packed passage keys
    — hash-min + pointer jumping, O(log n) rounds) and keep exactly one
    representative per cluster: the smallest (doc_id, pid) in packed
    order, the dedup_keep_list convention one level down. Returns
    (doc_id, pid, keep) for EVERY passage — keep=false marks the
    passages a curation pass drops or down-weights (within-doc repeats
    resolve here too: the first occurrence in the doc survives).
    Composes with apply-side surgery or re-chunking downstream; the
    summary view stays passage_dup_summary."""
    p = passage_explode(df, text, id_col, window)
    pairs = minhash_lsh_pairs(
        p, F.col("ptext"), F.col("pkey"), k=k, threshold=threshold
    )
    comp = connected_components(pairs, "d1", "d2")
    return (
        p.select("doc_id", "pid", "pkey")
        .join(
            comp.select(
                F.col("doc_id").alias("pkey"),
                F.col("component").alias("__c"),
            ),
            "pkey",
            "left",
        )
        .select(
            "doc_id",
            "pid",
            (F.col("__c").isNull() | (F.col("__c") == F.col("pkey"))).alias(
                "keep"
            ),
        )
    )


def apply_passage_keep(
    df: DataFrame,
    text: Column,
    id_col: Column,
    keep: DataFrame,
    *,  # keyword-only: a positional True here once meant emit_text,
    # and silently becoming window=1 is exactly the misalignment the
    # window parameter exists to prevent (ADVICE r10)
    window: int = PASSAGE_TOKENS,
    emit_text: bool = False,
) -> DataFrame:
    """Execute a passage keep-list (passage_keep_list output): rebuild
    each document from only its kept passages, in passage order — the
    write-side that turns the passage pass's verdicts into a deduped
    corpus, mirroring apply_span_cuts one granularity up. The surgery
    is one groupBy over the doc's kept (pid, ptext) pairs re-joined
    with single spaces; document bodies cross the wire once as passage
    rows (already materialized by passage_explode), and docs whose
    every passage keeps reconstruct verbatim (test-pinned). Returns
    (doc_id, n_passages_kept, clean_fp) with clean_fp = md5 of the
    rebuilt text; ``emit_text=True`` adds the text itself. Documents
    with NO kept passage emit with empty text (the all-boilerplate
    case a curation pass then drops by n_passages_kept = 0).

    ``window`` MUST match the passage_keep_list call that produced
    ``keep`` — re-chunking with a different window silently joins
    misaligned (doc_id, pid) pairs (ADVICE r9); both default to
    PASSAGE_TOKENS, so callers who set one set both."""
    p = passage_explode(df, text, id_col, window)
    kept = p.join(keep.filter(F.col("keep")).select("doc_id", "pid"),
                  ["doc_id", "pid"])
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_passages_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pid", "ptext"))),
                lambda s: s["ptext"],
            ),
            " ",
        ).alias("__txt"),
    )
    all_docs = df.select(id_col.alias("doc_id"))
    out = (
        all_docs.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_passages_kept"), F.lit(0)).alias(
                "n_passages_kept"
            ),
            F.coalesce(F.col("__txt"), F.lit("")).alias("__txt"),
        )
        .withColumn("clean_fp", F.md5(F.col("__txt")))
    )
    if emit_text:
        return out.select(
            "doc_id", "n_passages_kept", F.col("__txt").alias("text"),
            "clean_fp",
        )
    return out.select("doc_id", "n_passages_kept", "clean_fp")
