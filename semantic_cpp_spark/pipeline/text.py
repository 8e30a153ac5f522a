"""Text-analysis operators for large-scale training-data pipelines
(BASELINE.json north star; the reference has no text analytics beyond the
Charsequence scalar surface, SURVEY §2.7 — this module is the Spark-native
extension).

All operators are pure Column expressions (JVM-side, codegen) over the
``documents`` table — no UDFs — so they scale to 100 TB as embarrassingly
parallel map work with zero shuffles. The single exception is
``bpe_segment(impl="kernel")``: an Arrow-batched mapInPandas kernel for
production-sized (30k+) merge tables that cannot plan as a Column fold —
still a 1→1 narrow map with zero shuffles, equality-pinned against the
Column form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def materialize_tokens(
    df: DataFrame, toks: Column, cols: dict[str, Column], out: str = "__toks"
) -> DataFrame:
    """Evaluate a token-array EXPRESSION once per row and hand it back as
    a real attribute ``out`` through an ``explode(array(.))`` barrier —
    the projection-collapse guard (SCALING r14, "The O(L²) trap"):
    without it, Catalyst's CollapseProject re-inlines the tokenizer
    subtree into every per-element reference inside a downstream lambda
    (``slice``/``element_at``), so each of the L elements re-tokenizes
    the document — O(L²) per doc. A single-element-array explode is a
    Generate whose input is evaluated exactly once per row (1→1, no row
    loss even for empty token arrays), not an exchange — shuffle-free
    and streaming-safe. ``cols`` (name → Column) is evaluated before the
    barrier and carried through."""
    return df.select(
        *[c.alias(n) for n, c in cols.items()],
        F.explode(F.array(toks)).alias(out),
    )

# Marker vocabularies for the language-ID heuristic. The fixture's texts are
# synthetic word salads, so this demonstrates the marker-scoring MECHANISM
# (count matches per language, argmax with a fixed priority order) with
# deterministic, oracle-reproducible results.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "fast", "slow"],
    "de": ["data", "key", "group"],
    "es": ["query", "row", "table"],
    "zh": ["spark", "join", "merge"],
}
LANG_PRIORITY = ["en", "de", "es", "zh"]

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def tokens(col: Column) -> Column:
    """Whitespace tokenisation (regex split on \\s+ after trim)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col)).cast("long")


def alpha_ratio(col: Column) -> Column:
    """Fraction of [a-z] characters (lowercase alpha density)."""
    return (
        F.length(F.regexp_replace(col, "[^a-z]", "")).cast("double")
        / F.length(col)
    )


def stopword_ratio(col: Column) -> Column:
    t = tokens(col)
    hits = F.size(F.filter(t, lambda w: w.isin(STOPWORDS)))
    return hits.cast("double") / F.size(t)


def quality_score(col: Column) -> Column:
    """Composite quality score: stopword density + length saturation +
    alpha density, weighted 0.4/0.3/0.3 — the standard cheap-filter shape
    for pretraining corpora (length/punct/stopword ratios)."""
    length_sat = F.least(token_count(col).cast("double") / 100.0, F.lit(1.0))
    return (
        0.4 * stopword_ratio(col) + 0.3 * length_sat + 0.3 * alpha_ratio(col)
    )


def lang_scores(col: Column) -> dict[str, Column]:
    t = tokens(col)
    return {
        lang: F.size(F.filter(t, lambda w: w.isin(words))).cast("long")
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """Predicted language: argmax marker-hit count with fixed priority
    order on ties (en > de > es > zh)."""
    s = lang_scores(col)
    expr = None
    for lang in reversed(LANG_PRIORITY):
        cond = None
        for other in LANG_PRIORITY:
            if other == lang:
                continue
            c = s[lang] >= s[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)) if expr is None else F.when(
            cond, F.lit(lang)
        ).otherwise(expr)
    return expr


def normalize_text(col: Column) -> Column:
    """Canonical form for fingerprint/dedup: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalised text (engine-portable —
    identical in DuckDB, so oracle-checkable; a rolling hash would be
    engine-specific for no gain at this granularity)."""
    return F.md5(normalize_text(col))


def fingerprint64(col: Column) -> Column:
    """First 60 bits of the fingerprint as a non-negative long (15 hex
    digits keeps it inside int64)."""
    return F.conv(F.substring(fingerprint(col), 1, 15), 16, 10).cast("long")


def lang_id_sql_case(text_expr: str) -> str:
    """The DuckDB CASE expression equivalent of lang_id (same priority
    order), for oracle generation."""
    score = {
        lang: (
            f"length(list_filter(regexp_split_to_array(trim({text_expr}), '\\s+'), "
            f"w -> w IN ({', '.join(repr(w) for w in words)})))"
        )
        for lang, words in LANG_MARKERS.items()
    }
    clauses = []
    for lang in LANG_PRIORITY[:-1]:
        conds = " AND ".join(
            f"{score[lang]} >= {score[o]}" for o in LANG_PRIORITY if o != lang
        )
        clauses.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{LANG_PRIORITY[-1]}' END"


# -- Gopher-style quality rules + repetition signals (r3) --------------------
# The standard cheap pretraining-corpus filter battery (word-count bounds,
# mean word length, alpha-word ratio, stopword evidence, duplicate-n-gram
# fractions). Pure Column expressions — zero shuffle, whole-stage codegen.

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_MIN_STOPWORD_HITS = 2
GOPHER_MAX_DUP_2GRAM_FRAC = 0.8
GOPHER_MAX_DUP_3GRAM_FRAC = 0.6


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a token array as space-joined strings; empty array
    when the document has fewer than n tokens (sequence() would descend).

    ``toks`` MUST be a real attribute (or cheap alias of one) on the
    per-document hot path: the per-element ``slice(toks, i, n)`` makes an
    expression-valued ``toks`` re-inline under projection collapse —
    O(L²) re-tokenizations per doc (SCALING r14/r15; fixed across all
    callers via ``materialize_tokens``; builder-measured before/after:
    txt_decontaminate 172 s → see SCALING r15 at sf10)."""
    s = F.size(toks)
    return F.when(s < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), s - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def dup_ngram_fraction_t(t: Column, n: int) -> Column:
    """Fraction of n-gram instances that are repeats of an earlier one:
    1 − distinct/total over a (lowercased) token-array ATTRIBUTE ``t``.
    0.0 when no n-grams exist (short doc). The repetition signal — word
    salads score ~0, boilerplate scores high."""
    g = word_ngrams(t, n)
    total = F.size(g)
    return F.when(total == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(g)).cast("double") / total
    )


def gopher_signals_t(t: Column) -> dict[str, Column]:
    """The signal battery over a LOWERCASED token-array column ``t``;
    each entry is a pure Column. Pass a materialized attribute (see
    ``materialize_tokens``) on the per-document hot path — the dup-n-gram
    signals slice ``t`` per element."""
    n_words = F.size(t).cast("long")
    mean_wl = (
        F.aggregate(
            F.transform(t, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
        ).cast("double")
        / F.size(t)
    )
    alpha_words = F.size(F.filter(t, lambda w: w.rlike("[a-z]")))
    alpha_ratio_ = alpha_words.cast("double") / F.size(t)
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(t), F.array(*[F.lit(w) for w in STOPWORDS])
        )
    ).cast("long")
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "alpha_word_ratio": alpha_ratio_,
        "n_stop_distinct": stop_hits,
        "dup_2gram_frac": dup_ngram_fraction_t(t, 2),
        "dup_3gram_frac": dup_ngram_fraction_t(t, 3),
    }


def gopher_signals(col: Column) -> dict[str, Column]:
    """Column-convenience form of :func:`gopher_signals_t` over raw text.
    On the per-document hot path, materialize the token array first
    (``materialize_tokens``) and use the ``_t`` form — the dup-n-gram
    members are O(L²) on an expression-valued array."""
    return gopher_signals_t(tokens(F.lower(col)))


def gopher_keep_signals(s: dict[str, Column]) -> Column:
    """Composite keep/drop decision from an (UNROUNDED) signal battery.
    Threshold comparisons run on unrounded values — int/int divisions are
    IEEE-identical across engines, so the boolean is oracle-stable."""
    return (
        (s["n_words"] >= GOPHER_MIN_WORDS)
        & (s["n_words"] <= GOPHER_MAX_WORDS)
        & (s["mean_word_len"] >= GOPHER_MIN_MEAN_WORD_LEN)
        & (s["mean_word_len"] <= GOPHER_MAX_MEAN_WORD_LEN)
        & (s["alpha_word_ratio"] >= GOPHER_MIN_ALPHA_WORD_RATIO)
        & (s["n_stop_distinct"] >= GOPHER_MIN_STOPWORD_HITS)
        & (s["dup_2gram_frac"] <= GOPHER_MAX_DUP_2GRAM_FRAC)
        & (s["dup_3gram_frac"] <= GOPHER_MAX_DUP_3GRAM_FRAC)
    )


# BPE-ish sub-word tokenisation: letter runs, digit runs, single
# punctuation marks — the GPT-2-family pre-tokeniser shape WITHOUT
# lookahead (RE2-compatible, so Spark's Java regex and DuckDB's RE2
# produce identical token streams; verified on mixed punctuation input).
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpe_tokens(col: Column) -> Column:
    """Sub-word tokens of lowercased text as array<string> — pure codegen."""
    return F.regexp_extract_all(F.lower(col), F.lit(BPE_PATTERN), 0)


def bpe_token_count(col: Column) -> Column:
    return F.size(bpe_tokens(col)).cast("long")


# -- BPE merge-rule TRAINING ---------------------------------------------------
# bpe_tokens above counts subwords against a FIXED pre-tokeniser; this
# block LEARNS the merge table from the corpus — the missing half of a
# real tokenize→numericalize pipeline (VERDICT r9 "What's missing #2";
# Sennrich et al. 2016, Neural Machine Translation of Rare Words with
# Subword Units). The distributed shape is the one that survives 100 TB:
# the training state is the WORD-FREQUENCY table (vocab-sized, 10⁷–10⁸
# rows — never the corpus), each round is one adjacent-pair explode +
# one map-side-combinable count + a 1-row argmax back to the driver (the
# k-means-centroid pattern: the merge table IS the model, M rows of KB),
# and the merge applies as one literal string replace over the state.
#
# Symbol sequences ride a DOUBLE-SPACE-delimited string (" h  e  y ",
# single-space padded): pair (a, b) is the literal " a  b " and merging
# rewrites it to " a b "→" ab " via plain replace-all. Left-to-right
# non-overlapping replace IS the reference greedy merge order (Sennrich's
# regex substitution), the double delimiter keeps back-to-back matches
# from sharing boundary spaces ("a a a" + (a,a) → "aa a", never "a aa"),
# and — critically for the oracle — Spark's replace() and DuckDB's
# replace() share these exact semantics, so every round replays
# bit-identically in SQL (txt_bpe_merges unrolls them as MATERIALIZED
# CTEs). Whitespace-split words can't contain the delimiter, so no
# escaping is needed.


def bpe_word_counts(df: DataFrame, text: Column) -> DataFrame:
    """(word, freq): the BPE training state — whitespace-token counts,
    the same additive monoid as vocab_counts (per-delta states fold by
    summation, so incremental corpora extend training input for free)."""
    return (
        df.select(F.explode(tokens(text)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def _validate_eow(eow: str) -> None:
    """Shared end-of-word-marker validation (one definition — the
    check guards three entry points: _bpe_symbolize, bpe_segment,
    bpe_vocab)."""
    if not eow or " " in eow:
        raise ValueError(f"eow must be non-empty and space-free: {eow!r}")


def _bpe_symbolize(word: Column, eow: str | None = None) -> Column:
    """word → its initial symbol string: one symbol per codepoint,
    double-space delimited, single-space padded (' h  e  y ').
    ``eow`` appends an end-of-word marker SYMBOL (' h  e  y  </w> ') —
    the full Sennrich form, letting merges distinguish word-final
    units (suffixes) from the same characters mid-word. The marker is
    atomic in the delimited representation, but symbols are
    identified by string value: pick a marker the corpus alphabet
    cannot CONCATENATE to (e.g. a private-use codepoint) if corpus
    text may contain '<', '/', 'w', '>' adjacent."""
    base = F.rtrim(F.regexp_replace(word, "(.)", "$1  "))
    if eow is not None:
        _validate_eow(eow)
        return F.concat(F.lit(" "), base, F.lit(f"  {eow} "))
    return F.concat(F.lit(" "), base, F.lit(" "))


def _bpe_pair_counts(words: DataFrame) -> DataFrame:
    """(lhs, rhs, cnt): adjacent symbol pairs of every word's current
    sequence, weighted by word frequency — one explode + one
    map-side-combinable SUM, the whole per-round shuffle."""
    syms = F.split(F.trim(F.col("s")), "  ")
    n = F.size(syms)
    ex = words.select(
        "freq",
        syms.alias("__sy"),
        F.explode(
            F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("__i"),
    )
    return (
        ex.select(
            "freq",
            F.element_at("__sy", F.col("__i")).alias("lhs"),
            F.element_at("__sy", F.col("__i") + 1).alias("rhs"),
        )
        .groupBy("lhs", "rhs")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


# Word-table row count at or below which bpe_train_merges's "auto"
# dispatch collects the (symbolized) word-frequency state and trains
# driver-side. The distributed loop costs ~0.27 s/round in pure
# scheduler overhead (one pair-count job + a 1-row argmax per merge,
# measured r11) — ~2¼ HOURS for a production 30k-merge table — while
# the training STATE is vocab-sized and usually fits in driver memory.
# Production trainers (Sennrich's reference implementation, HF
# tokenizers, SentencePiece) do the distributed part once (word
# counts) and train in-memory with incremental pair updates; the
# hybrid keeps that shape: 10⁶ (s, freq) rows is ~100 MB collected,
# trivially driver-sized, while web-scale vocabularies past it stay on
# the bounded-plan distributed path.
BPE_LOCAL_TRAIN_THRESHOLD = 1_000_000


def _bpe_train_local(
    rows: list[tuple[int, str]], n_merges: int, min_count: int
) -> list[tuple[int, str, str, int]]:
    """In-memory BPE trainer over a COLLECTED symbolized word table
    (the bpe_train_merges fast path below BPE_LOCAL_TRAIN_THRESHOLD):
    classic incremental-pair-update training — a lazy-deletion heap
    keyed (cnt DESC, lhs, rhs) picks each round's winner in O(log P),
    and merging touches only the words that CONTAIN the winning pair
    (a pair→word-ids index), updating pair counts by exact before/
    after deltas — instead of one full pair-count Spark job per round.

    Equality-pinned against the distributed loop at M∈{6, 94}
    (tests/test_pipeline.py): the tie-break compares (lhs, rhs) as
    UTF-8 bytes, which is exactly Spark's string sort order
    (UTF8String unsigned byte comparison; UTF-8 byte order equals
    codepoint order), the per-word merge is the same left-to-right
    non-overlapping scan the delimited-string replace performs, and
    the recorded pair_count is the pair's global count at selection
    time — so the emitted table matches the distributed path row for
    row INCLUDING counts, and the txt_bpe_merges SQL oracle replays
    it unchanged."""
    import heapq

    words: list[list] = [
        [s.strip(" ").split("  "), int(freq)] for freq, s in rows
    ]
    cnt: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for wi, (syms, freq) in enumerate(words):
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            cnt[p] = cnt.get(p, 0) + freq
            where.setdefault(p, set()).add(wi)
    heap = [(-c, p[0].encode(), p[1].encode(), p) for p, c in cnt.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        best = None
        while heap:
            negc, _, _, p = heap[0]
            cur = cnt.get(p)
            if cur is None or -negc != cur:
                heapq.heappop(heap)  # stale entry (count changed since push)
                continue
            best = (p, cur)
            break
        if best is None or best[1] < min_count:
            break
        (lhs, rhs), c = best
        merges.append((rank, lhs, rhs, c))
        fused = lhs + rhs
        touched: set[tuple[str, str]] = set()
        for wi in list(where.get((lhs, rhs), ())):
            syms, freq = words[wi]
            old: dict[tuple[str, str], int] = {}
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                old[p] = old.get(p, 0) + 1
            # left-to-right non-overlapping merge — the replace-all
            # order the distributed path's literal replace performs
            out: list[str] = []
            i, n = 0, len(syms)
            while i < n:
                if i < n - 1 and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(fused)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new: dict[tuple[str, str], int] = {}
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                new[p] = new.get(p, 0) + 1
            words[wi][0] = out
            for p in old.keys() | new.keys():
                d = new.get(p, 0) - old.get(p, 0)
                if d:
                    nc = cnt.get(p, 0) + d * freq
                    if nc:
                        cnt[p] = nc
                    else:
                        cnt.pop(p, None)
                    touched.add(p)
                if new.get(p, 0) == 0:
                    s = where.get(p)
                    if s is not None:
                        s.discard(wi)
                        if not s:
                            del where[p]
                elif old.get(p, 0) == 0:
                    where.setdefault(p, set()).add(wi)
        for p in touched:
            c2 = cnt.get(p)
            if c2 is not None:
                heapq.heappush(
                    heap, (-c2, p[0].encode(), p[1].encode(), p)
                )
    return merges


def bpe_train_merges(
    df: DataFrame,
    text: Column,
    n_merges: int,
    eow: str | None = None,
    *,
    min_count: int = 1,
    checkpoint_path: str | None = None,
    checkpoint_every: int = 25,
    impl: str = "auto",
    local_threshold: int = BPE_LOCAL_TRAIN_THRESHOLD,
    word_counts: DataFrame | None = None,
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules from the corpus: per round,
    the globally most frequent adjacent symbol pair (ties → smallest
    (lhs, rhs) in binary order — fully deterministic, so two clusters
    learn the identical table) merges into one symbol everywhere.
    Returns (rank, lhs, rhs, pair_count) with rank 1..n_merges in
    learned order — the merge table a tokenizer applies (bpe_apply).

    ``eow`` trains the full Sennrich variant: every word carries an
    end-of-word marker symbol, so the learned units distinguish
    word-final from mid-word positions (suffix merges like 'e</w>') —
    apply with the SAME eow in bpe_apply. Default None keeps the
    marker-free form the txt_bpe_merges oracle replays.

    Stops early if the corpus runs out of pairs (every word fused to
    one symbol), or — ``min_count`` > 1, Sennrich's standard stopping
    criterion — when the best remaining pair occurs fewer than
    ``min_count`` times (merges learned from singleton pairs memorize
    noise; real tokenizers floor the pair frequency). Choose n_merges
    accordingly when an oracle replays a fixed round count. Rounds are bounded by M, not corpus size: each
    is one pair-count over the WORD table + a 1-row argmax, and the
    word state localCheckpoints between rounds — eager materialization
    AND plan truncation to a leaf, so round k never replays rounds
    1..k-1 and per-round cost stays flat (a persist chain instead
    compounds the nested cached-plan description until the driver
    heap dies — measured r11: OOM at round 19 at sf1.0; see the
    in-loop note).

    ``checkpoint_path`` makes production-sized (30k-round) training
    plannable and resumable (the pq_books_trained pattern, r10 verdict
    "missing #1"): every ``checkpoint_every`` rounds the word state
    and the merge table so far persist to
    ``<checkpoint_path>/step=<i>/{words,merges}`` and the logical plan
    RESETS to a parquet scan — so plan depth is bounded by
    checkpoint_every, not M, and a re-invocation with the same path
    resumes from the newest completed step ≤ n_merges. A one-row
    params sidecar (eow + word-table fingerprint) is written on the
    first run and CHECKED on resume: pointing a different corpus or a
    different eow at an existing checkpoint root raises instead of
    silently adopting foreign state (the refuse-partial sidecar
    discipline).

    ``impl`` picks the training engine (r12 — what makes a 30k-merge
    table PRACTICAL, not merely plannable): the distributed loop costs
    ~0.27 s/round of scheduler overhead (measured r11) — hours at
    M=30k — while the training state is the vocab-sized word table.
    "auto" (default) counts the word table once and, at or below
    ``local_threshold`` rows, collects it and trains driver-side with
    classic incremental pair updates (_bpe_train_local) — the HF-
    tokenizers/SentencePiece shape: Spark does the corpus-scale part
    (word counts), the driver does the M iterations over KB-to-MB
    state. The two paths are equality-pinned row-for-row INCLUDING
    pair_counts at M∈{6, 94} (identical tie-break: UTF-8 byte order IS
    Spark's string order). "distributed" forces the bounded-plan loop
    (web-scale vocabularies past driver memory); "local" forces the
    collect. ``checkpoint_path`` always takes the distributed path —
    durable resume is a distributed-loop feature, and impl="local"
    with a checkpoint_path raises.

    ``word_counts`` supplies a precomputed (word, freq) table (the
    bpe_word_counts shape) and skips the corpus pass — the share-one-
    word-count hook for tokenizer-lifecycle compositions that also
    feed the SAME counts to bpe_vocab / unigram.piece_scores (r15,
    guide §2.4: training state derives from the word table; deriving
    that table once per lifecycle instead of once per stage removes
    whole corpus passes). Counts must be over the same (df, text)
    corpus — equality is pinned in tests."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    if impl not in ("auto", "local", "distributed"):
        raise ValueError(f"impl must be auto|local|distributed: {impl!r}")
    if impl == "local" and checkpoint_path is not None:
        raise ValueError(
            "impl='local' trains in driver memory with no durable "
            "checkpoint/resume - use impl='distributed' (or 'auto', "
            "which routes checkpointed training distributed)"
        )
    words = (
        bpe_word_counts(df, text) if word_counts is None else word_counts
    ).select("freq", _bpe_symbolize(F.col("word"), eow).alias("s"))
    if checkpoint_path is None:
        # hybrid dispatch (VERDICT r11 "What's missing #1"): the word
        # state materializes once either way; below the threshold it
        # collects and trains in-memory instead of paying one Spark
        # job pair per merge round
        words = words.localCheckpoint()
        if impl == "local" or (
            impl == "auto" and words.count() <= local_threshold
        ):
            rows = [(r["freq"], r["s"]) for r in words.collect()]
            return df.sparkSession.createDataFrame(
                _bpe_train_local(rows, n_merges, min_count),
                "rank long, lhs string, rhs string, pair_count long",
            )
    merges: list[tuple[int, str, str, int]] = []
    start = 0
    if checkpoint_path is not None:
        words, merges, start = _bpe_checkpoint_resume(
            df.sparkSession, checkpoint_path, words, eow, n_merges,
            min_count,
        )
        # localCheckpoint (not persist) between rounds: a persist
        # chain nests each round's cached plan inside the next, and
        # the per-action plan DESCRIPTION string compounds until the
        # driver heap dies building it — measured r11 at sf1.0: round
        # 10 0.9 s, round 15 10.8 s, OOM at round 19. localCheckpoint
        # truncates the logical plan to a leaf LogicalRDD, holding
        # every round at flat cost (~0.2 s/round through round 94 on
        # the same corpus). Old round states are reclaimed by the
        # ContextCleaner as references drop; for durable / resumable
        # state use checkpoint_path.
        words = words.localCheckpoint()
    for rank in range(start + 1, n_merges + 1):
        top = (
            _bpe_pair_counts(words)
            .orderBy(F.desc("cnt"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not top or int(top[0]["cnt"]) < min_count:
            break
        lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], top[0]["cnt"]
        merges.append((rank, lhs, rhs, int(cnt)))
        nxt = words.select(
            "freq",
            F.replace(
                F.col("s"),
                F.lit(f" {lhs}  {rhs} "),
                F.lit(f" {lhs}{rhs} "),
            ).alias("s"),
        )
        # eager materialize + plan truncation in one step (see the
        # localCheckpoint note above); the parent round's blocks are
        # released by the ContextCleaner once dereferenced
        words = nxt.localCheckpoint()
        if checkpoint_path is not None and (
            rank % checkpoint_every == 0 or rank == n_merges
        ):
            words = _bpe_checkpoint_write(
                df.sparkSession, checkpoint_path, rank, words, merges
            )
    return df.sparkSession.createDataFrame(
        merges, "rank long, lhs string, rhs string, pair_count long"
    )


def _bpe_word_fingerprint(words: DataFrame) -> tuple[int, int]:
    """Order-independent content fingerprint of the word state:
    (row count, bit_xor of a 60-bit md5 over each (s, freq) pair) —
    cheap (one agg over the vocab-sized table) and enough to refuse a
    checkpoint root written under a different corpus."""
    r = words.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.bit_xor(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("\x01", "s", "freq")), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
            ),
            F.lit(0),
        ).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"])


def _bpe_checkpoint_resume(
    spark,
    path: str,
    fresh_words: DataFrame,
    eow: str | None,
    n_merges: int,
    min_count: int = 1,
):
    """Validate the checkpoint root against a params sidecar (refuse
    foreign state — a different corpus, eow, or min_count floor means
    re-training, not resuming), then resume from the newest completed
    step ≤ n_merges: (words_state, merges_so_far, start_rank). A fresh
    root gets the sidecar written; a root with steps but no sidecar
    raises. Only steps whose merges table committed (the step's LAST
    write — ``merges/_SUCCESS`` present) are resumable (ADVICE r11): a
    crash between the words and merges writes leaves a marker-less
    step dir that resume skips, falling back to the previous intact
    step, instead of raising on the missing merges parquet or —
    worse — adopting a partially-committed words state."""
    from semantic_cpp_spark.maintenance import checkpoint_steps

    n, h = _bpe_word_fingerprint(fresh_words)
    eow_key = "" if eow is None else eow
    # provenance check sees EVERY step dir, complete or not: debris
    # under a sidecar-less root is still state of unknown origin
    steps = checkpoint_steps(spark, path)
    from pyspark.errors import AnalysisException

    try:
        prow = spark.read.parquet(f"{path}/params").collect()
    except AnalysisException:
        if steps:
            raise ValueError(
                f"checkpoint root {path} has step dirs but no params "
                "sidecar - refusing to adopt state of unknown provenance"
            ) from None
        spark.createDataFrame(
            [(eow_key, n, h, min_count)],
            "eow string, n_words long, words_fp long, min_count long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")
        return fresh_words, [], 0
    if len(prow) != 1:
        raise ValueError(
            f"bpe checkpoint params sidecar must hold exactly 1 row, "
            f"got {len(prow)}"
        )
    p = prow[0]
    got = (p["eow"], int(p["n_words"]), int(p["words_fp"]),
           int(p["min_count"]) if "min_count" in p.__fields__ else 1)
    if got != (eow_key, n, h, min_count):
        raise ValueError(
            f"checkpoint root {path} was written under different "
            f"training inputs (eow/corpus/min_count {got} != "
            f"{(eow_key, n, h, min_count)}) - point this corpus at a "
            "fresh root"
        )
    complete = checkpoint_steps(spark, path, marker="merges/_SUCCESS")
    for i in (s for s in reversed(complete) if s <= n_merges):
        mrows = spark.read.parquet(f"{path}/step={i}/merges").orderBy(
            "rank"
        ).collect()
        words = spark.read.parquet(f"{path}/step={i}/words")
        return (
            words,
            [
                (int(r["rank"]), r["lhs"], r["rhs"], int(r["pair_count"]))
                for r in mrows
            ],
            i,
        )
    return fresh_words, [], 0


def _bpe_checkpoint_write(
    spark, path: str, rank: int, words: DataFrame, merges
) -> DataFrame:
    """Persist word state + merge table at ``rank`` and return the
    read-back words frame — the logical plan resets to a parquet scan,
    so plan depth stays bounded by checkpoint_every regardless of M."""
    words.write.mode("overwrite").parquet(f"{path}/step={rank}/words")
    spark.createDataFrame(
        merges, "rank long, lhs string, rhs string, pair_count long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/step={rank}/merges"
    )
    return spark.read.parquet(f"{path}/step={rank}/words")


def bpe_apply(
    word: Column, merges: list[tuple[str, str]], eow: str | None = None
) -> Column:
    """Tokenize ``word`` with a learned merge table (rank-ordered
    (lhs, rhs) pairs — collect_merges pulls them off a
    bpe_train_merges frame): symbolize, fold every merge in order as a
    literal replace, return the final symbol array. The fold builds an
    M-deep Column expression — fine for the ≲10² merges these
    fixtures train, but a ~500-deep chain can already blow the JVM
    thread stack at codegen (measured r11); larger tables belong in
    bpe_segment's Arrow kernel, same rule semantics. Concatenating the
    result always round-trips the word (test-pinned): merges only ever
    fuse adjacent symbols, never drop or reorder them.

    Tables past BPE_KERNEL_THRESHOLD raise: beyond it the failure mode
    is a NONDETERMINISTIC StackOverflowError (it depends on the
    calling thread's remaining stack), which must not be discoverable
    in production — route large tables through bpe_segment's kernel."""
    if len(merges) > BPE_KERNEL_THRESHOLD:
        raise ValueError(
            f"bpe_apply folds {len(merges)} merges as a Column chain, "
            f"past the {BPE_KERNEL_THRESHOLD}-rule JVM-stack ceiling - "
            "use bpe_segment(impl='kernel') for production-sized tables"
        )
    s = _bpe_symbolize(word, eow)
    for lhs, rhs in merges:
        s = F.replace(s, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} "))
    return F.split(F.trim(s), "  ")


def collect_merges(merges: DataFrame) -> list[tuple[str, str]]:
    """bpe_train_merges frame → rank-ordered [(lhs, rhs), ...] for
    bpe_apply (M model rows to the driver, the broadcast-dim shape)."""
    return [
        (r["lhs"], r["rhs"])
        for r in merges.orderBy("rank").select("lhs", "rhs").collect()
    ]


# Above this many merge rules bpe_segment's "auto" dispatch switches from
# the M-deep Column fold (whole-stage codegen, zero Python) to the Arrow
# kernel. The fold's ceiling is the JVM thread stack, not just planning
# cost: a 500-deep replace chain already threw StackOverflowError during
# codegen under test-session stack conditions (measured r11), so the
# threshold sits well below the first observed failure; a 30k-rule
# production table is out of the question for the fold, while the
# kernel's cost is rank-dict lookups, independent of M.
BPE_KERNEL_THRESHOLD = 256

# Hard size bound on the segment kernel's per-task unique-word result
# cache (VERDICT r11 "What's missing #2"): 2²⁰ entries ≈ tens of MB of
# short strings — the Zipf head that pays for caching — while an
# adversarial all-unique-words partition (base64 junk) clears and
# re-fills instead of growing without limit. Output is cap-independent
# (the cache is a pure memo); pinned at cap=4 in tests.
BPE_SEGMENT_CACHE_CAP = 1 << 20


def bpe_segment(
    df: DataFrame,
    text: Column,
    id_col: Column,
    merges: list[tuple[str, str]],
    *,
    eow: str | None = None,
    impl: str = "auto",
) -> DataFrame:
    """Segment every document with a learned merge table: (doc_id,
    text) → one space-joined SUBWORD stream per doc, word boundaries
    preserved (merges never cross words — each word symbolizes and
    merges independently, the Sennrich contract). The output plugs
    straight into the whitespace-tokenised second half of the pipeline
    — vocab_build / encode_tokens / pack_encoded_sequences read it
    unchanged, which is the point: learned-subword tokenisation slots
    into the existing numericalize→pack path as a text→text pass
    (tokenize→LEARN→segment→numericalize→pack, end-to-end test-pinned).

    Shape: one narrow map either way — no explode, no shuffle, output
    inherits scan partitioning. ``impl`` picks the execution strategy:
    "column" folds the table as M literal replaces (whole-stage
    codegen, zero Python — right for the ≲10² tables the fixtures
    train; a ~500-deep chain can already blow the JVM thread stack at
    codegen, measured r11), "kernel" runs the Arrow-batched per-word
    merge kernel (rank-dict lookups, cost independent of M — the only
    form a production 30k-rule table can take), and "auto" (default)
    switches on BPE_KERNEL_THRESHOLD. The implementations are
    equality-pinned on trained tables (column↔kernel at M∈{6, 120};
    kernel↔serial reference at M=500). Segmenting with the TRAINING
    corpus's merges reproduces training's final word states exactly
    (test-pinned), so encode-side and train-side tokenisation can
    never drift.

    ``eow`` (r12) applies an end-of-word-marker table: every word
    symbolizes with the marker appended — the SAME eow the table was
    trained with (bpe_train_merges(eow=...)), or merges addressed at
    marker-bearing units never fire. The marker stays part of the
    emitted subword units (Sennrich's convention: 'e</w>' is a
    different unit from mid-word 'e'), so the downstream vocab/encode
    path distinguishes word-final subwords for free. Train↔segment
    consistency is pinned for the eow form too."""
    if impl not in ("auto", "column", "kernel"):
        raise ValueError(f"impl must be auto|column|kernel: {impl!r}")
    if eow is not None:
        _validate_eow(eow)
    if impl == "kernel" or (
        impl == "auto" and len(merges) > BPE_KERNEL_THRESHOLD
    ):
        return _bpe_segment_kernel(df, text, id_col, merges, eow)
    if len(merges) > BPE_KERNEL_THRESHOLD:
        # explicit impl="column" past the ceiling: the failure mode is
        # a nondeterministic JVM StackOverflowError at codegen — refuse
        raise ValueError(
            f"impl='column' folds {len(merges)} merges as a Column "
            f"chain, past the {BPE_KERNEL_THRESHOLD}-rule JVM-stack "
            "ceiling - use impl='kernel'"
        )
    # Invariant that keeps merges word-local: every merge pattern
    # " a  b " carries single-space edges and a double-space interior;
    # words are joined with a THREE-space gap, so any candidate match
    # spanning a boundary would need the pattern to contain (or abut)
    # 3+ consecutive spaces — impossible. Each word therefore merges
    # exactly as the trainer's per-word string does (test-pinned).
    def _sym(w: Column) -> Column:
        base = F.rtrim(F.regexp_replace(w, "(.)", "$1  "))
        if eow is not None:
            return F.concat(base, F.lit(f"  {eow}"))
        return base

    # drop empty tokens BEFORE symbolizing: split('') yields [''] for
    # empty/whitespace-only text, and with eow an empty word would
    # still symbolize to a bare marker — a phantom subword the kernel
    # (which skips empty tokens) never emits. Filtering keeps the two
    # paths byte-identical on empty docs; without eow the empty
    # token's '' symbol was erased by the final collapse anyway, so
    # this changes nothing there (edge-parity test-pinned).
    s = F.concat(
        F.lit(" "),
        F.array_join(
            F.transform(
                F.filter(tokens(text), lambda w: w != ""), _sym
            ),
            "   ",
        ),
        F.lit(" "),
    )
    out = df.select(id_col.alias("doc_id"), s.alias("__s"))
    for lhs, rhs in merges:
        out = out.select(
            "doc_id",
            F.replace(
                F.col("__s"),
                F.lit(f" {lhs}  {rhs} "),
                F.lit(f" {lhs}{rhs} "),
            ).alias("__s"),
        )
    return out.select(
        "doc_id",
        F.regexp_replace(F.trim(F.col("__s")), r" +", " ").alias("subword_text"),
    )


def _bpe_segment_kernel(
    df: DataFrame,
    text: Column,
    id_col: Column,
    merges: list[tuple[str, str]],
    eow: str | None = None,
) -> DataFrame:
    """Arrow-batched BPE segmentation for production-sized merge
    tables (bpe_segment impl="kernel"): per word, repeatedly apply the
    lowest-rank rule not yet passed whose pair is present, merging all
    its occurrences left-to-right non-overlapping — EXACTLY the Column
    fold's in-order replace-all semantics (a monotone rank floor
    guarantees no rule is ever revisited, so the fold order is
    literal), at rank-dict cost independent of M instead of an M-deep
    expression tree. Output schema and every edge case (null text,
    empty text, Spark's space-only trim + Java-\\s token split) match
    the Column path byte-for-byte — equality-pinned against the fold
    at M∈{6, 120}, against a serial reference at M=500 (past the
    fold's JVM-stack ceiling), plus a 30k-rule smoke.

    Contract: the table must be well-formed — rank-ordered, duplicate-
    free pairs as bpe_train_merges/collect_merges emit (duplicates
    raise). 100 TB shape: a 1→1 mapInPandas over (doc_id, text) — no
    explode, no shuffle, output inherits scan partitioning; per-task
    state is the M-entry rank dict (a 30k-rule table is a few MB,
    shipped once per task like any broadcast model) plus a unique-word
    result cache that amortises Zipf-distributed corpora. The cache is
    BOUNDED at BPE_SEGMENT_CACHE_CAP entries (clear-on-full — hot
    words re-warm instantly on Zipf input), so an adversarial
    partition of all-unique words (base64 junk that survived cleaning)
    cannot grow Python worker memory without limit; output is
    cap-independent (test-pinned at cap=4)."""
    from pyspark.sql import types as T

    ranks: dict[tuple[str, str], int] = {}
    for i, pair in enumerate(merges):
        if pair in ranks:
            raise ValueError(f"duplicate merge pair at rank {i + 1}: {pair}")
        ranks[pair] = i
    rules = list(merges)
    cache_cap = int(BPE_SEGMENT_CACHE_CAP)  # bound captured at plan time

    pre = df.select(id_col.alias("doc_id"), text.alias("__text"))
    out_schema = T.StructType(
        [
            pre.schema["doc_id"],
            T.StructField("subword_text", T.StringType(), True),
        ]
    )
    # Spark's tokens() = split(trim(col), '\s+'): trim strips SPACES
    # only, and Java \s is ASCII [ \t\n\x0b\f\r] — replicate both, or
    # texts with tabs/newlines at the edges tokenise differently here
    # than in the Column path (leading/trailing empty tokens, which
    # the Column path's final whitespace collapse erases — so the
    # kernel just drops empty tokens, byte-identical output).
    import re

    _ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def _run(batches):
        import pandas as pd

        cache: dict[str, str] = {}

        def encode(word: str) -> str:
            got = cache.get(word)
            if got is not None:
                return got
            syms = list(word) if eow is None else list(word) + [eow]
            floor = 0  # in-order fold: never revisit a passed rank
            while len(syms) >= 2:
                best = -1
                for i in range(len(syms) - 1):
                    r = ranks.get((syms[i], syms[i + 1]), -1)
                    if r >= floor and (best == -1 or r < best):
                        best = r
                if best == -1:
                    break
                lhs, rhs = rules[best]
                out, i, n = [], 0, len(syms)
                while i < n:
                    if i < n - 1 and syms[i] == lhs and syms[i + 1] == rhs:
                        out.append(lhs + rhs)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
                floor = best + 1
            got = " ".join(syms)
            if len(cache) >= cache_cap:
                # all-unique-word partitions would otherwise grow the
                # dict with every word; clearing keeps the bound hard
                # and Zipf-shaped input re-warms the hot entries fast
                cache.clear()
            cache[word] = got
            return got

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "subword_text": [
                        None
                        if not isinstance(t, str)
                        else " ".join(
                            encode(w)
                            for w in _ws.split(t.strip(" "))
                            if w
                        )
                        for t in pdf["__text"]
                    ],
                }
            )

    return pre.mapInPandas(_run, schema=out_schema)


def bpe_vocab(
    df: DataFrame,
    text: Column,
    merges: DataFrame,
    eow: str | None = None,
    word_counts: DataFrame | None = None,
) -> DataFrame:
    """The TRAINER-DEFINED subword vocabulary of a learned merge table
    (unit, token_id, source, rank): base units = every distinct
    character of the corpus's words (plus the eow marker when
    trained with one), ids 0..B-1 in codepoint order; merged units =
    one per merge rule (lhs||rhs), ids B..B+M-1 in rank order — the
    HF-tokenizers / SentencePiece id-space convention (alphabet +
    merges), fully determined by (corpus alphabet, merge table), so
    every cluster derives the identical table without rescanning the
    corpus per unit. Unlike vocab_build (corpus-FREQUENCY-ranked ids
    over the segmented stream), this id space is stable under corpus
    growth: adding documents never renumbers existing units — the
    property a deployed tokenizer needs. Shape: one distinct over the
    corpus's exploded characters (bounded by the alphabet, KB-scale)
    + the M-row merge table; zero corpus-sized state.

    Duplicate unit STRINGS (distinct merge rules concatenating to the
    same unit, or a merge product colliding with the eow marker) keep
    their first (smallest) token_id; later duplicates are dropped,
    leaving holes in the id range — id stability is the contract, not
    density (test-pinned).

    ``word_counts`` derives the alphabet from a precomputed (word,
    freq) table instead of rescanning the corpus — the distinct
    characters of the distinct words ARE the corpus alphabet, so the
    vocabulary is identical (test-pinned); the share-one-word-count
    hook for lifecycle compositions (see bpe_train_merges)."""
    from semantic_cpp_spark.indexing import with_ordinal

    # "(?s)." matches one CODE POINT (Java regex), matching
    # _bpe_symbolize's per-codepoint "(.)" symbolization — split("")
    # would cut between UTF-16 code units and break surrogate pairs
    wsrc = (
        df.select(F.explode(tokens(text)).alias("w"))
        if word_counts is None
        else word_counts.select(F.col("word").alias("w"))
    )
    chars = wsrc.select(
        F.explode(
            F.regexp_extract_all(F.col("w"), F.lit("(?s)."), 0)
        ).alias("unit")
    ).distinct()
    if eow is not None:
        _validate_eow(eow)
        chars = chars.unionByName(
            df.sparkSession.createDataFrame([(eow,)], "unit string")
        ).distinct()
    # count the (already distinct) alphabet BEFORE the ordinal sort —
    # counting the ordinal output would execute the range-sort job
    # once for the count and again for the union below
    n_base = chars.count()
    base = with_ordinal(chars, ["unit"], name="token_id", strategy="range").select(
        "unit",
        F.col("token_id"),
        F.lit("base").alias("source"),
        F.lit(None).cast("long").alias("rank"),
    )
    merged = merges.select(
        F.concat("lhs", "rhs").alias("unit"),
        (F.col("rank") - 1 + F.lit(n_base)).cast("long").alias("token_id"),
        F.lit("merge").alias("source"),
        F.col("rank").cast("long").alias("rank"),
    )
    # DEDUPE by unit string, first id wins: distinct merge RULES can
    # concatenate to the same unit ((a,bc) and (ab,c) both yield
    # 'abc'), and a merge product can collide with the eow marker
    # itself when corpus text contains the marker's characters
    # (_bpe_symbolize's documented caveat). A vocabulary must map
    # unit -> ONE id or the encode join fans out; keeping the
    # smallest token_id is deterministic and stable (later duplicates
    # leave holes in the id range — id STABILITY is the contract,
    # not density).
    from pyspark.sql import Window

    w = Window.partitionBy("unit").orderBy("token_id")
    return (
        base.unionByName(merged)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def encode_subwords(
    seg: DataFrame, vocab: DataFrame, oov_id: int = -1
) -> DataFrame:
    """Numericalize a bpe_segment output against a bpe_vocab id table:
    encode_tokens over the subword stream with the TRAINER-DEFINED id
    space (unit → token). By bpe_vocab's closure property every unit
    the segmenter emits on corpus text is in the vocabulary, so n_oov
    is 0 on training data (test-pinned) — OOV appears only on unseen
    text containing characters outside the training alphabet, exactly
    the deployed-tokenizer contract. Same scale shape as
    encode_tokens: one (broadcastable) vocab join, bodies cross the
    wire as (pos, id) pairs."""
    return encode_tokens(
        seg,
        F.col("subword_text"),
        F.col("doc_id"),
        vocab.select(F.col("unit").alias("token"), "token_id"),
        oov_id,
    )


def tokenizer_stats(
    df: DataFrame,
    text: Column,
    id_col: Column,
    merges: list[tuple[str, str]],
    eow: str | None = None,
    *,
    impl: str = "auto",
) -> DataFrame:
    """Per-document tokenizer-quality metrics for a learned merge
    table — the evaluation loop a tokenizer-training pipeline runs
    before freezing a vocab: (doc_id, n_words, n_subwords, n_chars,
    fertility, chars_per_subword). Fertility = subwords per word (the
    standard metric — lower is better, 1.0 means every word is one
    unit); chars_per_subword = word chars per emitted unit (the
    compression ratio; eow markers are EXCLUDED from the char count so
    the metric measures text compression, not marker overhead).
    Ratios round at micro precision via integer half-up division
    (stats.ratio_round6 — engine-exact on the half-boundary class
    round(double, 6) gets wrong).

    Shape: ONE exchange-free pass (plan-pinned). The word/char counts
    ride THROUGH the segmenter inside its id column (bpe_segment
    treats id_col as an opaque Column, so a struct of (id, counts)
    flows through both execution paths 1→1) — the naive form, a
    doc_id self-join of two corpus projections, would cost two scans
    plus a shuffle at 100 TB for counts the scan already had in hand.
    No shuffle, no corpus-sized state; inherits the kernel's
    M-independence, so evaluating a 30k-rule candidate costs the same
    scan as a 100-rule one."""
    # null-text docs must yield NULL metrics, not size(null) = -1
    # counts; n_words counts NON-EMPTY tokens so empty/whitespace-only
    # text reports 0 words (split('') yields ['']), matching the
    # segmenter's empty-token drop
    packed_id = F.struct(
        id_col.alias("id"),
        F.when(
            text.isNull(), F.lit(None).cast("long")
        ).otherwise(
            F.size(F.filter(tokens(text), lambda w: w != "")).cast("long")
        ).alias("n_words"),
        F.when(
            text.isNull(), F.lit(None).cast("long")
        ).otherwise(
            F.length(F.concat_ws("", tokens(text))).cast("long")
        ).alias("n_chars"),
    )
    seg = bpe_segment(df, text, packed_id, merges, eow=eow, impl=impl)
    out = seg.select(
        F.col("doc_id.id").alias("doc_id"),
        F.col("doc_id.n_words").alias("n_words"),
        F.when(F.col("subword_text").isNull(), F.lit(None).cast("long"))
        .when(F.length("subword_text") == 0, F.lit(0))
        .otherwise(F.size(F.split("subword_text", " ")))
        .cast("long")
        .alias("n_subwords"),
        F.col("doc_id.n_chars").alias("n_chars"),
    )
    from semantic_cpp_spark.functions.stats import ratio_round6

    # zero guards: an empty doc has 0 words and 0 subwords — emit NULL
    # ratios instead of dividing by zero (which ABORTS the whole job
    # under ANSI mode, Spark 4's default). Ratios of exact int64
    # counts round via integer half-up division (ratio_round6):
    # round(double, 6) diverges across engines when the reduced
    # denominator divides 2·10⁶ and the ratio lands exactly on a half
    # at the 7th decimal — e.g. a 128-word document with odd subword
    # count (the LM gate measured this class at sf1.0).
    return out.select(
        "doc_id",
        "n_words",
        "n_subwords",
        "n_chars",
        F.when(F.col("n_words") == 0, F.lit(None).cast("double"))
        .otherwise(ratio_round6(F.col("n_subwords"), F.col("n_words")))
        .alias("fertility"),
        F.when(F.col("n_subwords") == 0, F.lit(None).cast("double"))
        .otherwise(ratio_round6(F.col("n_chars"), F.col("n_subwords")))
        .alias("chars_per_subword"),
    )


def token_entropy(df, text: Column, id_col: Column):
    """Per-document Shannon entropy of the token distribution (nats) +
    type-token ratio — the repetitiveness quality signal (a doc that
    loops one phrase scores near 0; diverse text approaches ln(n)).
    H = ln(n) − (Σ c·ln c)/n over per-doc token counts c.

    Returns (doc_id, n_tokens, n_types, entropy, ttr).

    Scale shape: explode → (doc, token) count → per-doc re-assembly;
    per-doc state bounded by the doc's vocabulary. The Σ c·ln c sum is
    a LEFT-TO-RIGHT fold over counts sorted by token (engine-stable
    order), matching DuckDB's list_sum over list(c ORDER BY w) — no
    group-sum float nondeterminism. entropy keeps round(double, 6)
    (ln-valued — the accepted 1-ulp class); ttr is an EXACT int/int
    ratio, so it rounds by integer half-up division
    (stats.ratio_round6) — round(double, 6) diverges across engines
    when n_types/n_tokens lands on a half-micro boundary (the class
    measured at sf1.0, SCALING r12)."""
    from pyspark.sql import functions as F

    from semantic_cpp_spark.functions.stats import ratio_round6

    ex = df.select(id_col.alias("doc_id"), F.explode(tokens(text)).alias("w"))
    counts = ex.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.array_sort(F.collect_list(F.struct("w", "c"))).alias("__wc"),
    )
    clogc = F.aggregate(
        F.col("__wc"),
        F.lit(0.0),
        lambda acc, s: acc + s["c"].cast("double") * F.log(s["c"].cast("double")),
    )
    n = F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.log(n) - clogc / n, 6).alias("entropy"),
        ratio_round6(F.col("n_types"), F.col("n_tokens")).alias("ttr"),
    )


def ngram_novelty(df, text: Column, id_col, span_words: int = 5):
    """Per-document novelty against EARLIER documents (by id): the
    fraction of the doc's distinct ``span_words``-word spans whose first
    corpus occurrence (min doc_id) is its own — the memorization /
    staleness curation signal (a doc whose spans all appeared before is
    recycled content even when no single pair crosses a Jaccard
    threshold). Returns (doc_id, n_spans, n_seen_before, novelty).

    Scale shape (r16, guide §2.4): per-doc span dedup happens
    MAP-SIDE (array_distinct over the per-element span hashes — the
    dedup key never crossed rows, so a (doc_id, h) dropDuplicates
    exchange would buy nothing), then the per-span first occurrence
    attaches as ``min(doc_id) OVER (PARTITION BY h)`` — ONE corpus
    explode+md5 pass and ONE exchange of 16-byte (doc_id, h) rows, no
    join, no broadcast — and the final per-doc rollup
    partial-aggregates map-side. The r15 groupBy(h) + join-back shape
    ran the corpus explode TWICE (static exchange reuse never deduped
    the subtrees; executedPlan verified ReusedExchange=0) and, worse,
    the planner broadcast the corpus-scale first-occurrence aggregate
    (its size estimate comes from scan bytes, blind to explode
    fan-out): the driver measured 237.8 s at sf1.0/32 cores
    (VERDICT r15 #1).

    Exchanges are keyed on the span's 60-bit md5 HASH, not its text —
    the span string never shuffles. A 60-bit collision merges two
    spans' first-occurrence records (P ≈ n²/2⁶¹ — ~10⁻⁷ at 10⁶
    distinct spans); the md5 derivation is mirrored in the oracle, so
    the differential gate still hash-matches exactly. The token array
    rides a materialize_tokens barrier before the per-element n-gram
    slice (the O(L²) collapse guard, SCALING r14/r15)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    toks = F.split(F.trim(F.lower(text)), r"\s+")
    base = materialize_tokens(df, toks, {"doc_id": id_col})
    arr = F.array_distinct(
        F.transform(
            word_ngrams(F.col("__toks"), span_words),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                "long"
            ),
        )
    )
    ex = base.select("doc_id", F.explode(arr).alias("h"))
    # r16 (VERDICT r15 #1, guide §2.4): the r15 shape computed the
    # first-occurrence table with groupBy(h) and joined it back — and
    # because the planner's size estimate for that aggregate comes from
    # the SCAN bytes (blind to explode fan-out), it BROADCAST a
    # corpus-scale table under the 64 MB threshold: the driver measured
    # 237.8 s at sf1.0/32 cores. A shuffle_hash hint fixed the
    # broadcast but still ran the corpus explode twice (static
    # exchange reuse does not dedupe the two subtrees — verified
    # executedPlan, ReusedExchange=0). The window form computes
    # min(doc_id) OVER (PARTITION BY h) instead: ONE corpus
    # explode+md5 pass, ONE exchange on h, no join, no broadcast —
    # identical rows (partition-min ≡ groupBy-min joined back).
    flagged = ex.withColumn(
        "__first", F.min("doc_id").over(Window.partitionBy("h"))
    )
    seen = F.col("__first") < F.col("doc_id")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.count(F.when(seen, 1)).cast("long").alias("n_seen_before"),
        F.round(
            F.lit(1.0) - F.count(F.when(seen, 1)) / F.count(F.lit(1)), 6
        ).alias("novelty"),
    )


# -- vocabulary construction + numericalization -------------------------------
# The tokenize -> numericalize stage every LM training pipeline runs
# between curation and packing: build a frequency-ranked vocabulary once,
# then rewrite each document's token stream as ids against it. Kept
# deterministic end to end (ids from the total order (count DESC, token
# ASC)) so shards encoded on different runs/clusters agree token-for-token.


def vocab_counts(df: DataFrame, text: Column) -> DataFrame:
    """Mergeable vocabulary state (token, n): the corpus-wide token
    counts BEFORE ranking — a pure additive monoid, so per-delta count
    tables fold with merge_vocab_counts and the ranked vocabulary of
    the union never requires rescanning history (the rollup.agg_state
    discipline applied to vocabulary maintenance)."""
    return (
        df.select(F.explode(tokens(text)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def merge_vocab_counts(states: list[DataFrame]) -> DataFrame:
    """Fold vocab count states: union + one SUM groupBy — associative,
    commutative, exact, so merge(counts(A), counts(B)) ≡ counts(A ∪ B)
    token-for-token and the downstream ranking (vocab_rank) of merged
    state equals a from-scratch vocab_build (test-pinned)."""
    if not states:
        raise ValueError("merge_vocab_counts needs at least one state")
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    return u.groupBy("token").agg(F.sum("n").cast("long").alias("n"))


def vocab_rank(
    counts: DataFrame, min_count: int = 1, max_size: int | None = None
) -> DataFrame:
    """Rank a (token, n) count state into the id table (token, n,
    token_id) — the shared epilogue of vocab_build and the incremental
    merge path; see vocab_build for the distributed-ordinal rationale."""
    from semantic_cpp_spark.indexing import with_ordinal

    ranked = with_ordinal(
        counts.filter(F.col("n") >= min_count).withColumn(
            "__negn", -F.col("n")
        ),
        ["__negn", "token"],
        name="token_id",
        strategy="range",
    ).select("token", "n", "token_id")
    if max_size is not None:
        ranked = ranked.filter(F.col("token_id") < max_size)
    return ranked


def vocab_build(
    df: DataFrame,
    text: Column,
    min_count: int = 1,
    max_size: int | None = None,
) -> DataFrame:
    """Frequency-ranked vocabulary (token, n, token_id): whitespace
    tokens counted corpus-wide, ``min_count``-floored, ids dense 0..V-1
    by (count DESC, token ASC) — fully deterministic, so re-building on
    any cluster yields the identical table. The id assignment rides
    indexing.with_ordinal's RANGE strategy (distributed sort +
    per-partition offsets), never a single-task global window — the
    vocab of a web corpus is 10⁷–10⁸ rows and must not bottleneck on
    one partition. ``max_size`` keeps the top-``max_size`` ids (the
    standard cap; everything below becomes OOV at encode time)."""
    return vocab_rank(vocab_counts(df, text), min_count, max_size)


def encode_tokens(
    df: DataFrame,
    text: Column,
    id_col: Column,
    vocab: DataFrame,
    oov_id: int = -1,
) -> DataFrame:
    """Numericalize each document against ``vocab`` (a vocab_build
    table): (doc_id, n_tokens, n_oov, ids, ids_fp) where ``ids`` is the
    position-ordered token-id array (OOV → ``oov_id``) and ``ids_fp``
    its md5 fingerprint ('_'-joined) — the shard-equality check two
    independently-encoded copies compare. Shape: posexplode → one
    equi-join on token (broadcast when the vocab is capped, shuffle at
    web-scale vocab — AQE picks) → one groupBy(doc) re-assembly via
    sort_array(struct(pos, id)); document bodies cross the wire as
    (pos, id) pairs, never re-joined text."""
    ex = df.select(
        id_col.alias("doc_id"),
        F.posexplode(tokens(text)).alias("pos", "token"),
    )
    joined = ex.join(vocab.select("token", "token_id"), "token", "left").select(
        "doc_id",
        "pos",
        F.coalesce(F.col("token_id"), F.lit(oov_id)).alias("tid"),
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum((F.col("tid") == oov_id).cast("long")).alias("n_oov"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tid"))),
                lambda s: s["tid"],
            ).alias("ids"),
        )
        .withColumn(
            "ids_fp",
            F.md5(F.array_join(F.transform("ids", lambda x: x.cast("string")), "_")),
        )
    )


def decode_subwords(
    encoded: DataFrame,
    vocab: DataFrame,
    eow: str | None = None,
    oov_char: str = "�",
) -> DataFrame:
    """Invert encode_subwords against the same vocabulary:
    (doc_id, decoded). With ``eow`` (the marker the table was TRAINED
    with), word boundaries are recoverable and ``decoded`` is the
    original whitespace-NORMALIZED text (single-space joined, the only
    whitespace the tokenize→segment path preserves) — the
    decode(encode(x)) == normalize(x) round-trip a deployed tokenizer
    must provide. Without ``eow`` the concatenation is ambiguous by
    construction (that ambiguity is WHY the marker exists), so the
    space-joined subword STREAM comes back instead.

    Unknown ids (OOV sentinels, or ids from a foreign vocabulary)
    decode to ``oov_char`` — deterministic, visible, never dropped.

    Shape: posexplode → one broadcast vocab join on token_id → one
    groupBy(doc) re-assembly via sort_array(struct(pos, unit)) — ids
    cross the wire as (pos, id) pairs, the encode_tokens shape run
    backwards."""
    ex = encoded.select("doc_id", F.posexplode("ids").alias("pos", "tid"))
    j = ex.join(
        F.broadcast(
            vocab.select(F.col("token_id").alias("tid"), "unit")
        ),
        "tid",
        "left",
    )
    units = j.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "pos",
                        F.coalesce("unit", F.lit(oov_char)).alias("u"),
                    )
                )
            ),
            lambda s: s["u"],
        ).alias("units")
    )
    if eow is None:
        return units.select(
            "doc_id", F.array_join("units", " ").alias("decoded")
        )
    _validate_eow(eow)
    return units.select(
        "doc_id",
        F.rtrim(
            F.replace(
                F.array_join("units", ""), F.lit(eow), F.lit(" ")
            )
        ).alias("decoded"),
    )
