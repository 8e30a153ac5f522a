"""Keyword retrieval over the documents table: inverted-index postings and
BM25 scoring (north-star extension — corpus quality work constantly needs
"find the docs matching these terms" next to the similarity-search path).

Parity rules: tf/df/doc-length are exact int64; the only floats are the
BM25 idf/saturation terms, mirrored expression-for-expression in the
DuckDB oracle and rounded at 6dp (ln on the same libm is bit-identical;
partial-aggregation order differences sit at 1e-15, far under the
rounding).

Scale design: the query-term filter lands BEFORE the explode (the token
array is filtered first), so only matching tokens ever become rows — the
per-(doc,term) shuffle carries docs that contain a query term, not the
corpus. Document lengths are a narrow column (no explode); corpus-level
N/avgdl is a one-row aggregate broadcast by crossJoin — the same scalar
pattern the agg_* queries use.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_cpp_spark.functions import stats
from semantic_cpp_spark.indexing import one_window
from semantic_cpp_spark.pipeline.text import tokens

BM25_K1 = 1.2
BM25_B = 0.75


def postings(df: DataFrame, text: Column, id_col: Column) -> DataFrame:
    """Full inverted index: (term, doc_id, tf). One explode + one
    groupBy(term, doc) — the classic index-build shuffle, keyed on the
    term so each reducer owns whole posting lists."""
    return (
        df.select(id_col.alias("doc_id"), F.explode(tokens(F.lower(text))).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def bm25_topk(
    df: DataFrame,
    text: Column,
    id_col: Column,
    query_terms: list[str],
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k documents by BM25 score for a bag of query terms.

    idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))   (always-positive form)
    score(d) = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))

    Output: (doc_id, score) — the global top-k is a TakeOrderedAndProject
    (per-partition heaps, no global sort), ordered by the ROUNDED score
    with doc_id tiebreak so the selected set is engine-deterministic."""
    base = df.select(
        id_col.alias("doc_id"), tokens(F.lower(text)).alias("t")
    ).select("doc_id", F.size("t").cast("long").alias("dl"), "t")
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_total"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        base.select(
            "doc_id",
            "dl",
            F.explode(F.filter("t", lambda w: w.isin(query_terms))).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("dfreq"))
    scored = tf.join(F.broadcast(dft), "term").crossJoin(F.broadcast(stats))
    idf = F.log(
        1.0
        + (F.col("n_docs_total") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5)
    )
    sat = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        scored.select("doc_id", (idf * sat).alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )


def tfidf_keywords(
    df: DataFrame, text: Column, id_col: Column, k: int = 3
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf (idf = ln(N/df),
    ties → lexicographic term order). The document-keyword extractor for
    corpus exploration/labeling.

    Plan: one postings build (explode + groupBy term,doc), a term-level
    df aggregate joined back on the term key (both sides partitioned on
    term — co-located), the 1-row corpus count broadcast, and a per-doc
    top-k window (bounded work per doc). Output (doc_id, rk, term,
    tfidf)."""
    from pyspark.sql import Window

    post = postings(df, text, id_col)
    n_docs = df.select(id_col).agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    dft = post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("dfreq"))
    scored = (
        post.join(dft, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("n_total") / F.col("dfreq"))).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "doc_id",
            F.col("rk").cast("long").alias("rk"),
            "term",
            F.round("tfidf", 6).alias("tfidf"),
        )
    )


def bm25_sql(
    query_terms: list[str], k: int = 20, k1: float = BM25_K1, b: float = BM25_B
) -> str:
    """DuckDB oracle mirroring bm25_topk expression-for-expression."""
    terms = ", ".join(repr(t) for t in query_terms)
    return f"""WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents),
b2 AS (SELECT doc_id, len(t)::BIGINT AS dl, t FROM base),
stats AS (SELECT count(*)::BIGINT AS n_docs_total, avg(dl) AS avgdl FROM b2),
tf AS (
  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, dl, unnest(list_filter(t, w -> w IN ({terms}))) AS term
        FROM b2)
  GROUP BY doc_id, dl, term),
dft AS (SELECT term, count(*)::BIGINT AS dfreq FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n_docs_total - dft.dfreq + 0.5) / (dft.dfreq + 0.5))
           * ((tf.tf * ({k1} + 1.0))
              / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / stats.avgdl))) AS s
  FROM tf JOIN dft USING (term), stats)
SELECT doc_id, round(sum(s), 6) AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {k}"""


def unigram_cross_entropy(
    df: DataFrame, text: Column, id_col: Column
) -> DataFrame:
    """Per-document cross-entropy under the corpus unigram LM:
    H(d) = −(1/|d|)·Σ_w ln p(w), p(w) = count_corpus(w) / total_tokens.
    The cheap LM-based quality signal (high H = unusual token mix —
    gibberish or off-domain; low H = stopword soup). Every token is in
    the corpus model by construction, so no smoothing term is needed
    (add-one smoothing belongs at the point a HELD-OUT model scores a
    new corpus).

    Plan: one explode feeds both the model (term counts) and the scoring
    side; the term join is co-partitioned on the term key; the corpus
    total is a broadcast 1-row scalar; per-doc mean is one aggregation
    on doc_id. Output (doc_id, n_tokens, cross_entropy)."""
    tok = df.select(
        id_col.alias("doc_id"), F.explode(tokens(F.lower(text))).alias("term")
    )
    model = tok.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    total = tok.agg(F.count(F.lit(1)).cast("long").alias("total"))
    scored = (
        tok.join(model, "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (-F.log(F.col("cnt") / F.col("total"))).alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.sum("nll") / F.count(F.lit(1)), 6).alias("cross_entropy"),
    )


def bigram_cross_entropy(
    df: DataFrame, text: Column, id_col: Column
) -> DataFrame:
    """Per-document cross-entropy under the corpus BIGRAM LM:
    H₂(d) = −(1/(|d|−1))·Σᵢ ln p(wᵢ | wᵢ₋₁), with the conditional
    p(w|v) = count(v,w) / count(v,·) estimated from the whole corpus.
    The stronger LM-quality signal over the unigram form: it penalises
    improbable TRANSITIONS (word-salad, shuffled text) that a unigram
    model scores identically. As with unigram_cross_entropy, every
    scored bigram is in the model by construction (the corpus scores
    itself), so no smoothing term is needed.

    Plan: one explode produces (doc, v, w) bigram rows feeding three
    co-partitioned aggregations — the bigram model (groupBy v,w), the
    left-context totals (groupBy v), and the scoring join back on (v,w)
    then v; per-doc mean is one aggregation on doc_id. Documents shorter
    than 2 tokens have no bigrams and drop out (mirrored in the oracle).
    Output (doc_id, n_bigrams, cross_entropy2)."""
    t = tokens(F.lower(text))
    pairs = F.arrays_zip(
        F.slice(t, 1, F.size(t) - 1).alias("v"),
        F.slice(t, 2, F.size(t) - 1).alias("w"),
    )
    bg = (
        df.filter(F.size(t) >= 2)
        .select(id_col.alias("doc_id"), F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.v").alias("v"), F.col("p.w").alias("w"))
    )
    model = bg.groupBy("v", "w").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    left = model.groupBy("v").agg(F.sum("cnt").cast("long").alias("lcnt"))
    scored = (
        bg.join(model, ["v", "w"])
        .join(left, "v")
        .select("doc_id", (-F.log(F.col("cnt") / F.col("lcnt"))).alias("nll"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.sum("nll") / F.count(F.lit(1)), 6).alias("cross_entropy2"),
    )


def _edit1_block_keys(term: Column) -> Column:
    """Blocking keys for edit-distance ≤ 1: any two strings of length ≥ 2
    within one edit share their FIRST character or their LAST character
    (a single edit touches one position; with len ≥ 2 it cannot touch
    both ends — same pigeonhole as the SimHash chunk blocking). Length
    can differ by at most 1, so each term emits keys at its own length
    and length+1 in both the F (first-char) and L (last-char) key
    spaces; a pair then meets on at least one exact key.

    The pigeonhole fails only when a string of length ≤ 1 pairs with
    another of length ≤ 1: a substitution 'a'↔'b' (or ''↔'x') shares
    neither end (r3 advisor). Those strings additionally emit tag-only
    keys S|<len> and S|<len+1>, so every pair of length-≤1 strings meets
    on an S key (len 0 ∩ len 1 at S|1). The S space is gated on len ≤ 1 —
    emitting it unconditionally would block every equal-length pair and
    collapse the join to all-pairs. Pairs (len 1, len 2) within one edit
    always keep an end character (a 1-char string can only grow by
    prepending or appending), so the F/L keys already cover them."""
    c0 = F.substring(term, 1, 1)
    cl = F.substring(term, -1, 1)
    ln = F.length(term)
    mk = lambda tag, c, l: F.concat_ws("|", F.lit(tag), c, l.cast("string"))  # noqa: E731
    base = F.array(
        mk("F", c0, ln),
        mk("F", c0, ln + 1),
        mk("L", cl, ln),
        mk("L", cl, ln + 1),
    )
    tiny = F.array(mk("S", F.lit(""), ln), mk("S", F.lit(""), ln + 1))
    return F.when(ln <= 1, F.concat(base, tiny)).otherwise(base)


def fuzzy_match_edit1(
    queries: DataFrame, vocab: DataFrame, q_col: str = "q", v_col: str = "term"
) -> DataFrame:
    """Fuzzy lookup: for each query string, every vocabulary term within
    edit distance 1 — the spell-correction / entity-matching join. The
    naive form is |Q|×|V| levenshtein calls; blocking on the first/last-
    char keys (lossless for d ≤ 1 — see _edit1_block_keys; pinned by a
    randomized test against the naive join) reduces candidates to terms
    sharing an end character and a compatible length. Output
    (q, term, dist)."""
    qk = queries.select(
        F.col(q_col).alias("q"), F.explode(_edit1_block_keys(F.col(q_col))).alias("bk")
    )
    vk = vocab.select(
        F.col(v_col).alias("term"),
        F.explode(_edit1_block_keys(F.col(v_col))).alias("bk"),
    )
    return (
        qk.join(vk, "bk")
        .drop("bk")
        .dropDuplicates(["q", "term"])
        .withColumn("dist", F.levenshtein("q", "term").cast("long"))
        .filter(F.col("dist") <= 1)
    )


def pmi_bigrams(
    df: DataFrame,
    text: Column,
    min_count: int = 5,
    k: int = 25,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information (Church &
    Hanks, CL 1990): PMI(x,y) = ln(p(x,y) / (p(x)·p(y))) with
    p(x,y) = c_xy/M (bigram frequency) and p(x) = c_x/N (unigram
    frequency) — the corpus-analysis primitive behind phrase mining and
    tokenizer-merge candidates. Bigrams below ``min_count`` are dropped
    first (PMI's low-count bias).

    Scale shape: adjacent-pair explode is narrow; bigram and unigram
    counts are map-side-combinable groupBys; the two unigram joins
    shuffle on the word key (vocab-bounded — NOT broadcast, a 100 TB
    corpus's vocabulary can be GBs); N and M ride in as one broadcast
    scalar row; final selection is TakeOrdered on the ROUNDED score
    (cross-engine ties resolved by the word columns, so the top-k set
    is deterministic). PMI is computed as a ln-sum — no int64 products
    that could overflow at corpus scale.

    Returns (w1, w2, n_pair, pmi) — the k highest-PMI bigrams."""
    t = tokens(text)
    n_t = F.size(t)
    pairs = F.arrays_zip(
        F.slice(t, 1, n_t - 1).alias("w1"), F.slice(t, 2, n_t - 1).alias("w2")
    )
    big = (
        df.select(F.explode(F.when(n_t >= 2, pairs)).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    uni = (
        df.select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    totals = df.agg(
        F.sum(n_t).alias("n_tokens"),
        F.sum(F.greatest(n_t - 1, F.lit(0))).alias("n_bigrams"),
    )
    j = (
        big.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "c2"), "w2")
        .crossJoin(F.broadcast(totals))
    )
    pmi = (
        F.log("n_pair")
        + F.lit(2.0) * F.log("n_tokens")
        - F.log("n_bigrams")
        - F.log("c1")
        - F.log("c2")
    )
    return (
        j.select("w1", "w2", "n_pair", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(k)
    )


def zipf_fit(df: DataFrame, text: Column, top_n: int = 100) -> DataFrame:
    """Zipf power-law fit over the corpus frequency spectrum: OLS of
    ln(freq) on ln(rank) for the ``top_n`` most frequent terms — the
    standard corpus-health diagnostic (natural language sits near slope
    −1; extreme deviation flags boilerplate floods or synthetic text).
    Returns ONE row (n_terms, slope, intercept, r2).

    Scale shape: the unigram count is a map-side-combinable groupBy;
    the top-n selection is TakeOrdered with a term tie-break (both
    engines pick the identical set); the rank window then runs over AT
    MOST ``top_n`` rows — bounded by construction, so the single-
    partition sort is a constant, not a scale risk. The OLS reduces the
    n rows to closed-form power sums (one tiny aggregate)."""
    t = tokens(text)
    top = (
        df.select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .orderBy(F.desc("n_w"), "w")
        .limit(top_n)
    )
    # ≤ top_n rows from here on — the un-partitioned window is bounded
    w = one_window().orderBy(F.desc("n_w"), "w")
    pts = top.withColumn("rnk", F.row_number().over(w)).select(
        F.log("rnk").alias("x"), F.log("n_w").alias("y")
    )
    a = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    slope = cov / varx
    return a.select(
        n.cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    text: Column,
    id_col: Column,
    query_terms: list[str],
    query_vec_id: int,
    k: int = 20,
    k_each: int = 100,
    c: int = 60,
) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion (Cormack, Clarke &
    Büttcher, SIGIR'09): fuse a lexical BM25 ranking and a vector cosine
    ranking over the SAME id space with
    RRF(d) = Σ_lists 1/(c + rank_list(d)) — the standard hybrid-search
    merge (rank-based, so the two scoring scales never need calibration).
    Docs appearing in only one list still score (the other term is 0).

    Plan: each branch is its own already-scalable top-``k_each``
    retrieval (BM25 = TakeOrdered, cosine = broadcast-query scan); the
    fusion then runs on two ≤k_each-row lists — the full-outer join and
    re-rank are bounded by construction, a driver-scale epilogue to two
    distributed rankings. 1/(c+rank) is a single exact IEEE division,
    and the two-term sum has fixed order — engine-stable without
    rounding tricks; the final cut orders on the ROUNDED score with a
    doc_id tie-break.

    Returns (doc_id, rk, rrf, lex_rank, vec_rank)."""
    from semantic_cpp_spark.pipeline.similarity import cosine_topk

    lex = bm25_topk(docs, text, id_col, query_terms, k=k_each)
    wl = one_window().orderBy(F.col("score").desc(), "doc_id")  # ≤k_each rows
    lex_r = lex.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("lex_rank")
    )
    vec_r = cosine_topk(emb, [query_vec_id], k=k_each).select(
        F.col("vec_id").alias("doc_id"), F.col("rk").alias("vec_rank")
    )
    j = lex_r.join(vec_r, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(float(c)) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(c)) + F.col("vec_rank")), F.lit(0.0)
    )
    wf = one_window().orderBy(F.round(rrf, 6).desc(), "doc_id")  # ≤2·k_each rows
    return (
        j.withColumn("rrf", F.round(rrf, 6))
        .withColumn("rk", F.row_number().over(wf).cast("long"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "rk", "rrf", "lex_rank", "vec_rank")
    )


def term_tf(
    df: DataFrame, text: Column, id_col: Column, terms: list[str]
) -> DataFrame:
    """(doc_id, dl, term, tf) for the query terms only — the
    filter-before-explode posting slice both the per-term runs and any
    tf-derived relevance labels consume. Exposed so callers can build
    BOTH from ONE frame: identical subtrees reuse the shuffle
    (ReusedExchange) instead of re-tokenizing the corpus per consumer
    (the ir_rank_metrics gate query does exactly this)."""
    base = df.select(
        id_col.alias("doc_id"), tokens(F.lower(text)).alias("t")
    ).select("doc_id", F.size("t").cast("long").alias("dl"), "t")
    return (
        base.select(
            "doc_id",
            "dl",
            F.explode(F.filter("t", lambda w: w.isin(terms))).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def per_term_bm25_runs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Ranked top-k run per single-term query: (query_id=term, doc_id, rk,
    score). The multi-query companion of bm25_topk — the shape a retrieval
    EVALUATION consumes (one ranking per query in a query set).

    Plan: one tokenize + filtered explode builds (doc, term, tf) for query
    terms only (pass a shared ``term_tf`` frame via ``tf`` to reuse it
    across consumers), df/N/avgdl as in bm25_topk, then a per-query-term
    ranking window. partitionBy(term) scales with the QUERY SET (real
    evaluation sets are thousands of queries); per-query work is the
    posting list of that term, and the k-cut bounds the output."""
    from pyspark.sql import Window

    base = df.select(
        id_col.alias("doc_id"), tokens(F.lower(text)).alias("t")
    ).select("doc_id", F.size("t").cast("long").alias("dl"), "t")
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_total"),
        F.avg("dl").alias("avgdl"),
    )
    if tf is None:
        tf = term_tf(df, text, id_col, terms)
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("dfreq"))
    scored = tf.join(F.broadcast(dft), "term").crossJoin(F.broadcast(stats))
    idf = F.log(
        1.0
        + (F.col("n_docs_total") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5)
    )
    sat = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    # Query terms are FEW and common terms have corpus-scale posting
    # lists — the skew-audit flag shape — but InferWindowGroupLimit
    # turns the row_number-≤-k filter into a Partial top-k below the
    # exchange: only ≤k rows per term per input partition shuffle
    # (plan-pinned via the rel_topk/fixed_k pins; an r10 hand-rolled
    # two-phase was reverted as redundant).
    w = Window.partitionBy("term").orderBy(
        F.round(idf * sat, 6).desc(), "doc_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            F.col("term").alias("query_id"),
            "doc_id",
            "rk",
            F.round(idf * sat, 6).alias("score"),
        )
    )


def rank_eval(run: DataFrame, qrels: DataFrame, k: int = 10) -> DataFrame:
    """Offline retrieval evaluation: per query, NDCG@k, MRR, precision@k
    and recall@k of a ranked run against graded relevance labels — the
    standard TREC-style metric set every retrieval pipeline (and every
    RAG corpus build) reports.

    Inputs: ``run`` (query_id, doc_id, rk) — rk 1-based, already cut or
    cuttable at k; ``qrels`` (query_id, doc_id, rel) — graded integer
    relevance, rel > 0 meaning relevant. Both are the standard TREC
    shapes and assumed key-unique per (query_id, doc_id) — a duplicate
    qrels row would double-join its run entry and double-count its
    gain. Metrics:

      DCG@k  = Σ_{rk≤k} (2^rel − 1) / log2(rk + 1)
      NDCG@k = DCG@k / IDCG@k (ideal = qrels by rel desc, doc_id asc)
      MRR    = 1 / (first rank with rel > 0), 0 if none retrieved
      P@k    = |retrieved ∩ relevant| / k        (column ``p_at_k``)
      R@k    = |retrieved ∩ relevant| / |relevant|  (column ``r_at_k``)

    Cross-engine exactness: both DCG folds run LEFT-TO-RIGHT in rank
    order (F.aggregate over the rank-sorted gain list — the list_sum
    pairing emb_whiten_norms pinned); MRR/P/R are single divisions of
    exact int64 counts. NDCG rounds at 6dp. R@k has an UNBOUNDED
    denominator (|relevant| scales with the corpus), so it rounds by
    integer half-up division (stats.ratio_round6 — the half-micro
    class, r13 audit conversion); MRR and P@k keep round(double, 6):
    their denominators are ≤ k ≤ 10, and n/d with d ≤ 10 can never
    land on a half at the 7th decimal (2·10⁶·n/d always keeps a
    factor 2 — d strips at most 2³ from 2⁷·5⁶·n).

    Output contract: RUN-KEYED — one row per query_id present in
    ``run``. A query that appears only in qrels (retrieved nothing)
    emits NO row, so a downstream mean over this output scores the
    retrieved query set, not the full evaluation set (trec_eval's
    default; ``-c`` semantics would emit all-zero rows instead). Callers
    averaging over an evaluation set larger than the run's key set must
    right-join their query list and coalesce the metrics to 0 — the
    gate query's run and qrels derive from the same term-tf frame, so
    the key sets coincide there by construction.

    Scale shape: everything is keyed by query_id — the run is ≤k rows
    per query by construction, qrels shuffle once for the ideal-ranking
    window and once for the relevant-count aggregate; no stage touches
    (query × corpus)."""
    from pyspark.sql import Window

    gain = lambda rel: (F.pow(F.lit(2.0), rel) - 1.0) / F.log2(  # noqa: E731
        F.col("rk").cast("double") + 1.0
    )
    got = (
        run.filter(F.col("rk") <= k)
        .join(qrels, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "rk",
            F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
        )
    )
    per_q = got.groupBy("query_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("rk", gain(F.col("rel")).alias("g")))),
            F.lit(0.0),
            lambda acc, x: acc + x["g"],
        ).alias("dcg"),
        F.sum((F.col("rel") > 0).cast("long")).alias("hits"),
        F.min(F.when(F.col("rel") > 0, F.col("rk"))).alias("first_rel"),
    )
    wi = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "doc_id")
    ideal = (
        qrels.filter(F.col("rel") > 0)
        .withColumn("rk", F.row_number().over(wi).cast("long"))
        .filter(F.col("rk") <= k)
        .groupBy("query_id")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("rk", gain(F.col("rel")).alias("g")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["g"],
            ).alias("idcg")
        )
    )
    n_rel = (
        qrels.filter(F.col("rel") > 0)
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    )
    return (
        per_q.join(ideal, "query_id", "left")
        .join(n_rel, "query_id", "left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("dcg") / F.nullif(F.col("idcg"), F.lit(0.0)), F.lit(0.0)),
                6,
            ).alias("ndcg"),
            F.round(
                F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)), 6
            ).alias("mrr"),
            F.round(F.col("hits") / F.lit(float(k)), 6).alias("p_at_k"),
            F.coalesce(
                stats.ratio_round6(F.col("hits"), F.col("n_rel")), F.lit(0.0)
            ).alias("r_at_k"),
        )
    )


# -- interpolated n-gram LM (held-out perplexity filtering) -------------------

LM_BOS = "<s>"
LM_LAMBDAS = (0.7, 0.2, 0.09, 0.01)


class TrigramLM(NamedTuple):
    """An interpolated trigram LM trained on a reference corpus.

    ``tri``: (u, v, w, p3) — ML trigram conditional c3(u,v,w)/c2h(u,v);
    ``big``: (v, w, p2) — ML bigram conditional c2(v,w)/c1h(v);
    ``uni``: (w, p1) — ML unigram c1(w)/N;
    ``totals``: one row (n_events, v_types) — training event count and
    vocabulary size (distinct tokens), the uniform-floor denominator.

    Probabilities are raw doubles from exact-int64 divisions, so every
    engine that replays the counts reproduces them bit-for-bit; scores
    round to int64 micro-units per EVENT (see lm_score_trigram), never
    accumulating unordered float sums.
    """

    tri: DataFrame
    big: DataFrame
    uni: DataFrame
    totals: DataFrame


def _lm_terms(text: Column) -> Column:
    return F.filter(
        F.split(F.trim(F.lower(text)), r"\s+"), lambda t: t != F.lit("")
    )


def _lm_events(df: DataFrame, text: Column, id_col: Column | None) -> DataFrame:
    """Per-token trigram events with BOS padding: for token i (0-based),
    (u, v, w) = (t[i-2] | <s>, t[i-1] | <s>, t[i]) — every token is
    scored exactly once, so n_events == n_tokens. Documents with no
    tokens contribute no events (perplexity is undefined on them).

    The token array is materialized ONCE per row through an
    ``explode(array(t))`` barrier before the per-element lambda runs:
    without it, Catalyst's projection collapse re-inlines the
    split+filter subtree into each ``element_at(t, ...)`` reference, so
    every token pays O(|doc|) re-tokenizations — O(L²) per document
    (the same collapse trap minhash_signature documents; measured on
    the trigram count at sf10: 244.9 s → 23.0 s, 10.6×). The barrier
    is a second Generate, not an exchange — it stays shuffle-free and
    streaming-safe (a lag()-window form measured marginally faster,
    15.4 s, but costs a corpus shuffle and is illegal on streams)."""
    cols = [id_col.alias("doc_id")] if id_col is not None else []
    base = df.select(
        *cols, F.explode(F.array(_lm_terms(text))).alias("__t")
    )
    t = F.col("__t")
    ev = F.transform(
        t,
        lambda w, i: F.struct(
            F.when(
                i >= F.lit(2),
                F.element_at(t, F.greatest(i - 1, F.lit(1)).cast("int")),
            )
            .otherwise(F.lit(LM_BOS))
            .alias("u"),
            F.when(
                i >= F.lit(1),
                F.element_at(t, F.greatest(i, F.lit(1)).cast("int")),
            )
            .otherwise(F.lit(LM_BOS))
            .alias("v"),
            w.alias("w"),
        ),
    )
    ids = ["doc_id"] if id_col is not None else []
    return base.select(*ids, F.explode(ev).alias("e")).select(
        *ids,
        F.col("e.u").alias("u"),
        F.col("e.v").alias("v"),
        F.col("e.w").alias("w"),
    )


def _require_batch(df: DataFrame, trainer: str, scorer: str) -> None:
    """LM training is multi-pass batch work (the type table is
    localCheckpointed, and every marginal re-reads it); a streaming
    frame would only fail deep in execution with an engine error.
    Raise the descriptive error up front — the supported split is
    train-on-static-reference, score-the-stream (the scorers keep a
    stream-legal join path)."""
    if df.isStreaming:
        raise ValueError(
            f"{trainer} requires a batch DataFrame (model tables are "
            "multi-pass aggregates materialized via localCheckpoint). "
            f"Train on a static reference corpus and score the stream "
            f"with {scorer}."
        )


def lm_train_trigram(df: DataFrame, text: Column) -> TrigramLM:
    """Train the interpolated trigram LM (Jelinek-Mercer mixing of ML
    trigram/bigram/unigram estimates; the smoothing happens at SCORE
    time, so the model is pure counts-derived conditionals).  This is
    the reference-corpus half of CCNet-style perplexity filtering
    (Wenzek et al. 2020): train a cheap LM on a trusted slice, score
    the whole corpus, keep/band by perplexity.

    Plan: ONE corpus-scale explode feeds ONE corpus-scale aggregate
    (the trigram token count); every lower-order table is an EXACT
    integer marginal of it — c2(v,w) = Σ_u c3, c1(w) = Σ_{u,v} c3,
    n_events = Σ c3, and v_types = |distinct w| is a type-level
    distinct — so the bigram/unigram/totals work shuffles the
    model-sized trigram TYPE table, not the corpus (r14; the KN
    trainer already had this shape — value-identical by construction.
    NOTE the measured sf10 win came from pairing this with the
    _lm_events explode barrier: the marginals alone moved nothing
    because each model table independently re-derived the O(L²)
    event build — ReusedExchange count was 0; see _lm_events and
    SCALING r14). Denominators join
    model-side; the totals row is a 1-row aggregate. At 100 TB the
    n-gram tables scale with corpus content, so scoring joins
    co-partition on the n-gram key rather than broadcasting (see
    lm_score_trigram).

    The type table is MATERIALIZED (localCheckpoint) before the
    marginals derive from it (r15): a DataFrame referenced N times is
    recomputed N times within one plan, and tri_c is referenced by
    every model table — the captured before-plan showed 16 parquet
    scans / 32 Generates for the perplexity gate because each
    reference replayed the corpus event build. Materializing the
    model-sized type table makes the corpus explode+count run exactly
    once per training call (measured 7.44 → 5.87 s at sf1.0 on the
    full perplexity path, value-identical)."""
    _require_batch(df, "lm_train_trigram", "lm_score_trigram")
    ev = _lm_events(df, text, None)
    tri_c = (
        ev.groupBy("u", "v", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c3"))
        .localCheckpoint()
    )
    h2 = tri_c.groupBy("u", "v").agg(F.sum("c3").cast("long").alias("ch2"))
    tri = tri_c.join(h2, ["u", "v"]).select(
        "u", "v", "w", (F.col("c3").cast("double") / F.col("ch2")).alias("p3")
    )
    big_c = tri_c.groupBy("v", "w").agg(
        F.sum("c3").cast("long").alias("c2")
    )
    h1 = big_c.groupBy("v").agg(F.sum("c2").cast("long").alias("ch1"))
    big = big_c.join(h1, ["v"]).select(
        "v", "w", (F.col("c2").cast("double") / F.col("ch1")).alias("p2")
    )
    uni_c = tri_c.groupBy("w").agg(F.sum("c3").cast("long").alias("c1"))
    totals = tri_c.agg(
        F.sum("c3").cast("long").alias("n_events"),
        F.count_distinct(F.col("w")).cast("long").alias("v_types"),
    )
    uni = uni_c.crossJoin(F.broadcast(totals)).select(
        "w", (F.col("c1").cast("double") / F.col("n_events")).alias("p1")
    )
    return TrigramLM(tri=tri, big=big, uni=uni, totals=totals)


def lm_score_trigram(
    df: DataFrame,
    text: Column,
    id_col: Column,
    lm: TrigramLM,
    lambdas: tuple[float, float, float, float] = LM_LAMBDAS,
) -> DataFrame:
    """Score documents under the trained LM.  Per event,
    P = λ3·p3 + λ2·p2 + λ1·p1 + λ0·(1/(V+1)) — unseen n-grams
    contribute 0 to their ML term and the uniform floor keeps P > 0
    for fully out-of-vocabulary tokens (the CCNet OOV role).  The
    per-event NLL is rounded to int64 micro-units BEFORE summation, so
    per-document totals are exact integer sums (partition-order-free,
    serially replayable); cross_entropy is the per-token mean at micro
    precision, computed by INTEGER half-up division
    ((2·nll_micro + n) ÷ 2n) rather than round(double, 6) — a document
    whose mean lands exactly on a half-micro boundary (measured at
    sf1.0: nll 42379746 over 12 tokens = 3531645.5 micro) would
    otherwise round differently across engines' double-rounding
    implementations. The division is stats.div_long (pure-long JVM
    IntegralDivide — the same idiom as ratio_round6, exact at ANY
    magnitude; the earlier floor(double) form was exact only while
    2·nll_micro + n stayed under 2⁵³, ADVICE r12).

    Output: (doc_id, n_tokens, nll_micro, cross_entropy).

    Plan (batch, r15): the per-event NLL is a pure function of the
    trigram TYPE (u, v, w) — so the model joins run over the scoring
    corpus's DISTINCT types (model-sized), the per-type NLL is
    computed once, and ONE join attaches it back to the event stream
    (guide §2.3/§2.4: the three corpus-scale model joins and their
    per-event log() collapse to type-scale work plus a single
    corpus join; measured 1.97 → 1.42 s at sf1.0 on the perplexity
    path, value-identical — the int64 micro-rounded NLL makes
    Σ of m copies equal m·nll exactly).

    Plan (streaming): the original shape — three stream-static LEFT
    joins of the event stream against the model tables, co-partitioned
    on their n-gram keys (a distinct over a stream is stateful and the
    type table would make the final attach a stream-stream join, so
    the type-level rewrite is batch-only); the totals row broadcasts;
    the per-doc rollup is one aggregation. Both paths produce
    identical values (pinned batch==stream in test_streaming)."""
    l3, l2, l1, l0 = lambdas
    ev = _lm_events(df, text, id_col)
    p = (
        F.lit(l3) * F.coalesce(F.col("p3"), F.lit(0.0))
        + F.lit(l2) * F.coalesce(F.col("p2"), F.lit(0.0))
        + F.lit(l1) * F.coalesce(F.col("p1"), F.lit(0.0))
        + F.lit(l0) * (F.lit(1.0) / (F.col("v_types") + F.lit(1.0)))
    )
    nll = F.round(-F.log(p) * F.lit(1000000.0)).cast("long")
    if df.isStreaming:
        joined = (
            ev.join(lm.tri, ["u", "v", "w"], "left")
            .join(lm.big, ["v", "w"], "left")
            .join(lm.uni, ["w"], "left")
            .crossJoin(F.broadcast(lm.totals.select("v_types")))
        )
        per_event = joined.select("doc_id", nll.alias("nll"))
    else:
        types = ev.select("u", "v", "w").distinct()
        tnll = (
            types.join(lm.tri, ["u", "v", "w"], "left")
            .join(lm.big, ["v", "w"], "left")
            .join(lm.uni, ["w"], "left")
            .crossJoin(F.broadcast(lm.totals.select("v_types")))
            .select("u", "v", "w", nll.alias("nll"))
        )
        # inner join: types is exactly the distinct (u, v, w) of ev,
        # so every event matches exactly one row — no event gained or
        # lost. SHUFFLE_HASH with the type table as build side: the
        # planner's size estimate for the event stream (scan bytes,
        # blind to the explode fan-out) can fall under the broadcast
        # threshold and it then broadcasts the CORPUS side — measured
        # as a 7M-event BroadcastExchange at sf1.0 whose driver-memory
        # churn tripled the next gate in the same session; the hint
        # pins the scale-correct co-partitioned shape (guide §3.1).
        per_event = ev.join(
            tnll.hint("shuffle_hash"), ["u", "v", "w"]
        ).select("doc_id", "nll")
    return (
        per_event
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("nll").cast("long").alias("nll_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "nll_micro",
            (
                stats.div_long(
                    F.lit(2) * F.col("nll_micro") + F.col("n_tokens"),
                    F.lit(2) * F.col("n_tokens"),
                )
                / F.lit(1000000.0)
            ).alias("cross_entropy"),
        )
    )


# -- interpolated Kneser-Ney trigram LM (the KenLM-fidelity smoother) ---------

KN_DISCOUNT = 0.75  # 3/4: exactly representable in binary — c − D stays exact


class KNTrigramLM(NamedTuple):
    """An interpolated Kneser-Ney trigram LM (Kneser & Ney 1995; the
    smoothing family KenLM implements and CCNet's perplexity filter
    actually ships, where lm_train_trigram is the simpler
    Jelinek-Mercer mix).  Lower orders use CONTINUATION counts (how
    many distinct contexts a gram completes), not raw frequencies —
    the property that stops high-frequency-but-context-bound words
    ("Francisco") from leaking probability into unseen histories.

    Every table cell derives from integer counts and the exact-binary
    discount D = 3/4 through a FIXED expression shape, so both engines
    reproduce each double bit-for-bit (the TrigramLM contract):

    ``tri``: (u, v, w, p3top) — max(c3 − D, 0)/c2h(u,v);
    ``h2``: (u, v, gamma3) — D·N1+(u,v,·)/c2h(u,v), the mass the
    discount releases to the bigram level;
    ``big``: (v, w, p2top) — max(N1+(·,v,w) − D, 0)/N1+(·,v,·) over
    continuation counts;
    ``h1``: (v, gamma2) — D·N1+(v,·)/N1+(·,v,·);
    ``uni``: (w, p1) — N1+(·,w)/N1+(·,·), the continuation unigram;
    ``totals``: one row (n_events, v_types).
    """

    tri: DataFrame
    h2: DataFrame
    big: DataFrame
    h1: DataFrame
    uni: DataFrame
    totals: DataFrame


def lm_train_kn_trigram(df: DataFrame, text: Column) -> KNTrigramLM:
    """Train the interpolated-KN trigram model.

    Plan: ONE corpus-scale explode produces the event stream (shared
    shape with lm_train_trigram); the trigram count is the only
    corpus-scale aggregate — every continuation table derives from the
    TRIGRAM TYPE table (tri_c), which is model-sized (distinct
    trigrams), so the KN extras cost model-side groupBys, not extra
    corpus passes. At 100 TB the n-gram tables co-partition at score
    time exactly like the JM model (they scale with corpus content —
    never broadcast). tri_c is localCheckpointed before the
    continuation tables derive from it — see lm_train_trigram (r15):
    one corpus event build per training call instead of one per
    table reference."""
    _require_batch(df, "lm_train_kn_trigram", "lm_score_kn_trigram")
    d = KN_DISCOUNT
    ev = _lm_events(df, text, None)
    tri_c = (
        ev.groupBy("u", "v", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c3"))
        .localCheckpoint()
    )
    h2c = tri_c.groupBy("u", "v").agg(
        F.sum("c3").cast("long").alias("ch2"),
        F.count(F.lit(1)).cast("long").alias("n1p3"),
    )
    tri = tri_c.join(h2c, ["u", "v"]).select(
        "u", "v", "w",
        (
            F.greatest(F.col("c3").cast("double") - F.lit(d), F.lit(0.0))
            / F.col("ch2")
        ).alias("p3top"),
    )
    h2 = h2c.select(
        "u", "v",
        (F.lit(d) * F.col("n1p3").cast("double") / F.col("ch2")).alias(
            "gamma3"
        ),
    )
    # continuation bigrams: N1+(·,v,w) = distinct u completing (v, w)
    cc2 = tri_c.groupBy("v", "w").agg(
        F.count(F.lit(1)).cast("long").alias("cc2")
    )
    h1c = cc2.groupBy("v").agg(
        F.sum("cc2").cast("long").alias("den2"),
        F.count(F.lit(1)).cast("long").alias("n1p2"),
    )
    big = cc2.join(h1c, ["v"]).select(
        "v", "w",
        (
            F.greatest(F.col("cc2").cast("double") - F.lit(d), F.lit(0.0))
            / F.col("den2")
        ).alias("p2top"),
    )
    h1 = h1c.select(
        "v",
        (F.lit(d) * F.col("n1p2").cast("double") / F.col("den2")).alias(
            "gamma2"
        ),
    )
    cc1 = cc2.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cc1"))
    nbt = cc2.agg(F.count(F.lit(1)).cast("long").alias("n_bigram_types"))
    uni = cc1.crossJoin(F.broadcast(nbt)).select(
        "w",
        (F.col("cc1").cast("double") / F.col("n_bigram_types")).alias("p1"),
    )
    # totals as EXACT integer marginals of the trigram TYPE table — the
    # same derivation discipline as every other model table (r15): the
    # trigram types partition the events, so Σc3 = n_events and
    # distinct w over types = distinct w over events. The previous
    # ev.agg() form re-derived the corpus-scale explode a second time
    # (ReusedExchange cannot fire: an aggregate over the raw event
    # stream shares no exchange with the trigram count).
    totals = tri_c.agg(
        F.sum("c3").cast("long").alias("n_events"),
        F.count_distinct(F.col("w")).cast("long").alias("v_types"),
    )
    return KNTrigramLM(tri=tri, h2=h2, big=big, h1=h1, uni=uni, totals=totals)


def lm_score_kn_trigram(
    df: DataFrame,
    text: Column,
    id_col: Column,
    lm: KNTrigramLM,
    floor_lambda: float = 0.01,
) -> DataFrame:
    """Score documents under the trained KN model.  Per event the
    standard interpolated-KN recursion with explicit backoff at unseen
    histories, evaluated in ONE fixed expression order both engines
    replay bit-for-bit:

      p1f = p1(w)                     (0 for OOV w)
      p2f = seen v:      p2top(v,w) + γ2(v)·p1f        else p1f
      p3f = seen (u,v):  p3top(u,v,w) + γ3(u,v)·p2f    else p2f
      P   = (1−λ)·p3f + λ/(V+1)      (the uniform OOV floor, same
                                      role as the JM gate's λ0)

    The per-event NLL rounds to int64 micro-units before summation;
    cross_entropy is the stats.div_long integer half-up mean (the
    ratio_round6 idiom).  Output (doc_id, n_tokens, nll_micro,
    cross_entropy).

    Plan (batch, r15): the per-event NLL is a pure function of the
    trigram TYPE — the five model joins run over the scoring corpus's
    DISTINCT (u, v, w) types, the backoff recursion and log() evaluate
    once per type, and ONE join attaches the per-type NLL back to the
    event stream (guide §2.3/§2.4; see lm_score_trigram — the same
    rewrite, here saving five corpus-scale joins instead of three).

    Plan (streaming): the original five stream-static LEFT joins,
    co-partitioned on their n-gram keys (type-level scoring is
    batch-only: stream distinct is stateful and the attach would be a
    stream-stream join); the totals row broadcasts; one per-doc
    rollup. Both paths produce identical values (pinned batch==stream
    in test_streaming)."""
    lam = float(floor_lambda)
    ev = _lm_events(df, text, id_col)
    if df.isStreaming:
        joined = (
            ev.join(lm.tri, ["u", "v", "w"], "left")
            .join(lm.h2, ["u", "v"], "left")
            .join(lm.big, ["v", "w"], "left")
            .join(lm.h1, ["v"], "left")
            .join(lm.uni, ["w"], "left")
            .crossJoin(F.broadcast(lm.totals.select("v_types")))
        )
    else:
        joined = (
            ev.select("u", "v", "w").distinct()
            .join(lm.tri, ["u", "v", "w"], "left")
            .join(lm.h2, ["u", "v"], "left")
            .join(lm.big, ["v", "w"], "left")
            .join(lm.h1, ["v"], "left")
            .join(lm.uni, ["w"], "left")
            .crossJoin(F.broadcast(lm.totals.select("v_types")))
        )
    p1f = F.coalesce(F.col("p1"), F.lit(0.0))
    p2f = F.when(
        F.col("gamma2").isNotNull(),
        F.coalesce(F.col("p2top"), F.lit(0.0)) + F.col("gamma2") * p1f,
    ).otherwise(p1f)
    p3f = F.when(
        F.col("gamma3").isNotNull(),
        F.coalesce(F.col("p3top"), F.lit(0.0)) + F.col("gamma3") * p2f,
    ).otherwise(p2f)
    p = (
        F.lit(1.0 - lam) * p3f
        + F.lit(lam) * (F.lit(1.0) / (F.col("v_types") + F.lit(1.0)))
    )
    nll = F.round(-F.log(p) * F.lit(1000000.0)).cast("long")
    if df.isStreaming:
        per_event = joined.select("doc_id", nll.alias("nll"))
    else:
        tnll = joined.select("u", "v", "w", nll.alias("nll"))
        # inner join: the type table is exactly the distinct (u, v, w)
        # of ev — every event matches exactly one row. SHUFFLE_HASH
        # with the type table as build side, for the same reason as
        # lm_score_trigram: the planner's under-estimate of the event
        # stream otherwise broadcasts the CORPUS side.
        per_event = ev.join(
            tnll.hint("shuffle_hash"), ["u", "v", "w"]
        ).select("doc_id", "nll")
    return (
        per_event
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("nll").cast("long").alias("nll_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "nll_micro",
            (
                stats.div_long(
                    F.lit(2) * F.col("nll_micro") + F.col("n_tokens"),
                    F.lit(2) * F.col("n_tokens"),
                )
                / F.lit(1000000.0)
            ).alias("cross_entropy"),
        )
    )


def _mkn_discounts(counts: DataFrame, c: str) -> DataFrame:
    """One-row (d1, d2, d3) modified-KN discount frame from the
    count-of-counts of ``counts[c]`` (Chen & Goodman 1999, eq. 26):

      Y  = n1/(n1 + 2·n2)
      D1 = 1 − 2·Y·n2/n1,  D2 = 2 − 3·Y·n3/n2,  D3+ = 3 − 4·Y·n4/n3

    Every term is a ratio of exact type-count integers in a FIXED
    expression shape (the SQL mirror parses to the identical tree), so
    both engines reproduce the discounts bit-for-bit.  Degenerate
    count-of-counts (n1, n2 or n3 = 0 — corpora too small for the
    estimator) and out-of-range discounts (Dk < 0 — a count-of-count
    profile the estimator's Zipf assumption does not fit) raise at
    execution, exactly where KenLM refuses ("discounts are out of
    range"); callers on such corpora use the fixed-discount
    lm_train_kn_trigram instead.  D1 ∈ [0, 1] always; Dk ≤ k by
    construction, so the range check is only the lower bound."""
    nk = counts.agg(
        F.sum((F.col(c) == 1).cast("long")).alias("n1"),
        F.sum((F.col(c) == 2).cast("long")).alias("n2"),
        F.sum((F.col(c) == 3).cast("long")).alias("n3"),
        F.sum((F.col(c) == 4).cast("long")).alias("n4"),
    )
    y = F.col("n1") / (F.col("n1") + F.lit(2.0) * F.col("n2"))
    guard = (F.col("n1") > 0) & (F.col("n2") > 0) & (F.col("n3") > 0)
    err = F.raise_error(
        F.concat(
            F.lit(
                "modified-KN needs n1,n2,n3 > 0 count-of-counts and "
                "non-negative discounts; corpus does not fit the "
                "estimator — use lm_train_kn_trigram. Got "
            ),
            F.to_json(F.struct("n1", "n2", "n3", "n4")),
        )
    )
    raw = nk.select(
        "n1", "n2", "n3", "n4",
        F.when(
            guard, F.lit(1.0) - F.lit(2.0) * y * F.col("n2") / F.col("n1")
        ).otherwise(err).alias("d1"),
        F.when(
            guard, F.lit(2.0) - F.lit(3.0) * y * F.col("n3") / F.col("n2")
        ).otherwise(err).alias("d2"),
        F.when(
            guard, F.lit(3.0) - F.lit(4.0) * y * F.col("n4") / F.col("n3")
        ).otherwise(err).alias("d3"),
    )
    in_range = (
        (F.col("d1") >= 0) & (F.col("d2") >= 0) & (F.col("d3") >= 0)
    )
    return raw.select(
        *[
            F.when(in_range, F.col(d)).otherwise(err).alias(d)
            for d in ("d1", "d2", "d3")
        ]
    )


def lm_train_mkn_trigram(df: DataFrame, text: Column) -> KNTrigramLM:
    """Train the MODIFIED Kneser-Ney trigram model (Chen & Goodman
    1999 — the smoothing KenLM actually defaults to): instead of one
    fixed discount, each order estimates three count-dependent
    discounts (D1 for singletons, D2 for doubletons, D3+ above) from
    its own count-of-counts, and the released mass per history becomes
    γ(h) = (D1·N1(h) + D2·N2(h) + D3+·N3+(h)) / Σ a(h,·).

    The trigram level discounts raw counts; the bigram level discounts
    CONTINUATION counts with its own discounts; the unigram stays the
    continuation distribution — exactly the lm_train_kn_trigram
    structure, so the returned model is a KNTrigramLM and
    lm_score_kn_trigram scores it UNCHANGED (the backoff recursion is
    identical; only the table contents differ).

    Plan: identical to lm_train_kn_trigram plus two 1-row
    count-of-count aggregates over the model-sized type tables, each
    broadcast back — no new corpus-scale work. tri_c is
    localCheckpointed before the discounts and continuation tables
    derive from it — see lm_train_trigram (r15)."""
    _require_batch(df, "lm_train_mkn_trigram", "lm_score_kn_trigram")
    ev = _lm_events(df, text, None)
    tri_c = (
        ev.groupBy("u", "v", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c3"))
        .localCheckpoint()
    )
    d3lvl = _mkn_discounts(tri_c, "c3")

    def disc(c: Column) -> Column:
        return (
            F.when(c == 1, F.col("d1"))
            .when(c == 2, F.col("d2"))
            .otherwise(F.col("d3"))
        )

    h2c = tri_c.groupBy("u", "v").agg(
        F.sum("c3").cast("long").alias("ch2"),
        F.sum((F.col("c3") == 1).cast("long")).alias("m1"),
        F.sum((F.col("c3") == 2).cast("long")).alias("m2"),
        F.sum((F.col("c3") >= 3).cast("long")).alias("m3"),
    )
    tri = (
        tri_c.join(h2c.select("u", "v", "ch2"), ["u", "v"])
        .crossJoin(F.broadcast(d3lvl))
        .select(
            "u", "v", "w",
            (
                F.greatest(
                    F.col("c3").cast("double") - disc(F.col("c3")), F.lit(0.0)
                )
                / F.col("ch2")
            ).alias("p3top"),
        )
    )
    h2 = h2c.crossJoin(F.broadcast(d3lvl)).select(
        "u", "v",
        (
            (
                F.col("d1") * F.col("m1")
                + F.col("d2") * F.col("m2")
                + F.col("d3") * F.col("m3")
            )
            / F.col("ch2")
        ).alias("gamma3"),
    )
    cc2 = tri_c.groupBy("v", "w").agg(
        F.count(F.lit(1)).cast("long").alias("cc2")
    )
    d2lvl = _mkn_discounts(cc2, "cc2")
    h1c = cc2.groupBy("v").agg(
        F.sum("cc2").cast("long").alias("den2"),
        F.sum((F.col("cc2") == 1).cast("long")).alias("m1"),
        F.sum((F.col("cc2") == 2).cast("long")).alias("m2"),
        F.sum((F.col("cc2") >= 3).cast("long")).alias("m3"),
    )
    big = (
        cc2.join(h1c.select("v", "den2"), ["v"])
        .crossJoin(F.broadcast(d2lvl))
        .select(
            "v", "w",
            (
                F.greatest(
                    F.col("cc2").cast("double") - disc(F.col("cc2")),
                    F.lit(0.0),
                )
                / F.col("den2")
            ).alias("p2top"),
        )
    )
    h1 = h1c.crossJoin(F.broadcast(d2lvl)).select(
        "v",
        (
            (
                F.col("d1") * F.col("m1")
                + F.col("d2") * F.col("m2")
                + F.col("d3") * F.col("m3")
            )
            / F.col("den2")
        ).alias("gamma2"),
    )
    cc1 = cc2.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cc1"))
    nbt = cc2.agg(F.count(F.lit(1)).cast("long").alias("n_bigram_types"))
    uni = cc1.crossJoin(F.broadcast(nbt)).select(
        "w",
        (F.col("cc1").cast("double") / F.col("n_bigram_types")).alias("p1"),
    )
    # totals as EXACT integer marginals of the trigram TYPE table — the
    # same derivation discipline as every other model table (r15): the
    # trigram types partition the events, so Σc3 = n_events and
    # distinct w over types = distinct w over events. The previous
    # ev.agg() form re-derived the corpus-scale explode a second time
    # (ReusedExchange cannot fire: an aggregate over the raw event
    # stream shares no exchange with the trigram count).
    totals = tri_c.agg(
        F.sum("c3").cast("long").alias("n_events"),
        F.count_distinct(F.col("w")).cast("long").alias("v_types"),
    )
    return KNTrigramLM(tri=tri, h2=h2, big=big, h1=h1, uni=uni, totals=totals)
