"""Registry section: LLM-data-pipeline operators (text analysis, dedup,
similarity search, multimodal) — first-class components per the north star
(BASELINE.json), each with a DuckDB oracle where SQL-expressible.

Oracle-portability rules used throughout: md5-derived hashing only (no
engine-private hash functions), double-cast vector math with sequential
summation (bit-identical across engines), DuckDB regexp_replace needs the
explicit 'g' flag to match Spark's replace-all behavior.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from semantic_cpp_spark.indexing import one_window
from semantic_cpp_spark.pipeline import (
    blocklist,
    classify,
    dedup,
    multimodal,
    similarity,
    text,
    unigram,
)
from semantic_cpp_spark.registry import register
from semantic_cpp_spark.session import load_table

# -- text analysis ----------------------------------------------------------

@register(
    "txt_token_stats",
    """WITH t AS (SELECT doc_id, length(text) AS n_chars,
                         regexp_split_to_array(trim(text), '\\s+') AS ws
                  FROM documents),
       s AS (SELECT doc_id, n_chars, length(ws)::BIGINT AS n_tokens,
                    list_sum(list_transform(ws, w -> length(w)))::BIGINT
                      AS sum_len
             FROM t)
       SELECT doc_id, n_tokens,
              (2000000::BIGINT * sum_len + n_tokens)
                // (2 * n_tokens) / 1000000.0 AS avg_tok_len,
              n_chars
       FROM s""",
)
def txt_token_stats(spark, sf_dir):
    """Token counting (whitespace tokenisation) — pure codegen, no UDF.
    avg_tok_len is the exact int/int ratio Σ|token| / n_tokens, so it
    rounds by integer half-up division (stats.ratio_round6 / the `//`
    mirror) rather than round(double, 6) — the engine-divergent
    half-micro class, r13 audit conversion."""
    from semantic_cpp_spark.functions.stats import ratio_round6

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    ws = text.tokens(t)
    sum_len = F.aggregate(
        F.transform(ws, lambda w: F.length(w)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return docs.select(
        "doc_id",
        text.token_count(t).alias("n_tokens"),
        ratio_round6(sum_len, text.token_count(t)).alias("avg_tok_len"),
        F.length(t).cast("long").alias("n_chars"),
    )


@register(
    "txt_quality_score",
    """WITH t AS (
         SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS ws
         FROM documents)
       SELECT doc_id,
              round(length(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','it')))::DOUBLE
                    / length(ws), 6) AS stop_ratio,
              round(length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
                    / length(text), 6) AS alpha_ratio,
              round(0.4 * (length(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','it')))::DOUBLE / length(ws))
                    + 0.3 * least(length(ws) / 100.0, 1.0)
                    + 0.3 * (length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / length(text)), 6) AS quality
       FROM t""",
)
def txt_quality(spark, sf_dir):
    """Quality scoring: stopword/length/alpha ratios — the cheap
    pretraining-corpus filter, one narrow pass."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.round(text.stopword_ratio(t), 6).alias("stop_ratio"),
        F.round(text.alpha_ratio(t), 6).alias("alpha_ratio"),
        F.round(text.quality_score(t), 6).alias("quality"),
    )


_LANG_CASE = text.lang_id_sql_case("text")

@register(
    "txt_lang_id",
    f"""SELECT doc_id, {_LANG_CASE} AS pred_lang, lang AS actual_lang
        FROM documents""",
)
def txt_lang_id(spark, sf_dir):
    """Language-ID heuristic: marker-vocabulary scoring with deterministic
    argmax (the fixture's texts are synthetic so this pins the MECHANISM;
    real corpora would swap in per-language n-gram tables)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.lang_id(F.col("text")).alias("pred_lang"),
        F.col("lang").alias("actual_lang"),
    )


@register(
    "txt_fingerprint",
    """SELECT doc_id,
              md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
              ('0x' || substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 15))::BIGINT AS fp64
       FROM documents""",
)
def txt_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 of normalised text + 60-bit integer
    form (engine-portable; see pipeline.text.fingerprint)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text.fingerprint(t).alias("fp"),
        text.fingerprint64(t).alias("fp64"),
    )


# -- deduplication ----------------------------------------------------------

@register(
    "dedup_exact",
    """SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
              min(doc_id) AS keep_id, count(*) AS n_dups
       FROM documents GROUP BY 1""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: one hash-groupBy on the text fingerprint, keep the
    smallest doc_id — the 100 TB shape (shuffle carries 32-byte keys)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, F.col("text"), F.col("doc_id"))


_SHINGLES_CTE = """
sh AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3
              THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                  for i in range(1, len(ws) - 1)])
              ELSE [] END AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents)
)"""


@register(
    "dedup_ngram_jaccard",
    f"""WITH {_SHINGLES_CTE},
    ex0 AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS s
            FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
    dfq AS (SELECT s, count(*) AS dfc FROM ex0 GROUP BY s),
    ex AS (SELECT e.doc_id, e.s FROM ex0 e JOIN dfq USING (s) WHERE dfc <= 100),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT d1, d2,
           (2000000::BIGINT * common + (sa.n_sh + sb.n_sh - common))
             // (2 * (sa.n_sh + sb.n_sh - common)) / 1000000.0 AS jaccard
    FROM pairs JOIN sz sa ON sa.doc_id = d1 JOIN sz sb ON sb.doc_id = d2
    WHERE common::DOUBLE / (sa.n_sh + sb.n_sh - common) >= 0.8""",
)
def dedup_ngram(spark, sf_dir):
    """Near-dup pairs by 3-gram Jaccard ≥ 0.8 over shingles with document
    frequency ≤ 100 (the df-cap keeps the shingle self-join near-linear —
    a hot shingle in f docs would contribute f² pairs; near-dups still
    meet via their rare shingles)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, F.col("text"), F.col("doc_id"))


def _minhash_sql() -> str:
    mins = ", ".join(
        f"list_min(list_transform(shingles, s -> ({a} * (('0x' || substr(md5(s),1,8))::BIGINT) + {b}) % {dedup.MINHASH_P}))"
        for a, b in zip(dedup.MINHASH_A, dedup.MINHASH_B)
    )
    r, nb = dedup.LSH_ROWS, dedup.LSH_BANDS
    return f"""WITH {_SHINGLES_CTE},
    sigs AS (SELECT doc_id, [{mins}] AS sig FROM sh WHERE len(shingles) > 0),
    bands AS (
      SELECT doc_id, t.band,
             array_to_string(sig[t.band * {r} + 1 : t.band * {r} + {r}], '_') AS key
      FROM sigs, (SELECT unnest(range(0, {nb})) AS band) t),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT c.d1, c.d2,
           round(length(list_filter(range(1, {dedup.NUM_HASHES} + 1),
                                    i -> sa.sig[i] = sb.sig[i]))::DOUBLE
                 / {dedup.NUM_HASHES}, 6) AS est_jaccard
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.d1
    JOIN sigs sb ON sb.doc_id = c.d2
    WHERE length(list_filter(range(1, {dedup.NUM_HASHES} + 1),
                             i -> sa.sig[i] = sb.sig[i]))::DOUBLE
          / {dedup.NUM_HASHES} >= 0.5"""


@register("dedup_minhash_lsh", _minhash_sql())
def dedup_minhash(spark, sf_dir):
    """MinHash(16)+LSH(4×4) near-dup pairs, est. Jaccard ≥ 0.5. Banding
    means docs meet only on full-band collisions — the scalable join."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, F.col("text"), F.col("doc_id"))


_SIMHASH_CTE = f"""tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents),
    th AS (SELECT doc_id, ('0x' || substr(md5(w),1,15))::BIGINT AS h FROM tok),
    votes AS (
      SELECT doc_id, b.b,
             sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th, (SELECT unnest(range(0, {dedup.SIMHASH_BITS})) AS b) b
      GROUP BY doc_id, b.b),
    sig AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
      FROM votes GROUP BY doc_id)"""


@register(
    "dedup_simhash_family",
    # The pair oracle is deliberately ALL-PAIRS xor/bit_count — a stronger
    # check than mirroring the Spark side's pigeonhole blocking, because it
    # also proves the blocking is lossless (every Hamming≤3 pair is found).
    f"""WITH {_SIMHASH_CTE}
    SELECT 'sig' AS aspect, doc_id AS id1, CAST(NULL AS BIGINT) AS id2,
           simhash AS val
    FROM sig
    UNION ALL
    SELECT 'pair' AS aspect, a.doc_id AS id1, b.doc_id AS id2,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS val
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",
)
def dedup_simhash_family(spark, sf_dir):
    """BOTH aspects of the SimHash operator under ONE gate (r13 gate
    consolidation — one driver row now re-verifies signatures AND the
    blocked near-pair join, reclaiming a rotation slot with no value
    coverage lost: every member row survives verbatim in the tagged
    union). aspect='sig' → (id1=doc_id, val=simhash);
    aspect='pair' → (id1, id2, val=hamming), Hamming ≤ 3 via pigeonhole
    chunk blocking. The signature table computes ONCE (localCheckpoint,
    r15 — the sig aspect and both pair-join sides referenced it, so the
    vote aggregate ran three times as lazy lineage) and feeds both
    branches."""
    docs = load_table(spark, sf_dir, "documents")
    sigs0 = dedup.simhash(
        docs, F.col("text"), F.col("doc_id")
    ).localCheckpoint()
    sig = sigs0.select(
        F.lit("sig").alias("aspect"),
        F.col("doc_id").alias("id1"),
        F.lit(None).cast("long").alias("id2"),
        F.col("simhash").alias("val"),
    )
    pairs = dedup.simhash_near_pairs(
        docs, F.col("text"), F.col("doc_id"), sigs=sigs0
    ).select(
        F.lit("pair").alias("aspect"),
        F.col("d1").alias("id1"),
        F.col("d2").alias("id2"),
        F.col("hamming").alias("val"),
    )
    return sig.unionByName(pairs)


# -- similarity search ------------------------------------------------------


def _sql_cos(a: str, b: str) -> str:
    """Zero-norm-guarded cosine for the DuckDB oracles, mirroring
    similarity.safe_cos: NULL (explicitly sorted last) when either vector
    has zero norm. Without the guard DuckDB's IEEE division yields NaN,
    which its total order ranks ABOVE every value under ORDER BY cos DESC
    — the oracle would prefer the degenerate vector exactly in the case
    the Spark-side guard exists for (ADVICE r5)."""
    den = f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    return (
        f"CASE WHEN {den} = 0 THEN NULL "
        f"ELSE list_dot_product({a}, {b}) / {den} END"
    )


_COS_SQL = f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
s AS (SELECT q.q_id, e.vec_id,
             {_sql_cos('e.v', 'q.qv')} AS cos
      FROM e, q WHERE e.vec_id <> q.q_id),
r AS (SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC NULLS LAST, vec_id) AS rk
      FROM s)
SELECT q_id, rk, vec_id, round(cos, 6) AS cos FROM r WHERE rk <= 5"""


@register("sim_cosine_topk", _COS_SQL)
def sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors {0,1,2}: broadcast
    queries × corpus scan, per-query top-k window — the exact baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, [0, 1, 2], k=5)


def _lsh_sql() -> str:
    planes = similarity.lsh_plane_sql_literal(64)
    return f"""WITH planes AS (SELECT {planes} AS pl),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    proj AS (
      SELECT e.vec_id, p.p, list_dot_product(e.v, planes.pl[p.p + 1]) AS d
      FROM e, (SELECT unnest(range(0, {similarity.LSH_PLANES})) AS p) p, planes),
    sigs AS (
      SELECT vec_id, sum(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END) AS sig
      FROM proj GROUP BY vec_id),
    ev AS (SELECT e.vec_id, e.v, s.sig FROM e JOIN sigs s ON e.vec_id = s.vec_id),
    q AS (SELECT vec_id AS q_id, v AS qv, sig AS qsig FROM ev WHERE vec_id IN (0, 1, 2)),
    sc AS (SELECT q.q_id, ev.vec_id,
                  {_sql_cos('ev.v', 'q.qv')} AS cos
           FROM ev JOIN q ON ev.sig = q.qsig AND ev.vec_id <> q.q_id),
    r AS (SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC NULLS LAST, vec_id) AS rk
          FROM sc)
    SELECT q_id, rk, vec_id, round(cos, 6) AS cos FROM r WHERE rk <= 5"""


@register(
    "sim_quantized_topk",
    f"""WITH e AS (SELECT vec_id,
                         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings),
    m AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
    q AS (SELECT vec_id, v,
                 CASE WHEN mx = 0
                      THEN list_transform(v, x -> 0.0)
                      ELSE list_transform(v, x -> round(x * 127.0 / mx, 0))
                 END AS qv
          FROM m),
    qs AS (SELECT vec_id AS q_id, v AS qv_full, qv AS qq FROM q
           WHERE vec_id IN (0, 1, 2)),
    sc AS (SELECT qs.q_id, q.vec_id, q.v, qs.qv_full,
                  {_sql_cos('q.qv', 'qs.qq')} AS approx_cos
           FROM q CROSS JOIN qs WHERE q.vec_id <> qs.q_id),
    r AS (SELECT *, row_number() OVER (
                      PARTITION BY q_id
                      ORDER BY approx_cos DESC NULLS LAST, vec_id) AS rk
          FROM sc)
    SELECT q_id, rk, vec_id, round(approx_cos, 6) AS approx_cos,
           round({_sql_cos('v', 'qv_full')}, 6) AS cos
    FROM r WHERE rk <= 5""",
)
def sim_quantized_topk(spark, sf_dir):
    """INT8-quantized ANN with exact rescore (similarity.quantized_topk):
    candidates ranked by quantized cosine (per-vector symmetric q127
    scale cancels in cosine; integer dots are engine-exact), top-5
    rescored at full precision — the 4×-memory-reduction scan path for
    embedding corpora that exceed executor memory at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.quantized_topk(emb, [0, 1, 2], k=5)


def _lsh_banded_sql(planes: int = 16, band_bits: int = 4) -> str:
    planes_lit = similarity.lsh_plane_sql_literal(64, planes)
    return f"""WITH planes AS (SELECT {planes_lit} AS pl),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    proj AS (
      SELECT e.vec_id, p.p, list_dot_product(e.v, planes.pl[p.p + 1]) AS d
      FROM e, (SELECT unnest(range(0, {planes})) AS p) p, planes),
    bands AS (
      SELECT vec_id, p // {band_bits} AS b,
             ((p // {band_bits}) * {1 << band_bits}
              + sum(CASE WHEN d > 0 THEN (1::BIGINT << (p % {band_bits})) ELSE 0 END)
             )::BIGINT AS bkey
      FROM proj GROUP BY vec_id, b),
    qb AS (SELECT vec_id AS q_id, bkey FROM bands WHERE vec_id IN (0, 1, 2)),
    cand AS (SELECT DISTINCT q.q_id, b.vec_id
             FROM bands b JOIN qb q ON b.bkey = q.bkey AND b.vec_id <> q.q_id),
    sc AS (SELECT c.q_id, c.vec_id,
                  {_sql_cos('ev.v', 'eq.v')} AS cos
           FROM cand c
           JOIN e ev ON ev.vec_id = c.vec_id
           JOIN e eq ON eq.vec_id = c.q_id),
    r AS (SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC NULLS LAST, vec_id) AS rk
          FROM sc)
    SELECT q_id, rk, vec_id, round(cos, 6) AS cos FROM r WHERE rk <= 5"""


@register("sim_lsh_banded_topk", _lsh_banded_sql())
def sim_lsh_banded_topk(spark, sf_dir):
    """Banded (OR-of-ANDs) LSH top-5 for queries {0,1,2}: 16 sign bits in
    4 bands of 4 — candidates share ANY band, exact cosine on the
    deduplicated candidate set (similarity.lsh_banded_topk). The
    wide-signature scale path derived_lsh_planes points to beyond its
    24-plane single-key clamp."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_banded_topk(
        emb, [0, 1, 2], k=5, dims=64, planes=16, band_bits=4
    )


@register("sim_lsh_bucket_topk", _lsh_sql())
def sim_lsh_topk(spark, sf_dir):
    """Approximate top-5 via random-hyperplane LSH buckets (8 sign bits,
    md5-derived planes): candidates restricted to the query's bucket —
    the scale path when the query set is itself huge."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_bucket_topk(
        emb, [0, 1, 2], k=5, dims=64, planes=similarity.LSH_PLANES
    )


def _lsh_multiprobe_sql(planes: int = 8) -> str:
    planes_lit = similarity.lsh_plane_sql_literal(64, planes)
    return f"""WITH planes AS (SELECT {planes_lit} AS pl),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    proj AS (
      SELECT e.vec_id, p.p, list_dot_product(e.v, planes.pl[p.p + 1]) AS d
      FROM e, (SELECT unnest(range(0, {planes})) AS p) p, planes),
    sigs AS (
      SELECT vec_id, sum(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END) AS sig
      FROM proj GROUP BY vec_id),
    ev AS (SELECT e.vec_id, e.v, s.sig FROM e JOIN sigs s ON e.vec_id = s.vec_id),
    q AS (SELECT vec_id AS q_id, v AS qv, sig AS qsig FROM ev
          WHERE vec_id IN (0, 1, 2)),
    qp AS (SELECT q_id, qv,
                  CASE WHEN f.f = 0 THEN qsig
                       ELSE xor(qsig, (1::BIGINT << (f.f - 1))) END AS probe
           FROM q, (SELECT unnest(range(0, {planes + 1})) AS f) f),
    sc AS (SELECT qp.q_id, ev.vec_id,
                  {_sql_cos('ev.v', 'qp.qv')} AS cos
           FROM ev JOIN qp ON ev.sig = qp.probe AND ev.vec_id <> qp.q_id),
    r AS (SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC NULLS LAST, vec_id) AS rk
          FROM sc)
    SELECT q_id, rk, vec_id, round(cos, 6) AS cos FROM r WHERE rk <= 5"""


@register("sim_lsh_multiprobe_topk", _lsh_multiprobe_sql(8))
def sim_lsh_multiprobe_topk(spark, sf_dir):
    """Multi-probe LSH top-5 (similarity.lsh_multiprobe_topk): queries
    probe their own 8-plane bucket plus all Hamming-1 neighbors (9 probe
    keys). Measured recall repair for single-table LSH (SCALING.md r6
    table: 0.044 → see multiprobe row) at a bounded extra scan — the
    corpus computes ONE signature and shuffles once; only the broadcast
    query side fans out."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_multiprobe_topk(emb, [0, 1, 2], k=5, dims=64, planes=8)


@register("sim_ann_router_bucket", _lsh_sql())
def sim_ann_router_bucket(spark, sf_dir):
    """ann_topk ROUTER exercised end-to-end on its single-key side:
    n_override=1024 derives raw_planes=log2(1024/64)=4 ≤ the 24-plane
    banding threshold, so the router must emit exactly the
    lsh_bucket_topk(planes=4) plan — pinned by the same bucket oracle
    (similarity.ann_topk, similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_topk(emb, [0, 1, 2], k=5, dims=64, n_override=1024)


@register("sim_ann_router_banded", _lsh_banded_sql(32, 8))
def sim_ann_router_banded(spark, sf_dir):
    """ann_topk ROUTER exercised on its banded side: n_override=2^31
    derives raw_planes=log2(2^31/64)=25 > the 24-plane threshold, so the
    router rounds up to 32 planes in 8-bit bands and must emit the
    lsh_banded_topk(planes=32, band_bits=8) plan — pinned by the banded
    oracle at the SAME width, proving the routing decision itself (not
    just the endpoints) under the driver gate (VERDICT r5 gap #2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_topk(
        emb, [0, 1, 2], k=5, dims=64, n_override=1 << 31
    )


# -- multimodal plumbing ----------------------------------------------------

@register(
    "mm_png_features",
    """WITH sz AS (SELECT doc_id,
                          (8 + doc_id % 9)::INT AS w,
                          (8 + (doc_id // 9) % 9)::INT AS h
                   FROM documents),
    px AS (SELECT doc_id, w, h, (doc_id * 31 + r.range) % 256 AS v
           FROM sz CROSS JOIN range(0, 768) r
           WHERE r.range < w * h * 3)
    SELECT doc_id, w AS width, h AS height,
           round(sum(v) / (w * h * 3) / 255.0, 9) AS feat_mean,
           TRUE AS decoded
    FROM px GROUP BY doc_id, w, h""",
)
def mm_png_features(spark, sf_dir):
    """Multimodal features through the REAL stdlib PNG decode path: each
    doc gets a true PNG container (IHDR/IDAT/IEND, DEFLATE raster —
    multimodal.render_png) holding the same closed-form pixels as the PPM
    fixture, the kernel inflates + unfilters it with stdlib zlib
    (multimodal._decode_png), and the oracle recomputes width/height/
    raster-mean from the closed form. PNG is the one compressed image
    format decodable without codec libraries — DEFLATE + scanline
    filters; n_bytes is excluded (compressed size is
    container-dependent, not SQL-expressible)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_png_payload(docs)
    feats = multimodal.extract_features(payload)
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round("feat_mean", 9).alias("feat_mean"),
        "decoded",
    )

_MM_TIFF_SQL = """WITH sz AS (SELECT doc_id,
                          (8 + doc_id % 9)::INT AS w,
                          (8 + (doc_id // 9) % 9)::INT AS h
                   FROM documents),
    px AS (SELECT doc_id, w, h, (doc_id * 31 + r.range) % 256 AS v
           FROM sz CROSS JOIN range(0, 768) r
           WHERE r.range < w * h * 3)
    SELECT doc_id,
           (140 + 8 * ((h + 3) // 4) + w * h * 3)::BIGINT AS n_bytes,
           w AS width, h AS height,
           round(sum(v) / (w * h * 3) / 255.0, 9) AS feat_mean,
           TRUE AS decoded
    FROM px GROUP BY doc_id, w, h"""


def mm_tiff_features(spark, sf_dir):
    """Multimodal features through the REAL stdlib TIFF decode path: each
    doc gets a true classic-TIFF container (header + 10-entry IFD +
    RowsPerStrip=4 strip layout — multimodal.render_tiff) holding the
    same closed-form pixels as the PPM fixture; byte order ALTERNATES by
    doc parity so one gate run covers both II and MM branches of the IFD
    parser (multimodal._decode_tiff). Uncompressed TIFF's container size
    is itself a closed form — 140 + 8·ceil(h/4) + w·h·3 — so unlike
    PNG/GIF the oracle pins n_bytes too, value-checking the WRITER's
    layout arithmetic alongside the reader."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_tiff_payload(docs)
    feats = multimodal.extract_features(payload)
    return feats.select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        F.round("feat_mean", 9).alias("feat_mean"),
        "decoded",
    )


@register(
    "mm_feature_extract",
    """WITH sz AS (SELECT doc_id,
                          (8 + doc_id % 9)::INT AS w,
                          (8 + (doc_id // 9) % 9)::INT AS h
                   FROM documents),
    px AS (SELECT doc_id, w, h, (doc_id * 31 + r.range) % 256 AS v
           FROM sz CROSS JOIN range(0, 768) r
           WHERE r.range < w * h * 3)
    SELECT doc_id,
           (9 + length(w::VARCHAR) + length(h::VARCHAR) + w * h * 3)::BIGINT
             AS n_bytes,
           w AS width, h AS height,
           round(sum(v) / (w * h * 3) / 255.0, 9) AS feat_mean,
           TRUE AS decoded
    FROM px GROUP BY doc_id, w, h""",
)
def mm_features(spark, sf_dir):
    """Multimodal feature extraction through the REAL stdlib decode path:
    each doc gets a rendered P6 PPM payload (size and pixels a closed
    form of doc_id — multimodal.render_ppm), the mapInPandas kernel
    parses the actual header + raster (multimodal.decode_image), and the
    DuckDB oracle recomputes width/height/n_bytes/raster-mean from the
    same closed form — a hard value check on genuine image decoding, not
    the fake-feature stub (which remains, clearly marked, for formats
    needing codecs this container lacks)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_ppm_payload(docs)
    feats = multimodal.extract_features(payload)
    return feats.select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        F.round("feat_mean", 9).alias("feat_mean"),
        "decoded",
    )


@register(
    "mm_compressed_text",
    """SELECT doc_id,
              CASE doc_id % 4 WHEN 0 THEN 'gzip' WHEN 1 THEN 'zlib'
                              WHEN 2 THEN 'bz2' ELSE 'xz' END AS codec,
              length(text)::BIGINT AS n_chars,
              len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens,
              TRUE AS decoded
       FROM documents""",
)
def mm_compressed_text(spark, sf_dir):
    """Compressed text-blob ingest — the 100 TB bulk reality (gzipped
    JSONL shards, WET dumps): each doc's text is REALLY compressed with a
    per-doc codec (gzip/zlib/bz2/xz round-robin — all stdlib), the
    mapInPandas kernel magic-dispatches and REALLY decompresses
    (multimodal.decode_text_blob), and the oracle recomputes the codec
    tag + char/token counts from the original column. Compressed size is
    container-dependent and excluded. Corrupt streams quarantine
    (decoded=false, NULL stats) — pinned in tests."""
    docs = load_table(spark, sf_dir, "documents")
    blobs = multimodal.attach_compressed_payload(docs)
    feats = multimodal.extract_text_blob_features(blobs)
    return feats.select("doc_id", "codec", "n_chars", "n_tokens", "decoded")


def _near_dup_sql(threshold: float = 0.4) -> str:
    planes = similarity.lsh_plane_sql_literal(64)
    return f"""WITH planes AS (SELECT {planes} AS pl),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    proj AS (
      SELECT e.vec_id, p.p, list_dot_product(e.v, planes.pl[p.p + 1]) AS d
      FROM e, (SELECT unnest(range(0, {similarity.LSH_PLANES})) AS p) p, planes),
    sigs AS (
      SELECT vec_id, sum(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END) AS sig
      FROM proj GROUP BY vec_id),
    ev AS (SELECT e.vec_id, e.v, s.sig FROM e JOIN sigs s ON e.vec_id = s.vec_id),
    pairs AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2,
             {_sql_cos('a.v', 'b.v')} AS cos
      FROM ev a JOIN ev b ON a.sig = b.sig AND a.vec_id < b.vec_id)
    SELECT d1, d2, round(cos, 6) AS cos FROM pairs WHERE cos >= {threshold}"""


@register("sim_embedding_near_dup", _near_dup_sql())
def sim_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: LSH sign-bucket blocking (never
    all-pairs) + exact cosine verify. Threshold 0.4 on this fixture (no
    planted vector dups; the mechanism is the parity surface)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(
        emb, threshold=0.4, dims=64, planes=similarity.LSH_PLANES
    )


_IVF_SQL = f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < {similarity.IVF_K}),
scored AS (
  SELECT e.vec_id, e.v, c.c_id,
         {_sql_cos('e.v', 'c.cv')} AS ccos
  FROM e, c),
assigned AS (
  SELECT vec_id, v, c_id AS centroid_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC NULLS LAST, c_id) AS r
        FROM scored)
  WHERE r = 1),
q AS (SELECT vec_id AS q_id, v AS qv, centroid_id AS q_cent
      FROM assigned WHERE vec_id IN (0, 1, 2)),
sc AS (SELECT q.q_id, a.vec_id,
              {_sql_cos('a.v', 'q.qv')} AS cos
       FROM assigned a JOIN q
         ON a.centroid_id = q.q_cent AND a.vec_id <> q.q_id),
r AS (SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC NULLS LAST, vec_id) AS rk
      FROM sc)
SELECT q_id, rk, vec_id, round(cos, 6) AS cos FROM r WHERE rk <= 5"""


@register("sim_ivf_topk", _IVF_SQL)
def sim_ivf_topk(spark, sf_dir):
    """IVF approximate top-5 (nprobe=1): deterministic coarse quantizer
    (first-K vectors as centroids), inverted lists partition the corpus,
    queries scan only their centroid's list — the index-style scale path."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, [0, 1, 2], k=5, dims=64, n_centroids=similarity.IVF_K
    )


@register(
    "txt_gopher_rules",
    """WITH t AS (
         SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
         FROM documents),
       g AS (
         SELECT doc_id, ws,
                length(ws)::BIGINT AS n_words,
                list_sum(list_transform(ws, w -> length(w)))::DOUBLE
                  / length(ws) AS mean_wl,
                length(list_filter(ws, w -> regexp_matches(w, '[a-z]')))::DOUBLE
                  / length(ws) AS alpha_r,
                length(list_intersect(list_distinct(ws),
                       ['the','a','of','and','to','in','is','it']))::BIGINT
                  AS stop_hits,
                list_transform(range(1, length(ws)), i ->
                  array_to_string(list_slice(ws, i, i + 1), ' ')) AS g2,
                list_transform(range(1, length(ws) - 1), i ->
                  array_to_string(list_slice(ws, i, i + 2), ' ')) AS g3
         FROM t),
       d AS (
         SELECT doc_id, n_words, mean_wl, alpha_r, stop_hits,
                CASE WHEN length(g2) = 0 THEN 0.0
                     ELSE 1.0 - length(list_distinct(g2))::DOUBLE / length(g2)
                END AS dup2,
                CASE WHEN length(g3) = 0 THEN 0.0
                     ELSE 1.0 - length(list_distinct(g3))::DOUBLE / length(g3)
                END AS dup3
         FROM g)
       SELECT doc_id, n_words,
              round(mean_wl, 6) AS mean_word_len,
              round(alpha_r, 6) AS alpha_word_ratio,
              stop_hits AS n_stop_distinct,
              round(dup2, 6) AS dup_2gram_frac,
              round(dup3, 6) AS dup_3gram_frac,
              (n_words BETWEEN 50 AND 100000
               AND mean_wl BETWEEN 3.0 AND 10.0
               AND alpha_r >= 0.8 AND stop_hits >= 2
               AND dup2 <= 0.8 AND dup3 <= 0.6) AS keep
       FROM d""",
)
def txt_gopher_rules(spark, sf_dir):
    """Gopher-style quality-rule battery: word-count bounds, mean word
    length, alpha-word ratio, distinct-stopword evidence, duplicate
    2/3-gram fractions, and the composite keep/drop decision — the
    standard cheap filter pass before expensive dedup/scoring. Pure
    Column expressions, zero shuffle, scales as a narrow map; the token
    array rides ONE materialize_tokens barrier shared by every signal
    (the O(L²) collapse guard — and the keep decision reuses the same
    unrounded battery instead of re-deriving it)."""
    docs = load_table(spark, sf_dir, "documents")
    base = text.materialize_tokens(
        docs,
        text.tokens(F.lower(F.col("text"))),
        {"doc_id": F.col("doc_id")},
    )
    s = text.gopher_signals_t(F.col("__toks"))
    return base.select(
        "doc_id",
        s["n_words"].alias("n_words"),
        F.round(s["mean_word_len"], 6).alias("mean_word_len"),
        F.round(s["alpha_word_ratio"], 6).alias("alpha_word_ratio"),
        s["n_stop_distinct"].alias("n_stop_distinct"),
        F.round(s["dup_2gram_frac"], 6).alias("dup_2gram_frac"),
        F.round(s["dup_3gram_frac"], 6).alias("dup_3gram_frac"),
        text.gopher_keep_signals(s).alias("keep"),
    )


@register(
    "txt_bpe_token_count",
    """SELECT doc_id,
              length(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_ws_tokens,
              len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT
                AS n_bpe_tokens,
              round(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::DOUBLE
                    / length(regexp_split_to_array(trim(text), '\\s+')), 6)
                AS bpe_per_word
       FROM documents""",
)
def txt_bpe_token_count(spark, sf_dir):
    """Token counting, sub-word flavor: whitespace words vs BPE-ish regex
    tokens (letter runs / digit runs / single punctuation — the GPT-2
    pre-tokeniser shape without lookahead so Java regex and RE2 agree).
    The tokens-per-word ratio is the cheap proxy for tokenizer cost per
    document. Pure codegen, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text.token_count(t).alias("n_ws_tokens"),
        text.bpe_token_count(t).alias("n_bpe_tokens"),
        F.round(
            text.bpe_token_count(t).cast("double") / text.token_count(t), 6
        ).alias("bpe_per_word"),
    )


@register(
    "mm_resize_features",
    """WITH sz AS (SELECT doc_id,
                          (8 + doc_id % 9) AS w,
                          (8 + (doc_id // 9) % 9) AS h
                   FROM documents),
    grid AS (SELECT y.range AS y, x.range AS x, c.range AS c
             FROM range(0, 4) y, range(0, 4) x, range(0, 3) c),
    px AS (SELECT s.doc_id,
                  (s.doc_id * 31
                   + (((g.y * s.h) // 4) * s.w + ((g.x * s.w) // 4)) * 3
                   + g.c) % 256 AS v
           FROM sz s CROSS JOIN grid g)
    SELECT doc_id,
           59::BIGINT AS n_bytes,
           4::INT AS width, 4::INT AS height,
           round(sum(v) / 48 / 255.0, 9) AS feat_mean
    FROM px GROUP BY doc_id""",
)
def mm_resize_features(spark, sf_dir):
    """Real decode→RESIZE→re-encode→decode chain: per-doc PPM payloads
    are nearest-neighbor downsampled to 4×4 (multimodal.resize_ppm, the
    (out·src)//out floor mapping), re-encoded as P6, and pushed through
    the real feature extractor. The DuckDB oracle replays the exact NN
    index arithmetic on the closed-form pixel function — a hard value
    check on the whole thumbnail pipeline (n_bytes 59 = 11-byte
    'P6/4 4/255' header + 48 raster bytes)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_ppm_payload(docs)
    resized = multimodal.resize_images(payload, 4, 4)
    feats = multimodal.extract_features(resized)
    return feats.select(
        "doc_id",
        "n_bytes",
        "width",
        "height",
        F.round("feat_mean", 9).alias("feat_mean"),
    )


_MM_AUDIO_FEATURES_SQL = """WITH sz AS (SELECT doc_id, 256 + doc_id % 128 AS n FROM documents),
    s AS (SELECT z.doc_id, z.n,
                 ((z.doc_id * 17 + r.range * 13) % 2001) - 1000 AS v
          FROM sz z CROSS JOIN range(0, 384) r WHERE r.range < z.n)
    SELECT doc_id,
           1::INT AS n_channels, 8000::INT AS sample_rate,
           n::BIGINT AS n_frames,
           round(sqrt(sum(v * v) / n), 6) AS rms,
           max(abs(v))::INT AS peak
    FROM s GROUP BY doc_id, n"""


def mm_audio_features(spark, sf_dir):
    """Audio modality through a REAL decode: per-doc 16-bit PCM WAV
    payloads (stdlib wave writer, closed-form samples) decoded back with
    the stdlib wave reader (multimodal.decode_audio) into channel/rate/
    frame-count/RMS/peak features; the DuckDB oracle replays the sample
    formula — integer sums are engine-exact, so RMS hash-matches at
    6dp."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_wav_payload(docs)
    feats = multimodal.extract_audio_features(payload)
    return feats.select(
        "doc_id",
        "n_channels",
        "sample_rate",
        "n_frames",
        F.round("rms", 6).alias("rms"),
        "peak",
    )


_MM_VIDEO_FRAMES_SQL = """WITH sz AS (SELECT doc_id, 4 + doc_id % 4 AS nf FROM documents),
    fr AS (SELECT doc_id, f.range AS fi
           FROM sz CROSS JOIN range(0, 8) f
           WHERE f.range < nf AND f.range % 2 = 0),
    px AS (SELECT doc_id, fi,
                  (doc_id * 7 + fi * 11 + i.range) % 256 AS v
           FROM fr CROSS JOIN range(0, 64) i)
    SELECT doc_id, fi AS frame_idx, 8::INT AS width, 8::INT AS height,
           round(sum(v) / 64.0, 6) AS luma_mean
    FROM px GROUP BY doc_id, fi"""


def mm_video_frames(spark, sf_dir):
    """Video modality through a REAL decode: per-doc YUV4MPEG2 streams
    (closed-form 8×8 mono frames) decoded by walking the actual Y4M
    header + FRAME markers (multimodal.decode_video), every 2nd frame
    sampled with its luma mean — the DuckDB oracle replays the pixel
    formula, so genuine container parsing is value-checked end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_y4m_payload(docs)
    frames = multimodal.sample_video_frames(payload, step=2)
    return frames.select(
        "doc_id",
        "frame_idx",
        "width",
        "height",
        F.round("luma_mean", 6).alias("luma_mean"),
    )


_MM_FRAME_SAMPLE_SQL = """WITH d AS (SELECT doc_id, text, octet_length(encode(text))::BIGINT AS nb
                  FROM documents WHERE doc_id < 50),
       f AS (SELECT doc_id, text, nb,
                    unnest(range(0, (nb + 63) // 64, 4)) AS frame_idx
             FROM d)
       SELECT doc_id, frame_idx, frame_idx * 64 AS off,
              least(64, nb - frame_idx * 64) AS n_bytes,
              md5(substr(text, (frame_idx * 64 + 1)::INT, 64)) AS checksum
       FROM f"""


def mm_frame_sample(spark, sf_dir):
    """Multimodal frame sampling: every 4th 64-byte frame of each payload
    with offset + checksum (pipeline.multimodal.sample_frames — the
    mapInPandas 1→N fan-out shape a real video decoder plugs into). The
    oracle reproduces byte slices as text slices, exact because fixture
    texts are pure ASCII (asserted: octet_length == length)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    payload = multimodal.attach_binary_payload(docs)
    return multimodal.sample_frames(payload, frame_size=64, step=4)


_MM_MEDIA_NULLS = (
    "CAST(NULL AS BIGINT) AS l1", "CAST(NULL AS BIGINT) AS l2",
    "CAST(NULL AS BIGINT) AS l3", "CAST(NULL AS BIGINT) AS l4",
    "CAST(NULL AS DOUBLE) AS d1", "CAST(NULL AS VARCHAR) AS s1",
)


def _mm_media_family_sql() -> str:
    """Tagged union of the three media-stream oracles on the shared
    (aspect, doc_id, l1, l2, l3, l4, d1, s1) slot schema — every member
    row survives verbatim (the mm_decode_family consolidation pattern;
    see mm_media_family)."""
    def slots(**kv: str) -> str:
        return ", ".join(kv.get(s.split()[-1], s) for s in _MM_MEDIA_NULLS)

    return f"""SELECT 'audio' AS aspect, doc_id,
           {slots(l1='n_channels::BIGINT AS l1', l2='sample_rate::BIGINT AS l2',
                  l3='n_frames AS l3', l4='peak::BIGINT AS l4', d1='rms AS d1')}
    FROM ({_MM_AUDIO_FEATURES_SQL}) __au
    UNION ALL
    SELECT 'video' AS aspect, doc_id,
           {slots(l1='frame_idx::BIGINT AS l1', l2='width::BIGINT AS l2',
                  l3='height::BIGINT AS l3', d1='luma_mean AS d1')}
    FROM ({_MM_VIDEO_FRAMES_SQL}) __vf
    UNION ALL
    SELECT 'frame' AS aspect, doc_id,
           {slots(l1='frame_idx::BIGINT AS l1', l2='off::BIGINT AS l2',
                  l3='n_bytes::BIGINT AS l3', s1='checksum AS s1')}
    FROM ({_MM_FRAME_SAMPLE_SQL}) __fs"""


@register("mm_media_family", _mm_media_family_sql())
def mm_media_family(spark, sf_dir):
    """The media-stream decode/sampling family under ONE gate (r15 gate
    consolidation, the mm_decode_family pattern — one driver row
    re-verifies the WAV PCM feature extraction, the Y4M frame-sampling
    walk, and the binary frame/checksum sampler; every member row
    survives verbatim in the tagged slot union (aspect, doc_id, l1, l2,
    l3, l4, d1, s1), so no value coverage is lost). Aspect → member
    mapping: 'audio' → (n_channels, sample_rate, n_frames, peak, rms);
    'video' → (frame_idx, width, height, luma_mean); 'frame' →
    (frame_idx, off, n_bytes, checksum). Three independent 1→1 Arrow
    decode branches — exchange-free each, unchanged by the union."""
    L = lambda c: F.col(c).cast("long")  # noqa: E731
    NL = F.lit(None).cast("long")
    ND = F.lit(None).cast("double")
    NS = F.lit(None).cast("string")

    def shape(df, aspect, l1=NL, l2=NL, l3=NL, l4=NL, d1=ND, s1=NS):
        return df.select(
            F.lit(aspect).alias("aspect"), L("doc_id").alias("doc_id"),
            l1.alias("l1"), l2.alias("l2"), l3.alias("l3"), l4.alias("l4"),
            d1.alias("d1"), s1.alias("s1"),
        )

    au = shape(
        mm_audio_features(spark, sf_dir), "audio",
        l1=L("n_channels"), l2=L("sample_rate"), l3=L("n_frames"),
        l4=L("peak"), d1=F.col("rms").cast("double"),
    )
    vf = shape(
        mm_video_frames(spark, sf_dir), "video",
        l1=L("frame_idx"), l2=L("width"), l3=L("height"),
        d1=F.col("luma_mean").cast("double"),
    )
    fs = shape(
        mm_frame_sample(spark, sf_dir), "frame",
        l1=L("frame_idx"), l2=L("off"), l3=L("n_bytes"),
        s1=F.col("checksum"),
    )
    return au.unionByName(vf).unionByName(fs)


@register(
    "dedup_shared_spans",
    """WITH t AS (SELECT doc_id,
                         regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
                  FROM documents),
       g AS (SELECT doc_id,
                    unnest(list_transform(range(1, length(ws) - 3), i ->
                      array_to_string(list_slice(ws, i, i + 4), ' '))) AS span
             FROM t),
       d AS (SELECT DISTINCT doc_id, span FROM g)
       SELECT span, count(*)::BIGINT AS n_docs, min(doc_id) AS first_doc
       FROM d GROUP BY span HAVING count(*) >= 2
       ORDER BY n_docs DESC, span LIMIT 100""",
)
def dedup_shared_spans(spark, sf_dir):
    """Exact word-span duplication across documents (5-word spans shared
    by >= 2 docs, top-100 by document count) — pipeline.dedup.shared_spans;
    the report side of span-level exact dedup."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.shared_spans(docs, F.col("text"), F.col("doc_id"), 5, 2)
    return out.orderBy(F.col("n_docs").desc(), "span").limit(100)


# -- corpus curation (r3: sampling, decontamination, redaction, sharding) ----

from semantic_cpp_spark.pipeline import clustering, curation, retrieval  # noqa: E402

_BERN_RATE, _BERN_SALT = 0.2, "s1"
_BERN_TH = curation.sample_threshold(_BERN_RATE)


@register(
    "samp_hash_bernoulli",
    f"""SELECT doc_id,
               ('0x' || substr(md5('{_BERN_SALT}' || doc_id::VARCHAR), 1, 15))::BIGINT AS u
        FROM documents
        WHERE ('0x' || substr(md5('{_BERN_SALT}' || doc_id::VARCHAR), 1, 15))::BIGINT < {_BERN_TH}""",
)
def samp_bernoulli(spark, sf_dir):
    """Deterministic content-hash Bernoulli sampling (rate 0.2): the keep
    decision is an int64 comparison on md5-derived bits — reproducible
    across runs, engines, and partitionings, unlike df.sample()'s
    per-partition RNG. Pure narrow filter (curation.bernoulli_sample)."""
    docs = load_table(spark, sf_dir, "documents")
    sampled = curation.bernoulli_sample(
        docs, F.col("doc_id"), _BERN_RATE, _BERN_SALT
    )
    return sampled.select(
        "doc_id", curation.hash_u60(F.col("doc_id"), _BERN_SALT).alias("u")
    )


_STRAT_RATES = {"en": 0.1, "de": 0.5, "es": 0.5, "fr": 0.25, "zh": 1.0}
_STRAT_CASE = (
    "CASE "
    + " ".join(
        f"WHEN lang = '{k}' THEN {curation.sample_threshold(v)}"
        for k, v in _STRAT_RATES.items()
    )
    + " ELSE 0 END"
)


@register(
    "samp_stratified_by_lang",
    f"""SELECT doc_id, lang FROM documents
        WHERE ('0x' || substr(md5('s2' || doc_id::VARCHAR), 1, 15))::BIGINT < {_STRAT_CASE}""",
)
def samp_stratified(spark, sf_dir):
    """Stratified sampling with per-language rates (downsample the
    dominant 'en' to 0.1, keep rare 'zh' whole) — the language-rebalance
    step of corpus assembly. The rate table folds into a CASE expression:
    still a pure narrow filter, no join (curation.stratified_sample)."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.stratified_sample(
        docs, F.col("doc_id"), F.col("lang"), _STRAT_RATES, "s2"
    ).select("doc_id", "lang")


@register(
    "samp_temperature_mixture",
    """WITH c AS (SELECT source AS d, count(*)::BIGINT AS n
                  FROM documents GROUP BY source),
       t AS (SELECT sum(n)::BIGINT AS total FROM c),
       w AS (SELECT d, n, floor(sqrt(n::DOUBLE) * 1000000.0)::BIGINT AS wt
             FROM c),
       s AS (SELECT sum(wt)::HUGEINT AS sw FROM w),
       thr AS (SELECT d,
                      least(1152921504606846976::HUGEINT,
                            ((total // 2)::HUGEINT * wt::HUGEINT
                             * 1152921504606846976::HUGEINT)
                            // (sw * n::HUGEINT)) AS th
               FROM w CROSS JOIN s CROSS JOIN t),
       u AS (SELECT doc_id, source,
                    ('0x' || substr(md5('mix' || doc_id::VARCHAR), 1, 15))::BIGINT AS u60
             FROM documents)
       SELECT u.source, count(*)::BIGINT AS n_docs,
              count(CASE WHEN u60::HUGEINT < th THEN 1 END)::BIGINT AS n_kept
       FROM u JOIN thr ON thr.d = u.source
       GROUP BY u.source""",
)
def samp_temperature_mixture(spark, sf_dir):
    """Temperature-based domain mixture sampling
    (curation.temperature_mixture_sample, α = 0.5, budget 50%): rebalance
    the corpus toward p_d ∝ √n_d — dominant sources downsampled, rare
    ones kept (nearly) whole, the mT5/UNIMAX assembly step the plain
    Bernoulli/stratified samplers can't express because its rates DERIVE
    from the data. Every keep decision is exact integer arithmetic
    (w_d = floor(√n_d·1e6) via correctly-rounded IEEE sqrt, thresholds
    in Python bigints / DuckDB HUGEINT — no float division anywhere), so
    both engines agree bit-for-bit at any scale. Output: per-source
    totals and kept counts (the flattening is the visible signal)."""
    docs = load_table(spark, sf_dir, "documents")
    kept = curation.temperature_mixture_sample(
        docs, F.col("doc_id"), F.col("source"), alpha=0.5, budget_frac=0.5
    )
    tot = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    k = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept")
    )
    return tot.join(k, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )


# The span-cut CTE chain, shared by the planner oracle and the apply
# oracle (ends with cuts(doc_id, cut_start, cut_end, n_spans)).
_SPAN_CUTS_CTE = r"""t AS (SELECT doc_id,
                          regexp_split_to_array(trim(lower(text)), '\s+') AS ws
                   FROM documents),
    g AS (SELECT doc_id, i - 1 AS pos,
                 ('0x' || substr(md5(array_to_string(ws[i : i + 7], ' ')),
                                 1, 15))::BIGINT AS h
          FROM t, LATERAL unnest(range(1, len(ws) - 6)) AS u(i)
          WHERE len(ws) >= 8),
    occ AS (SELECT doc_id, pos, h, doc_id * 1048576 + pos AS pk FROM g),
    fst AS (SELECT h, min(pk) AS first_pk FROM occ GROUP BY h),
    dup AS (SELECT o.doc_id, o.pos
            FROM occ o JOIN fst USING (h) WHERE o.pk <> fst.first_pk),
    iv AS (SELECT doc_id, pos AS s, pos + 8 AS e FROM dup),
    o2 AS (SELECT doc_id, s, e,
                  CASE WHEN s > coalesce(
                           max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS nb
           FROM iv),
    g2 AS (SELECT *, sum(nb) OVER (PARTITION BY doc_id ORDER BY s, e
                                   ROWS UNBOUNDED PRECEDING) AS grp
           FROM o2),
    cuts AS (SELECT doc_id, min(s)::BIGINT AS cut_start,
                    max(e)::BIGINT AS cut_end, count(*)::BIGINT AS n_spans
             FROM g2 GROUP BY doc_id, grp)"""


def dedup_span_cuts(spark, sf_dir):
    """Exact-substring deduplication planner under the gate
    (dedup.duplicate_span_cuts, Lee et al. 2022 re-expressed in token
    space): per doc, the maximal token regions whose 8-word spans all
    occurred earlier in the corpus — what an exact-substring dedup pass
    cuts, catching the partial-boilerplate case document-level dedup
    cannot. Spans shuffle as 60-bit hashes; first occurrence is one
    packed-int64 min (no corpus-wide window); the oracle replays span
    hashing, the packed min, and the gaps-and-islands interval merge."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_span_cuts(
        docs, F.col("text"), F.col("doc_id"), n=8
    )


def dedup_span_cuts_apply(spark, sf_dir):
    """The write-side of exact-substring dedup (dedup.apply_span_cuts
    over duplicate_span_cuts): remove every token inside a cut
    interval, re-join the survivors, and fingerprint the cleaned text —
    end-to-end Lee et al. 2022 under the gate. The surgery is pure
    higher-order Column work (transform-with-index + exists + filter on
    the token array): document bodies never shuffle; the only exchange
    is the per-doc cut list. The oracle rebuilds the cleaned text by
    position anti-join and must produce the IDENTICAL md5 per doc —
    the strongest possible check on the token-index arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    cuts = dedup.duplicate_span_cuts(docs, F.col("text"), F.col("doc_id"), n=8)
    return dedup.apply_span_cuts(docs, F.col("text"), F.col("doc_id"), cuts)


def dedup_span_cuts_text(spark, sf_dir):
    """The MATERIALIZING form of exact-substring dedup
    (dedup.apply_span_cuts(emit_text=True), VERDICT r8 #6): same
    surgery as dedup_span_cuts_apply but the cleaned text itself is
    emitted — the column downstream pipeline stages (re-chunk,
    re-embed, re-score) consume, not just its fingerprint. The gate
    here is the STRONGEST in the family: the oracle rebuilds every
    cleaned document string by position anti-join and the value hash
    compares the full text character-for-character (the _apply query's
    md5 check, without the md5). Composition with a downstream text
    operator is test-pinned
    (test_span_cuts_clean_text_composes_downstream)."""
    docs = load_table(spark, sf_dir, "documents")
    cuts = dedup.duplicate_span_cuts(docs, F.col("text"), F.col("doc_id"), n=8)
    return dedup.apply_span_cuts(
        docs, F.col("text"), F.col("doc_id"), cuts, emit_text=True
    ).select("doc_id", "n_tokens", "n_cut", "clean_text")


@register(
    "dedup_span_cuts_family",
    f"""WITH {_SPAN_CUTS_CTE},
    tok AS (SELECT doc_id, i - 1 AS pos, ws[i] AS w
            FROM t, LATERAL unnest(range(1, len(ws) + 1)) AS u(i)),
    kept AS (SELECT k.doc_id, k.pos, k.w FROM tok k
             WHERE NOT EXISTS (SELECT 1 FROM cuts c
                               WHERE c.doc_id = k.doc_id
                                 AND c.cut_start <= k.pos
                                 AND k.pos < c.cut_end)),
    agg AS (SELECT doc_id,
                   array_to_string(list(w ORDER BY pos), ' ') AS clean,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id),
    base AS (SELECT doc_id, len(ws)::BIGINT AS n_tokens FROM t)
    SELECT 'cuts' AS aspect, doc_id, cut_start AS l1, cut_end AS l2,
           n_spans AS l3, CAST(NULL AS VARCHAR) AS s1
    FROM cuts
    UNION ALL
    SELECT 'apply' AS aspect, b.doc_id, b.n_tokens AS l1,
           (b.n_tokens - coalesce(a.n_kept, 0))::BIGINT AS l2,
           CAST(NULL AS BIGINT) AS l3, md5(coalesce(a.clean, '')) AS s1
    FROM base b LEFT JOIN agg a USING (doc_id)
    UNION ALL
    SELECT 'text' AS aspect, b.doc_id, b.n_tokens AS l1,
           (b.n_tokens - coalesce(a.n_kept, 0))::BIGINT AS l2,
           CAST(NULL AS BIGINT) AS l3, coalesce(a.clean, '') AS s1
    FROM base b LEFT JOIN agg a USING (doc_id)""",
)
def dedup_span_cuts_family(spark, sf_dir):
    """The whole exact-substring-dedup (Lee et al. 2022) lifecycle under
    ONE gate (r13 gate consolidation — one driver row re-verifies the
    planner's interval merge, the fingerprinting write path, AND the
    materializing write path character-for-character; every member row
    survives verbatim in the tagged slot union (aspect, doc_id, l1, l2,
    l3, s1)). Aspect → member: 'cuts' → (cut_start, cut_end, n_spans);
    'apply' → (n_tokens, n_cut, clean_fp); 'text' → (n_tokens, n_cut,
    clean_text). The cut table computes ONCE and feeds all three
    branches — r15: it is localCheckpointed, because as lazy lineage
    each aspect re-ran the whole corpus-scale span-hash pipeline (20
    scan+Generate leaves in the before-plan); the cut table is per-doc
    intervals, KB at gate scale. The oracle shares the identical CTE
    chain."""
    NL = F.lit(None).cast("long")
    NS = F.lit(None).cast("string")
    docs = load_table(spark, sf_dir, "documents")
    cuts0 = dedup.duplicate_span_cuts(
        docs, F.col("text"), F.col("doc_id"), n=8
    ).localCheckpoint()
    cuts = cuts0.select(
        F.lit("cuts").alias("aspect"), "doc_id",
        F.col("cut_start").alias("l1"), F.col("cut_end").alias("l2"),
        F.col("n_spans").alias("l3"), NS.alias("s1"),
    )
    ap = dedup.apply_span_cuts(
        docs, F.col("text"), F.col("doc_id"), cuts0
    ).select(
        F.lit("apply").alias("aspect"), "doc_id",
        F.col("n_tokens").alias("l1"), F.col("n_cut").alias("l2"),
        NL.alias("l3"), F.col("clean_fp").alias("s1"),
    )
    tx = dedup.apply_span_cuts(
        docs, F.col("text"), F.col("doc_id"), cuts0, emit_text=True
    ).select(
        F.lit("text").alias("aspect"), "doc_id",
        F.col("n_tokens").alias("l1"), F.col("n_cut").alias("l2"),
        NL.alias("l3"), F.col("clean_text").alias("s1"),
    )
    return cuts.unionByName(ap).unionByName(tx)


@register(
    "txt_decontaminate",
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
                  FROM documents),
       g AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
               THEN [array_to_string(list_slice(ws, i, i + 2), ' ') for i in range(1, len(ws) - 1)]
               ELSE [] END) AS span FROM t),
       bench AS (SELECT DISTINCT span FROM g WHERE doc_id < 5),
       corpus AS (SELECT DISTINCT doc_id, span FROM g WHERE doc_id >= 5)
       SELECT c.doc_id, count(*)::BIGINT AS n_bench_spans
       FROM corpus c JOIN bench b USING (span) GROUP BY c.doc_id""",
)
def txt_decontaminate(spark, sf_dir):
    """Benchmark decontamination: per corpus doc, the count of distinct
    word 3-grams shared with the held-out set (docs 0-4 stand in for the
    benchmark). The bench span set broadcasts (test sets are tiny vs the
    corpus); production uses n=8-13 (curation.contaminated_docs)."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.contaminated_docs(
        docs, F.col("text"), F.col("doc_id"), [0, 1, 2, 3, 4], 3
    )


_EMAIL_RE = r"[a-z0-9.]+@[a-z0-9.]+"
_NUM_RE = r"[0-9]+"


@register(
    "txt_pii_redact",
    f"""WITH aug AS (
         SELECT doc_id,
                text || ' contact user' || doc_id::VARCHAR || '@example.com id '
                     || (doc_id * 7919)::VARCHAR AS t
         FROM documents)
       SELECT doc_id,
              length(regexp_extract_all(t, '{_EMAIL_RE}'))::BIGINT AS n_emails,
              length(regexp_extract_all(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                        '{_NUM_RE}'))::BIGINT AS n_nums,
              md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                 '{_NUM_RE}', '<NUM>', 'g')) AS redacted_md5
       FROM aug""",
)
def txt_pii_redact(spark, sf_dir):
    """PII-style pattern redaction (emails, then digit runs) with match
    counts and an md5 of the fully-redacted text as the value witness.
    The fixture corpus carries no PII, so the query PLANTS deterministic
    synthetic PII derived from doc_id and then removes it — the library
    operator (curation.redact / match_count) is generic. Patterns are
    RE2-compatible (no lookahead) so Java and RE2 agree; DuckDB needs the
    explicit 'g' flag for replace-all parity."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com id "),
            (F.col("doc_id") * 7919).cast("string"),
        ).alias("t"),
    )
    red1 = curation.redact(F.col("t"), _EMAIL_RE, "<EMAIL>")
    return aug.select(
        "doc_id",
        curation.match_count(F.col("t"), _EMAIL_RE).alias("n_emails"),
        curation.match_count(red1, _NUM_RE).alias("n_nums"),
        F.md5(curation.redact(red1, _NUM_RE, "<NUM>")).alias("redacted_md5"),
    )


_BM25_TERMS = ["data", "query", "spark"]


@register("ir_bm25_topk", retrieval.bm25_sql(_BM25_TERMS, 20))
def ir_bm25_topk(spark, sf_dir):
    """BM25 top-20 for a 3-term keyword query over the inverted-index
    shape: the query-term filter runs BEFORE the explode (only matching
    tokens become rows), doc lengths stay a narrow column, N/avgdl is a
    broadcast 1-row scalar, and the global top-k is a
    TakeOrderedAndProject (pipeline.retrieval.bm25_topk)."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_topk(
        docs, F.col("text"), F.col("doc_id"), _BM25_TERMS, 20
    )


@register(
    "shard_token_budget",
    """SELECT ('0x' || substr(md5('shard' || doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS shard,
              count(*)::BIGINT AS n_docs,
              sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS total_tokens
       FROM documents GROUP BY 1""",
)
def shard_token_budget(spark, sf_dir):
    """Token-budget sharding report: stable content-hash shard assignment
    (the write-side `partitionBy` layout) + per-shard doc/token totals —
    the balance check before materialising training shards. One narrow
    map + an 8-row aggregate (curation.shard_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.shard_stats(docs, F.col("text"), F.col("doc_id"), 8)


def _cc_sql() -> str:
    return f"""WITH RECURSIVE pairs AS ({_minhash_sql()}),
    edges AS (SELECT d1 AS s, d2 AS t FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
    nodes AS (SELECT DISTINCT s AS v FROM edges),
    reach(v, l) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT e.t, r.l FROM reach r JOIN edges e ON e.s = r.v)
    SELECT v AS doc_id, min(l)::BIGINT AS component FROM reach GROUP BY v"""


@register("dedup_cc_clusters", _cc_sql())
def dedup_cc_clusters(spark, sf_dir):
    """Duplicate-cluster resolution: connected components over the
    MinHash+LSH near-dup pairs via hash-min label propagation (component
    = smallest reachable doc_id; one join + groupBy-min per round,
    converges in O(diameter)). The oracle recomputes components with a
    recursive CTE — an independent algorithm, so agreement checks the
    propagation itself (dedup.connected_components)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, F.col("text"), F.col("doc_id"))
    return dedup.connected_components(pairs)


@register(
    "dedup_cluster_reps",
    f"""WITH RECURSIVE pairs AS ({_minhash_sql()}),
    edges AS (SELECT d1 AS s, d2 AS t FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
    nodes AS (SELECT DISTINCT s AS v FROM edges),
    reach(v, l) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT e.t, r.l FROM reach r JOIN edges e ON e.s = r.v),
    comp AS (SELECT v AS doc_id, min(l)::BIGINT AS component
             FROM reach GROUP BY v),
    base AS (SELECT doc_id,
                    len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT
                      AS score
             FROM documents),
    lab AS (SELECT b.doc_id, b.score,
                   coalesce(c.component, b.doc_id) AS component
            FROM base b LEFT JOIN comp c USING (doc_id)),
    reps AS (SELECT component, doc_id AS rep_id FROM
             (SELECT component, doc_id,
                     row_number() OVER (PARTITION BY component
                                        ORDER BY score DESC, doc_id) AS rk
              FROM lab) WHERE rk = 1)
    SELECT l.doc_id, l.component, l.score, r.rep_id,
           (l.doc_id = r.rep_id) AS keep
    FROM lab l JOIN reps r USING (component)""",
)
def dedup_cluster_reps(spark, sf_dir):
    """Quality-aware duplicate-cluster collapse
    (dedup.cluster_representatives): MinHash+LSH pairs → connected
    components → ONE surviving representative per cluster by
    (token count DESC, doc_id ASC) — the keep-the-best-member policy
    (keep the longest copy), where the smallest-id convention alone
    keeps an arbitrary one; singleton docs keep themselves. The Spark
    argmax is a map-side-combinable max_by over (score, ~doc_id) — no
    per-component sort, no corpus window; the oracle replays the
    components with an INDEPENDENT recursive CTE and the argmax with
    an INDEPENDENT row_number window, so agreement checks both
    algorithms. Exact-integer score keeps the argmax engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, F.col("text"), F.col("doc_id"))
    return dedup.cluster_representatives(
        docs, F.col("doc_id"), text.token_count(F.col("text")), pairs
    )


_KM_ONES = "[" + ", ".join(["1.0"] * 64) + "]"


@register(
    "emb_kmeans_step",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < {clustering.KMEANS_K}),
    scored AS (SELECT e.vec_id, e.v, c.c_id,
           list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
             + list_dot_product(c.cv, c.cv) AS d2
       FROM e, c),
    assigned AS (SELECT vec_id, v, c_id, d2 FROM
       (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS r
        FROM scored) WHERE r = 1)
    SELECT c_id, count(*)::BIGINT AS n_members,
           round(sum(list_dot_product(v, {_KM_ONES})) / count(*), 6) AS centroid_mass,
           round(sum(d2), 6) AS inertia
    FROM assigned GROUP BY c_id""",
)
def emb_kmeans_step(spark, sf_dir):
    """One Lloyd k-means step (k=8, deterministic id-seeded centroids):
    nearest-centroid assignment via the ‖x−c‖² dot expansion (broadcast
    k×dims centroids, narrow scan) + per-cluster update summary (member
    count, centroid mean mass, inertia). The iterative kmeans_fit loop is
    pytest-pinned against numpy (pipeline.clustering)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.kmeans_step_summary(emb, clustering.KMEANS_K)


# -- packing / keywords / corpus-relative filter / medoids (r3 batch 3) ------

@register(
    "pack_token_sequences",
    """WITH t AS (
         SELECT doc_id,
                ('0x' || substr(md5('shard' || doc_id::VARCHAR), 1, 15))::BIGINT % 8 AS shard,
                len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tok
         FROM documents),
       c AS (SELECT *, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
             FROM t)
       SELECT shard, ((cum - n_tok) // 512)::BIGINT AS seq_id,
              count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS seq_tokens
       FROM c GROUP BY shard, seq_id""",
)
def pack_token_sequences(spark, sf_dir):
    """Fixed-token-budget sequence packing (512-token sequences, 8 hash
    shards): running token sum per shard assigns each doc to sequence
    ⌊cum/budget⌋. Packing is sequential WITHIN a shard by nature, so
    parallelism = shard count — size n_shards to the cluster
    (curation.pack_token_sequences)."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.pack_token_sequences(
        docs, F.col("text"), F.col("doc_id"), n_shards=8, budget=512
    )


@register(
    "txt_tfidf_keywords",
    """WITH post AS (
         SELECT doc_id, term, count(*)::BIGINT AS tf
         FROM (SELECT doc_id,
                      unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
               FROM documents)
         GROUP BY doc_id, term),
       n AS (SELECT count(*)::BIGINT AS n_total FROM documents),
       dft AS (SELECT term, count(*)::BIGINT AS dfreq FROM post GROUP BY term),
       scored AS (SELECT doc_id, term, post.tf * ln(n.n_total / dft.dfreq) AS tfidf
                  FROM post JOIN dft USING (term), n),
       r AS (SELECT doc_id, term, tfidf,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rk
             FROM scored)
       SELECT doc_id, rk::BIGINT AS rk, term, round(tfidf, 6) AS tfidf
       FROM r WHERE rk <= 3""",
)
def txt_tfidf_keywords(spark, sf_dir):
    """Top-3 characteristic terms per document by tf·idf: postings build,
    term-keyed df join (co-partitioned), broadcast 1-row corpus count,
    bounded per-doc top-k window (retrieval.tfidf_keywords)."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.tfidf_keywords(docs, F.col("text"), F.col("doc_id"), 3)


_QUALITY_SQL = """(length(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         w -> w IN ('the','a','of','and','to','in','is','it')))::DOUBLE
                   / length(regexp_split_to_array(trim(text), '\\s+'))) * 0.4
                + 0.3 * least(length(regexp_split_to_array(trim(text), '\\s+')) / 100.0, 1.0)
                + 0.3 * (length(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / length(text))"""


@register(
    "txt_quality_above_median",
    f"""WITH s AS (SELECT doc_id, {_QUALITY_SQL} AS q FROM documents),
       m AS (SELECT quantile_cont(q, 0.5) AS med FROM s)
       SELECT doc_id, round(q, 6) AS quality FROM s, m WHERE q >= med""",
)
def txt_quality_above_median(spark, sf_dir):
    """Corpus-relative quality filter: keep the top half by composite
    quality score — the exact corpus median is a 1-row aggregate
    broadcast back over the scan (curation.quality_above_median, by
    histogram narrowing: no sort of the corpus, no single reducer)."""
    docs = load_table(spark, sf_dir, "documents")
    q = text.quality_score(F.col("text"))
    kept = curation.quality_above_median(docs, q)
    return kept.select("doc_id", F.round(text.quality_score(F.col("text")), 6).alias("quality"))


@register(
    "emb_cluster_medoids",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < {clustering.KMEANS_K}),
    scored AS (SELECT e.vec_id, e.v, c.c_id,
           list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
             + list_dot_product(c.cv, c.cv) AS d2
       FROM e, c),
    assigned AS (SELECT vec_id, v, c_id FROM
       (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS r
        FROM scored) WHERE r = 1),
    upd AS (SELECT c_id, i.i, avg(v[i.i]) AS mi
            FROM assigned, (SELECT unnest(range(1, 65)) AS i) i
            GROUP BY c_id, i.i),
    cent AS (SELECT c_id, list(mi ORDER BY i) AS m FROM upd GROUP BY c_id),
    d AS (SELECT a.c_id, a.vec_id,
                 list_dot_product(a.v, a.v) - 2.0 * list_dot_product(a.v, cent.m)
                   + list_dot_product(cent.m, cent.m) AS d2n
          FROM assigned a JOIN cent USING (c_id))
    SELECT c_id, vec_id, round(d2n, 6) AS d2 FROM
      (SELECT *, row_number() OVER (PARTITION BY c_id ORDER BY d2n, vec_id) AS r2
       FROM d) WHERE r2 = 1""",
)
def emb_cluster_medoids(spark, sf_dir):
    """Cluster representatives: per k-means cluster, the member closest
    to the UPDATED centroid (one real per-dimension Lloyd update —
    posexplode → avg per (cluster, dim) → re-assembled array — then a
    broadcast of the k new centroids and a per-cluster top-1 window).
    The coreset/diversity-sampling primitive (clustering.cluster_medoids)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.cluster_medoids(emb, clustering.KMEANS_K)


@register(
    "txt_unigram_cross_entropy",
    """WITH tok AS (SELECT doc_id,
                           unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
                    FROM documents),
       model AS (SELECT term, count(*)::BIGINT AS cnt FROM tok GROUP BY term),
       tot AS (SELECT count(*)::BIGINT AS total FROM tok),
       s AS (SELECT doc_id, -ln(cnt / total) AS nll
             FROM tok JOIN model USING (term), tot)
       SELECT doc_id, count(*)::BIGINT AS n_tokens,
              round(sum(nll) / count(*), 6) AS cross_entropy
       FROM s GROUP BY doc_id""",
)
def txt_unigram_cross_entropy(spark, sf_dir):
    """LM-based quality scoring: per-doc cross-entropy under the corpus
    unigram model — one explode feeds model and scoring, term join
    co-partitioned, corpus total broadcast
    (retrieval.unigram_cross_entropy)."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.unigram_cross_entropy(docs, F.col("text"), F.col("doc_id"))


_PCA_K, _PCA_ROUNDS = 4, 15


def _pca_power_ctes(k: int = _PCA_K, rounds: int = _PCA_ROUNDS) -> str:
    """Shared CTE chain replaying decomposition.pca_power_fit exactly:
    covariance from the exploded per-dim table (cov = ΣxᵢxⱼT/n − μᵢμⱼ,
    the same formula the Arrow-partial combine uses), then per
    component ``rounds`` unrolled power-iteration steps from
    v₀ = 1/√64, a Rayleigh-quotient eigenvalue, and a λvvᵀ deflation —
    the graph_pagerank_top10 replay pattern applied to eigen work.
    Every round CTE is MATERIALIZED (each is referenced twice: the
    next matrix-vector product and its own normaliser)."""
    parts = [
        """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS MATERIALIZED (SELECT unnest(range(1, 65)) AS i),
    nn AS (SELECT count(*)::DOUBLE AS n FROM e),
    d AS MATERIALIZED (SELECT vec_id, i, v[i] AS x FROM e, dims),
    m AS MATERIALIZED (SELECT i, sum(x) / (SELECT n FROM nn) AS mu
                       FROM d GROUP BY i),
    cov0 AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, sum(a.x * b.x) / (SELECT n FROM nn) AS pp
      FROM d a JOIN d b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
    cv1 AS MATERIALIZED (
      SELECT c.i, c.j, c.pp - ma.mu * mb.mu AS c
      FROM cov0 c JOIN m ma ON ma.i = c.i JOIN m mb ON mb.i = c.j)"""
    ]
    for c in range(1, k + 1):
        parts.append(
            f"v{c}r0 AS (SELECT i, 1.0 / sqrt(64.0) AS x FROM dims)"
        )
        for t in range(1, rounds + 1):
            parts.append(
                f"""w{c}r{t} AS MATERIALIZED (
      SELECT cm.i, sum(cm.c * v.x) AS w
      FROM cv{c} cm JOIN v{c}r{t - 1} v ON v.i = cm.j GROUP BY cm.i),
    v{c}r{t} AS MATERIALIZED (
      SELECT i, w / (SELECT sqrt(sum(w * w)) FROM w{c}r{t}) AS x
      FROM w{c}r{t})"""
            )
        parts.append(
            f"""lam{c} AS MATERIALIZED (
      SELECT sum(a.x * cm.c * b.x) AS lam
      FROM cv{c} cm JOIN v{c}r{rounds} a ON a.i = cm.i
      JOIN v{c}r{rounds} b ON b.i = cm.j)"""
        )
        if c < k:
            parts.append(
                f"""cv{c + 1} AS MATERIALIZED (
      SELECT cm.i, cm.j, cm.c - (SELECT lam FROM lam{c}) * (a.x * b.x) AS c
      FROM cv{c} cm JOIN v{c}r{rounds} a ON a.i = cm.i
      JOIN v{c}r{rounds} b ON b.i = cm.j)"""
            )
    return ",\n    ".join(parts)


def _pca_project_sql(k: int = _PCA_K, rounds: int = _PCA_ROUNDS) -> str:
    unions = "\n      UNION ALL ".join(
        f"""SELECT d.vec_id, {c - 1} AS axis, sum((d.x - m.mu) * v.x) AS value
      FROM d JOIN m ON m.i = d.i JOIN v{c}r{rounds} v ON v.i = d.i
      GROUP BY d.vec_id"""
        for c in range(1, k + 1)
    )
    return f"""WITH {_pca_power_ctes(k, rounds)}
    SELECT vec_id, axis::BIGINT AS axis, round(value, 6) + 0 AS value
    FROM ({unions})"""


def _pca_variance_sql(k: int = _PCA_K, rounds: int = _PCA_ROUNDS) -> str:
    unions = "\n      UNION ALL ".join(
        f"""SELECT {c - 1} AS component,
             (SELECT lam FROM lam{c}) AS eigenvalue,
             (SELECT lam FROM lam{c}) / (SELECT tr FROM tr) AS explained_ratio"""
        for c in range(1, k + 1)
    )
    return f"""WITH {_pca_power_ctes(k, rounds)},
    tr AS (SELECT sum(c) AS tr FROM cv1 WHERE i = j)
    SELECT component::BIGINT AS component, round(eigenvalue, 6) AS eigenvalue,
           round(explained_ratio, 6) AS explained_ratio
    FROM ({unions})"""


@register("emb_pca_project", _pca_project_sql())
def emb_pca_project(spark, sf_dir):
    """PCA projection of the embedding corpus onto its top-4 principal
    axes — with a HARD value oracle (r7 verdict item #2, retiring the
    registry's last rows-only row): the fit is
    decomposition.pca_power_fit, FIXED-ROUND power iteration with
    deflation (15 rounds/component from v₀ = 1/√64), which DuckDB
    replays as unrolled CTEs the way the pagerank oracle replays its 15
    rounds. Sign is pinned by v₀ + positive normalisation on both
    engines — no eigenvector sign coin-flip. The distributed work is
    unchanged: Arrow-partial covariance → KB driver state →
    zero-exchange literal-matrix projection (eigh keeps its own hard
    pin via emb_pca_norm_preserved's full-rank invariant).

    Output stays EXPLODED to scalar rows (vec_id, axis, value): the
    driver's canonicalizer hashes pandas columns, and an ArrayType
    column is unhashable there (CORRECTNESS_r04 err).

    ``+ 0.0`` after the round normalizes IEEE negative zero (r10
    verdict "missing #2", closed r11): a near-zero projection (a
    vector almost orthogonal to the last component — hit at sf0.001)
    rounds to ±0.0 with an engine-dependent SIGN, and the driver
    canonicalizes -0.0 / 0.0 to different strings. -0.0 + 0.0 = +0.0
    in IEEE on both engines, so the ambiguity is gone at every scale;
    all non-zero values are unchanged."""
    from semantic_cpp_spark.pipeline import decomposition

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, _, _ = decomposition.pca_power_fit(
        emb, k=_PCA_K, rounds=_PCA_ROUNDS, dims=64
    )
    out = decomposition.pca_project(emb, mean, comps)
    return out.select(
        "vec_id", F.posexplode(F.col("proj")).alias("axis", "value")
    ).select(
        "vec_id",
        F.col("axis").cast("long").alias("axis"),
        (F.round("value", 6) + F.lit(0.0)).alias("value"),
    )


@register("emb_pca_variance", _pca_variance_sql())
def emb_pca_variance(spark, sf_dir):
    """Per-component explained variance of the top-4 principal axes:
    eigenvalue (Rayleigh quotient after the fixed 15-round power
    iteration) and its share of total variance (λ_c / trace(cov)) —
    the scree diagnostic behind every "how many dims do we actually
    need" storage decision, as a 4-row hard-oracle query. Same replayed
    fit as emb_pca_project; trace is the covariance diagonal sum, which
    the oracle computes directly from the covariance CTE."""
    from semantic_cpp_spark.pipeline import decomposition

    emb = load_table(spark, sf_dir, "embeddings")
    _, _, vals, trace = decomposition.pca_power_fit(
        emb, k=_PCA_K, rounds=_PCA_ROUNDS, dims=64
    )
    rows = [
        (c, round(float(v), 6), round(float(v) / trace, 6))
        for c, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows, "component long, eigenvalue double, explained_ratio double"
    )


@register(
    "emb_pca_norm_preserved",
    """WITH dims AS (SELECT unnest(range(0, 64)) AS dim),
    d AS (SELECT vec_id, dim, CAST(embedding[dim + 1] AS DOUBLE) AS x
          FROM embeddings, dims),
    m AS (SELECT dim, avg(x) AS mu FROM d GROUP BY dim)
    SELECT d.vec_id, round(sum((d.x - m.mu) * (d.x - m.mu)), 4) AS sq_norm
    FROM d JOIN m USING (dim) GROUP BY d.vec_id""",
)
def emb_pca_norm_preserved(spark, sf_dir):
    """Full-rank PCA invariant with a HARD value oracle: at k=dims the
    projection is an orthonormal change of basis, so per-vector
    Σ proj² equals the centred squared norm ‖x−μ‖² — which DuckDB can
    compute directly (per-dim mean via unnest WITH ORDINALITY). This
    pins the whole eigen path (covariance partials, eigh, literal-matrix
    projection) with an eigen-sign-invariant, rotation-invariant check —
    stronger than the rows-only row emb_pca_project gets."""
    from semantic_cpp_spark.pipeline import decomposition

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, _ = decomposition.pca_fit(emb, k=64, dims=64)
    out = decomposition.pca_project(emb, mean, comps)
    return out.select(
        "vec_id",
        F.round(
            F.aggregate("proj", F.lit(0.0), lambda a, x: a + x * x), 4
        ).alias("sq_norm"),
    )


@register(
    "dedup_keep_list",
    f"""WITH RECURSIVE pairs AS ({_minhash_sql()}),
    edges AS (SELECT d1 AS s, d2 AS t FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
    nodes AS (SELECT DISTINCT s AS v FROM edges),
    reach(v, l) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT e.t, r.l FROM reach r JOIN edges e ON e.s = r.v),
    comp AS (SELECT v AS doc_id, min(l)::BIGINT AS component FROM reach GROUP BY v)
    SELECT doc_id, FALSE AS is_cluster_rep FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM comp)
    UNION ALL
    SELECT doc_id, TRUE AS is_cluster_rep FROM comp WHERE doc_id = component""",
)
def dedup_keep_list_q(spark, sf_dir):
    """End-to-end dedup outcome (dedup.dedup_keep_list): MinHash+LSH
    pairs → connected components → one representative per cluster +
    every untouched doc — the cleaned-corpus id list. The dup-node set
    broadcasts against the corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, F.col("text"), F.col("doc_id"))
    return dedup.dedup_keep_list(docs, pairs, F.col("doc_id"))


@register(
    "txt_quality_bands",
    f"""WITH s AS (SELECT doc_id, {_QUALITY_SQL} AS q FROM documents),
       c AS (SELECT quantile_cont(q, 0.25) AS c0, quantile_cont(q, 0.5) AS c1,
                    quantile_cont(q, 0.75) AS c2 FROM s)
       SELECT doc_id,
              (CASE WHEN q >= c2 THEN 3 WHEN q >= c1 THEN 2
                    WHEN q >= c0 THEN 1 ELSE 0 END)::BIGINT AS band
       FROM s, c""",
)
def txt_quality_bands(spark, sf_dir):
    """Corpus-relative quality quartile banding
    (curation.quality_bands): broadcast 1-row percentile cutoffs + CASE
    — the scale-correct replacement for a global ntile() window (which
    would funnel the corpus through one task)."""
    docs = load_table(spark, sf_dir, "documents")
    q = text.quality_score(F.col("text"))
    return curation.quality_bands(docs, q).select("doc_id", "band")


@register(
    "samp_fixed_k_per_lang",
    """WITH u AS (SELECT doc_id, lang,
                         ('0x' || substr(md5('s3' || doc_id::VARCHAR), 1, 15))::BIGINT AS u
                  FROM documents),
       r AS (SELECT doc_id, lang,
                    row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rk
             FROM u)
       SELECT doc_id, lang, rk::BIGINT AS rk FROM r WHERE rk <= 10""",
)
def samp_fixed_k_per_lang(spark, sf_dir):
    """Exactly-10-per-language uniform sample via content-hash priority
    ranking (curation.fixed_k_per_stratum) — guarantees sample SIZE
    (what eval-set construction needs), stays deterministic across
    partitionings, and never global-sorts (window per stratum)."""
    docs = load_table(spark, sf_dir, "documents")
    out = curation.fixed_k_per_stratum(
        docs, F.col("doc_id"), F.col("lang"), 10, "s3"
    )
    return out.select("doc_id", "lang", F.col("__rk").alias("rk"))


@register(
    "corpus_diff_versions",
    """WITH old AS (SELECT doc_id,
                           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
                    FROM documents),
       new AS (SELECT doc_id,
                      md5(trim(regexp_replace(lower(text || CASE WHEN doc_id % 5 = 0
                                                                 THEN ' edited'
                                                                 ELSE '' END), '\\s+', ' ', 'g'))) AS fp
               FROM documents WHERE doc_id % 7 <> 0),
       j AS (SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
                    old.fp AS fo, new.fp AS fn
             FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id)
       SELECT doc_id,
              CASE WHEN fo IS NULL THEN 'added'
                   WHEN fn IS NULL THEN 'removed'
                   WHEN fo = fn THEN 'unchanged'
                   ELSE 'changed' END AS status
       FROM j""",
)
def corpus_diff_versions(spark, sf_dir):
    """Corpus snapshot diff (curation.corpus_diff): the 'new version' is
    a deterministic mutation of the fixture (docs %7 dropped, docs %5
    edited) so the full added/removed/changed/unchanged surface is
    exercised self-containedly. Fingerprint join — bodies never
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" edited")).otherwise(F.lit("")),
        ),
    )
    return curation.corpus_diff(
        docs, new, "doc_id", text.fingerprint(F.col("text"))
    )


@register(
    "txt_fuzzy_vocab_match",
    """WITH vocab AS (SELECT DISTINCT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
                      FROM documents),
       q AS (SELECT DISTINCT substr(term, 1, 1) || substr(term, 3) AS q
             FROM vocab WHERE length(term) >= 4)
       SELECT q.q, v.term, levenshtein(q.q, v.term)::BIGINT AS dist
       FROM q, vocab v WHERE levenshtein(q.q, v.term) <= 1""",
)
def txt_fuzzy_vocab_match(spark, sf_dir):
    """Fuzzy vocabulary lookup (retrieval.fuzzy_match_edit1): queries are
    deterministic single-char-dropped corruptions of the corpus
    vocabulary (the spell-correction scenario; the fixture's word-salad
    vocab has no natural typo pairs), matched back within edit distance
    1 via the lossless first/last-char blocking. The oracle is the
    NAIVE all-pairs join, so agreement re-proves the blocking drops
    nothing on this data too."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(text.tokens(F.lower(F.col("text")))).alias("term")
        )
        .distinct()
    )
    queries = (
        vocab.filter(F.length("term") >= 4)
        .select(
            F.concat(
                F.substring("term", 1, 1), F.expr("substring(term, 3)")
            ).alias("q")
        )
        .distinct()
    )
    return retrieval.fuzzy_match_edit1(queries, vocab)


# -- round 6: directed containment, boilerplate removal, dataset splits ------

@register(
    "dedup_containment",
    f"""WITH {_SHINGLES_CTE},
    ex0 AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS s
            FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
    dfq AS (SELECT s, count(*) AS dfc FROM ex0 GROUP BY s),
    ex AS (SELECT e.doc_id, e.s FROM ex0 e JOIN dfq USING (s) WHERE dfc <= 100),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT d1, d2,
           (2000000::BIGINT * common + sa.n_sh) // (2 * sa.n_sh)
             / 1000000.0 AS containment
    FROM pairs JOIN sz sa ON sa.doc_id = d1
    WHERE common::DOUBLE / sa.n_sh >= 0.5""",
)
def dedup_containment(spark, sf_dir):
    """Directed containment near-dup (dedup.containment_pairs): C(d1→d2)
    = |S(d1)∩S(d2)| / |S(d1)| ≥ 0.5 over df-capped 3-gram shingles —
    catches a short doc quoted inside a longer one, which symmetric
    Jaccard's union denominator dilutes. Same shingle-blocked self-join
    as dedup_ngram_jaccard (never all-pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, F.col("text"), F.col("doc_id"), k=3, threshold=0.5
    )


@register(
    "txt_boilerplate_removal",
    r"""WITH ws AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents),
    chunks AS (
      SELECT doc_id,
             unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS chunk_idx,
             unnest([array_to_string(ws[(i * 10 + 1):(i * 10 + 10)], ' ')
                     for i in range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))]) AS chunk
      FROM ws),
    hot AS (
      SELECT chunk, TRUE AS is_hot FROM chunks
      GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2)
    SELECT c.doc_id, count(*) AS n_chunks,
           count(CASE WHEN h.is_hot IS NULL THEN 1 END) AS n_kept,
           coalesce(string_agg(CASE WHEN h.is_hot IS NULL THEN c.chunk END,
                               ' ' ORDER BY c.chunk_idx), '') AS clean_text
    FROM chunks c LEFT JOIN hot h ON c.chunk = h.chunk
    GROUP BY c.doc_id""",
)
def txt_boilerplate_removal(spark, sf_dir):
    """Corpus-level boilerplate removal (curation.remove_boilerplate_chunks):
    the C4-style "drop any line occurring in ≥2 documents" rule at
    10-word-chunk granularity, with each document re-assembled from its
    surviving chunks in order. The hot-chunk join is a plain shuffle
    join (NOT broadcast — at corpus scale the repeated-chunk set can be
    a large fraction of all chunks); per-doc state is bounded by doc
    length."""
    docs = load_table(spark, sf_dir, "documents")
    from semantic_cpp_spark.pipeline import curation

    return curation.remove_boilerplate_chunks(
        docs, F.col("text"), F.col("doc_id"), chunk_size=10, min_docs=2
    )


_SPLIT_TH1 = curation.sample_threshold(0.8)
_SPLIT_TH2 = curation.sample_threshold(0.9)


@register(
    "samp_train_val_split",
    f"""WITH assign AS (
      SELECT lang, n_chars,
             CASE WHEN ('0x' || substr(md5('split' || doc_id::VARCHAR), 1, 15))::BIGINT
                       < {_SPLIT_TH1} THEN 'train'
                  WHEN ('0x' || substr(md5('split' || doc_id::VARCHAR), 1, 15))::BIGINT
                       < {_SPLIT_TH2} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT split, lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
    FROM assign GROUP BY split, lang""",
)
def samp_train_val_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment from the content
    hash (curation.split_assign): pure int64-threshold decision, so a
    document's split never changes across runs, engines, or cluster
    sizes — the anti-leakage property df.randomSplit cannot give.
    Output: per (split, lang) doc and char counts."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn(
            "split", curation.split_assign(F.col("doc_id"), (0.8, 0.1))
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


def _incremental_minhash_sql() -> str:
    mins = ", ".join(
        f"list_min(list_transform(shingles, s -> ({a} * (('0x' || substr(md5(s),1,8))::BIGINT) + {b}) % {dedup.MINHASH_P}))"
        for a, b in zip(dedup.MINHASH_A, dedup.MINHASH_B)
    )
    r, nb = dedup.LSH_ROWS, dedup.LSH_BANDS
    return f"""WITH {_SHINGLES_CTE},
    sigs AS (SELECT doc_id, [{mins}] AS sig FROM sh WHERE len(shingles) > 0),
    bands AS (
      SELECT doc_id, t.band,
             array_to_string(sig[t.band * {r} + 1 : t.band * {r} + {r}], '_') AS key
      FROM sigs, (SELECT unnest(range(0, {nb})) AS band) t),
    cand AS (
      SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS dup_of
      FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7)
    SELECT c.new_id, c.dup_of,
           round(length(list_filter(range(1, {dedup.NUM_HASHES} + 1),
                                    i -> sa.sig[i] = sb.sig[i]))::DOUBLE
                 / {dedup.NUM_HASHES}, 6) AS est_jaccard
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.new_id
    JOIN sigs sb ON sb.doc_id = c.dup_of
    WHERE length(list_filter(range(1, {dedup.NUM_HASHES} + 1),
                             i -> sa.sig[i] = sb.sig[i]))::DOUBLE
          / {dedup.NUM_HASHES} >= 0.5"""


@register("dedup_incremental_batch", _incremental_minhash_sql())
def dedup_incremental_batch(spark, sf_dir):
    """Incremental batch-vs-corpus near-dup (dedup.incremental_near_dup):
    docs with doc_id % 10 == 7 play the role of today's ingest batch, the
    rest the existing corpus; emit (new_id, dup_of, est_jaccard ≥ 0.5).
    The corpus is only touched through the MinHash band-key equi-join —
    the index-lookup shape that avoids re-running full-corpus dedup per
    batch."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    return dedup.incremental_near_dup(
        corpus, batch, F.col("text"), F.col("doc_id")
    )


@register(
    "mm_gif_features",
    """WITH sz AS (SELECT doc_id,
                          (8 + doc_id % 9)::INT AS w,
                          (8 + (doc_id // 9) % 9)::INT AS h
                   FROM documents),
    px AS (SELECT doc_id, w, h, (doc_id * 31 + r.range) % 256 AS v
           FROM sz CROSS JOIN range(0, 256) r
           WHERE r.range < w * h)
    SELECT doc_id, w AS width, h AS height,
           round(sum(v) / (w * h) / 255.0, 9) AS feat_mean,
           TRUE AS decoded
    FROM px GROUP BY doc_id, w, h""",
)
def mm_gif_features(spark, sf_dir):
    """Multimodal features through the REAL pure-Python GIF decode path:
    each doc gets a true GIF89a container (grayscale global color table,
    variable-width LZW raster — multimodal.render_gif) whose pixel
    indices follow the closed form v_i = (id·31+i) % 256 over w·h pixels;
    the kernel runs the full LZW decompressor + palette mapping
    (multimodal._decode_gif, round-trip- and real-world-artifact-pinned),
    and the oracle recomputes width/height/mean from the closed form
    (gray tripling cancels in the mean). n_bytes excluded (LZW output
    size is not SQL-expressible)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_gif_payload(docs)
    feats = multimodal.extract_features(payload)
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round("feat_mean", 9).alias("feat_mean"),
        "decoded",
    )


_IVF_MP_SQL = f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < {similarity.IVF_K}),
scored AS (
  SELECT e.vec_id, e.v, c.c_id,
         {_sql_cos('e.v', 'c.cv')} AS ccos
  FROM e, c),
assigned AS (
  SELECT vec_id, v, c_id AS centroid_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC NULLS LAST, c_id) AS r
        FROM scored)
  WHERE r = 1),
qp AS (
  SELECT vec_id AS q_id, v AS qv, c_id AS probe_cent
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC NULLS LAST, c_id) AS r
        FROM scored WHERE vec_id IN (0, 1, 2))
  WHERE r <= 2),
sc AS (SELECT qp.q_id, a.vec_id,
              {_sql_cos('a.v', 'qp.qv')} AS cos
       FROM assigned a JOIN qp
         ON a.centroid_id = qp.probe_cent AND a.vec_id <> qp.q_id),
r AS (SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC NULLS LAST, vec_id) AS rk
      FROM sc)
SELECT q_id, rk, vec_id, round(cos, 6) AS cos FROM r WHERE rk <= 5"""


@register("sim_ivf_multiprobe", _IVF_MP_SQL)
def sim_ivf_multiprobe(spark, sf_dir):
    """IVF top-5 at nprobe=2 (similarity.ivf_multiprobe_topk): each query
    scans its TWO nearest centroids' inverted lists — the standard IVF
    recall dial, recovering neighbors just across a Voronoi boundary at
    2× the (still ~2·n/K) scan. Corpus partitioning unchanged; only the
    broadcast query side fans out."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_multiprobe_topk(
        emb, [0, 1, 2], k=5, dims=64, nprobe=2, n_centroids=similarity.IVF_K
    )


@register(
    "txt_bigram_cross_entropy",
    r"""WITH w AS (SELECT doc_id,
                          regexp_split_to_array(trim(lower(text)), '\s+') AS ws
                   FROM documents),
    bg AS (SELECT doc_id,
                  unnest([ws[i] for i in range(1, len(ws))]) AS v,
                  unnest([ws[i + 1] for i in range(1, len(ws))]) AS w2
           FROM w WHERE len(ws) >= 2),
    model AS (SELECT v, w2, count(*)::BIGINT AS cnt FROM bg GROUP BY v, w2),
    lft AS (SELECT v, sum(cnt)::BIGINT AS lcnt FROM model GROUP BY v)
    SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           round(sum(-ln(cnt::DOUBLE / lcnt)) / count(*), 6) AS cross_entropy2
    FROM bg JOIN model USING (v, w2) JOIN lft USING (v)
    GROUP BY doc_id""",
)
def txt_bigram_cross_entropy(spark, sf_dir):
    """Corpus bigram-LM cross-entropy per document
    (retrieval.bigram_cross_entropy): −mean ln p(wᵢ|wᵢ₋₁) with the
    conditional estimated from the corpus itself — the transition-aware
    quality signal the unigram model can't see. Co-partitioned term
    joins; no smoothing needed (self-scoring corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bigram_cross_entropy(
        docs, F.col("text"), F.col("doc_id")
    )


@register(
    "emb_dim_stats",
    """WITH d AS (SELECT unnest(range(0, 64)) AS dim),
    x AS (SELECT d.dim,
                 CAST(round(e.embedding[d.dim + 1]::DOUBLE * 1000000.0)
                      AS BIGINT) AS w
          FROM embeddings e, d)
    SELECT dim::BIGINT AS dim,
           round(sum(w)::DOUBLE / count(*) / 1e6, 6) AS mean,
           round(sqrt(sum(w * w)::DOUBLE / count(*) / 1e12
                      - (sum(w)::DOUBLE / count(*) / 1e6) ^ 2), 6)
             AS std_pop
    FROM x GROUP BY dim""",
)
def emb_dim_stats(spark, sf_dir):
    """Per-dimension mean and population std over the embedding corpus —
    the normalization/whitening prep aggregate. posexplode fans each
    vector into (dim, value) rows; one groupBy over 64 keys with
    map-side partial aggregation, so shuffle volume is 64 rows per
    partition regardless of corpus size.

    Values are quantised to 1e-6 units (comparable to float32's own
    precision at unit scale) and accumulated as EXACT int64 power sums —
    order-independent, so Spark's partial-aggregation order can never
    drift a rounding boundary against DuckDB's sequential sum (the same
    summation-order class fixed for the weighted-avg queries;
    self-review r6). int64 bounds: Σw² per dim stays < 2^63 up to ~9e6
    unit-scale vectors per dimension; beyond that accumulate in
    DECIMAL(38) — noted, not needed at fixture scales."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(
            F.transform("embedding", lambda v: v.cast("double"))
        ).alias("dim", "v")
    ).select(
        "dim", F.round(F.col("v") * 1e6, 0).cast("long").alias("w")
    )
    n = F.count(F.lit(1))
    s = F.sum("w")
    s2 = F.sum(F.col("w") * F.col("w"))
    mean = s / n / F.lit(1e6)
    return x.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.round(mean, 6).alias("mean"),
        F.round(F.sqrt(s2 / n / F.lit(1e12) - mean * mean), 6).alias("std_pop"),
    )


@register(
    "pipe_clean_corpus",
    f"""WITH fp AS (
      SELECT doc_id, text,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM documents),
    keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
    uniq AS (SELECT d.doc_id, d.text FROM documents d JOIN keep USING (doc_id)),
    q AS (SELECT doc_id, {_QUALITY_SQL} AS q FROM uniq),
    m AS (SELECT quantile_cont(q, 0.5) AS med FROM q),
    fin AS (SELECT doc_id FROM q, m WHERE q >= med),
    sp AS (SELECT CASE WHEN u < {_SPLIT_TH1} THEN 'train'
                       WHEN u < {_SPLIT_TH2} THEN 'val'
                       ELSE 'test' END AS split
           FROM (SELECT ('0x' || substr(md5('split' || doc_id::VARCHAR), 1, 15))::BIGINT AS u
                 FROM fin))
    SELECT (SELECT count(*) FROM documents)::BIGINT AS n_total,
           (SELECT count(*) FROM keep)::BIGINT AS n_unique,
           count(*)::BIGINT AS n_final,
           sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::BIGINT AS n_train,
           sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)::BIGINT AS n_val,
           sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)::BIGINT AS n_test
    FROM sp""",
)
def pipe_clean_corpus(spark, sf_dir):
    """The end-to-end cleaning funnel (curation.clean_corpus_summary):
    exact dedup → quality-above-median (median of the DEDUPED set,
    distributed rank selection) → deterministic 80/10/10 split, reported
    as one funnel row. Composes three independently-verified operators
    in one plan — the composition itself is what this query verifies."""
    docs = load_table(spark, sf_dir, "documents")
    from semantic_cpp_spark.pipeline import curation

    return curation.clean_corpus_summary(
        docs, F.col("text"), F.col("doc_id")
    )


@register(
    "emb_whiten_norms",
    """WITH d AS (SELECT unnest(range(0, 64)) AS dim),
    x AS (SELECT d.dim,
                 CAST(round(e.embedding[d.dim + 1]::DOUBLE * 1000000.0)
                      AS BIGINT) AS w
          FROM embeddings e, d),
    st AS (SELECT dim,
                  sum(w)::DOUBLE / count(*) / 1e6 AS mean,
                  sqrt(sum(w * w)::DOUBLE / count(*) / 1e12
                       - (sum(w)::DOUBLE / count(*) / 1e6) ^ 2) AS std
           FROM x GROUP BY dim),
    arrs AS (SELECT list(mean ORDER BY dim) AS ms,
                    list(std ORDER BY dim) AS ss
             FROM st)
    SELECT vec_id,
           round(list_sum(list_transform(range(1, 65),
                 i -> ((embedding[i]::DOUBLE - ms[i]) / ss[i]) ^ 2)), 6)
             AS wnorm2
    FROM embeddings, arrs""",
)
def emb_whiten_norms(spark, sf_dir):
    """Whitening application (the consumer of emb_dim_stats): per vector,
    the squared norm after per-dimension standardisation ((x−μ_d)/σ_d) —
    the sanity statistic of a whitening pass (its corpus mean is ~dims).

    Scale shape: the stats are the same exact-int64 64-key aggregate as
    emb_dim_stats, collapsed into two 64-element arrays and broadcast —
    the projection itself is a zero-exchange narrow map, like
    pca_project. The per-vector sum is a LEFT-TO-RIGHT fold
    (F.aggregate), bit-matching DuckDB's list_sum over list_transform —
    no group-sum order nondeterminism."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        F.posexplode(
            F.transform("embedding", lambda v: v.cast("double"))
        ).alias("dim", "v")
    ).select("dim", F.round(F.col("v") * 1e6, 0).cast("long").alias("w"))
    n = F.count(F.lit(1))
    s = F.sum("w")
    s2 = F.sum(F.col("w") * F.col("w"))
    mean = s / n / F.lit(1e6)
    st = x.groupBy("dim").agg(
        mean.alias("mean"),
        F.sqrt(s2 / n / F.lit(1e12) - mean * mean).alias("std"),
    )
    arrs = st.agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "mean", "std"))
        ).alias("__a")
    ).select(
        F.transform("__a", lambda r: r["mean"]).alias("ms"),
        F.transform("__a", lambda r: r["std"]).alias("ss"),
    )
    v = F.transform("embedding", lambda c: c.cast("double"))
    wnorm2 = F.aggregate(
        F.sequence(F.lit(0), F.lit(63)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.pow(
            (F.element_at(v, i + 1) - F.element_at("ms", i + 1))
            / F.element_at("ss", i + 1),
            2,
        ),
    )
    return emb.crossJoin(F.broadcast(arrs)).select(
        "vec_id", F.round(wnorm2, 6).alias("wnorm2")
    )


def _minhash_containment_sql() -> str:
    mins = ", ".join(
        f"list_min(list_transform(shingles, s -> ({a} * (('0x' || substr(md5(s),1,8))::BIGINT) + {b}) % {dedup.MINHASH_P}))"
        for a, b in zip(dedup.MINHASH_A, dedup.MINHASH_B)
    )
    r, nb = dedup.LSH_ROWS, dedup.LSH_BANDS
    return f"""WITH {_SHINGLES_CTE},
    sz AS (SELECT doc_id, len(shingles)::BIGINT AS n_sh FROM sh),
    sigs AS (SELECT doc_id, [{mins}] AS sig FROM sh WHERE len(shingles) > 0),
    bands AS (
      SELECT doc_id, t.band,
             array_to_string(sig[t.band * {r} + 1 : t.band * {r} + {r}], '_') AS key
      FROM sigs, (SELECT unnest(range(0, {nb})) AS band) t),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    jac AS (
      SELECT c.d1, c.d2,
             length(list_filter(range(1, {dedup.NUM_HASHES} + 1),
                                i -> sa.sig[i] = sb.sig[i]))::DOUBLE
               / {dedup.NUM_HASHES} AS ej
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.d1
      JOIN sigs sb ON sb.doc_id = c.d2),
    sized AS (
      SELECT j.d1, j.d2, j.ej, za.n_sh AS na, zb.n_sh AS nb
      FROM jac j JOIN sz za ON za.doc_id = j.d1
                 JOIN sz zb ON zb.doc_id = j.d2
      WHERE j.ej >= 0.5),
    dirs AS (
      SELECT d1, d2, ej * (na + nb) / (1 + ej) / na AS c FROM sized
      UNION ALL
      SELECT d2 AS d1, d1 AS d2, ej * (na + nb) / (1 + ej) / nb AS c FROM sized)
    SELECT d1, d2, round(c, 6) AS est_containment
    FROM dirs WHERE c >= 0.5"""


@register("dedup_minhash_containment", _minhash_containment_sql())
def dedup_minhash_containment(spark, sf_dir):
    """LSH-scale containment estimate (dedup.minhash_containment_pairs):
    Ĉ(A→B) derived from the estimated Jaccard + exact shingle-set sizes
    of ONE symmetric band-join pass — both directions, no directed
    self-join. The scalable companion to dedup_containment (whose exact
    join scales with shingle co-occurrence density)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_containment_pairs(
        docs, F.col("text"), F.col("doc_id")
    )


# -- round-6 session additions: weighted sampling, chunking, line dedup ------

@register(
    "samp_weighted_topk",
    """SELECT doc_id,
              round(-ln((('0x' || substr(md5('wsamp' || doc_id::VARCHAR), 1, 15))::BIGINT + 1)
                        / 1152921504606846976.0) / n_chars, 6) AS priority
       FROM documents
       ORDER BY -ln((('0x' || substr(md5('wsamp' || doc_id::VARCHAR), 1, 15))::BIGINT + 1)
                    / 1152921504606846976.0) / n_chars
       LIMIT 50""",
)
def samp_weighted_topk(spark, sf_dir):
    """Weighted sampling without replacement, k=50 with weight = n_chars
    (curation.weighted_sample_k — Efraimidis–Spirakis A-ES priorities
    −ln(u)/w over md5-derived u): longer documents are proportionally
    more likely to be drawn, the standard token-budget sampling rule.
    Priority is a pure narrow expression; selection is TakeOrdered (never
    a global sort). ln() is the one float transcendental in the repo's
    oracles — round(·,6) absorbs the ≤1-ulp libm difference between
    engines, and the hash-derived priorities make a rank tie at the k
    boundary measure-zero."""
    docs = load_table(spark, sf_dir, "documents")
    out = curation.weighted_sample_k(
        docs, F.col("doc_id"), F.col("n_chars"), k=50, salt="wsamp"
    )
    return out.select("doc_id", F.round("priority", 6).alias("priority"))


@register(
    "txt_chunk_overlap",
    """WITH p AS (
         SELECT doc_id, text,
                unnest(range(1, greatest(length(text), 1) + 1, 90)) AS pos
         FROM documents)
       SELECT doc_id,
              ((pos - 1) // 90)::BIGINT AS chunk_idx,
              substr(text, pos::INTEGER, 120) AS chunk,
              length(substr(text, pos::INTEGER, 120))::BIGINT AS chunk_len
       FROM p""",
)
def txt_chunk_overlap(spark, sf_dir):
    """RAG-style overlapping chunking (curation.chunk_text): 120-char
    windows every 90 chars (30-char overlap), the retrieval-index
    granularity. Zero-exchange narrow generator — sequence → posexplode
    → substring, fully codegen'd; output inherits the scan partitioning
    so a 100 TB corpus chunks without a single shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.chunk_text(
        docs, F.col("text"), F.col("doc_id"), size=120, stride=90
    )


@register(
    "txt_line_dedup",
    r"""WITH ws AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents),
    chunks AS (
      SELECT doc_id,
             unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS chunk_idx,
             unnest([array_to_string(ws[(i * 10 + 1):(i * 10 + 10)], ' ')
                     for i in range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))]) AS chunk
      FROM ws),
    first_occ AS (
      SELECT chunk, min(doc_id * 1000000 + chunk_idx) AS first_key
      FROM chunks GROUP BY chunk)
    SELECT c.doc_id, count(*) AS n_chunks,
           count(CASE WHEN c.doc_id * 1000000 + c.chunk_idx = f.first_key
                      THEN 1 END) AS n_kept,
           coalesce(string_agg(CASE WHEN c.doc_id * 1000000 + c.chunk_idx = f.first_key
                                    THEN c.chunk END,
                               ' ' ORDER BY c.chunk_idx), '') AS clean_text
    FROM chunks c JOIN first_occ f ON c.chunk = f.chunk
    GROUP BY c.doc_id""",
)
def txt_line_dedup(spark, sf_dir):
    """Corpus-level keep-FIRST-occurrence chunk dedup (curation.line_dedup
    — the C4 'discard all but one of any repeated span' rule, at 10-word
    -chunk granularity; complement of txt_boilerplate_removal which drops
    EVERY occurrence): the smallest (doc_id, chunk_idx) occurrence of
    each chunk survives, later copies are removed, documents re-assembled
    in order. One map-side-combinable min-struct aggregate + one shuffle
    join keyed identically (exchange reused) — no window function.

    The oracle linearises min(struct(doc_id, chunk_idx)) as
    min(doc_id·10⁶ + chunk_idx), valid while chunk_idx < 10⁶ (a 10⁷-word
    document) — the fixture max is ~60 words."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.line_dedup(
        docs, F.col("text"), F.col("doc_id"), chunk_size=10
    )


@register(
    "dedup_prefix_filter",
    f"""WITH {_SHINGLES_CTE},
    ex AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS s
           FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
    dfq AS (SELECT s, count(*) AS dfc FROM ex GROUP BY s),
    ords AS (
      SELECT e.doc_id, list(e.s ORDER BY dfc, e.s) AS shs
      FROM ex e JOIN dfq USING (s) GROUP BY e.doc_id),
    pref AS (
      SELECT doc_id,
             unnest(shs[1 : len(shs) - ((4 * len(shs) + 4) // 5) + 1]) AS s
      FROM ords),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id),
    v AS (
      SELECT c.d1, c.d2,
             len(list_intersect(o1.shs, o2.shs)) AS common,
             len(o1.shs) AS n1, len(o2.shs) AS n2
      FROM cand c JOIN ords o1 ON o1.doc_id = c.d1
                  JOIN ords o2 ON o2.doc_id = c.d2)
    SELECT d1, d2,
           (2000000::BIGINT * common + (n1 + n2 - common))
             // (2 * (n1 + n2 - common)) / 1000000.0 AS jaccard
    FROM v WHERE common * 5 >= 4 * (n1 + n2 - common)""",
)
def dedup_prefix_filter(spark, sf_dir):
    """EXACT Jaccard ≥ 0.8 self-join via prefix filtering
    (dedup.prefix_filter_jaccard_pairs — SSJoin/AllPairs/PPJoin):
    lossless where dedup_ngram_jaccard's df-cap is approximate. Docs
    meet only through their rarest ⌈(1−τ)n⌉+1 shingles (canonical
    df-asc order pushes hot boilerplate out of every prefix), so the
    candidate join stays near-linear WITHOUT dropping any true pair;
    ⌈τn⌉ is integer-exact in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.prefix_filter_jaccard_pairs(
        docs, F.col("text"), F.col("doc_id"), k=3, tau_num=4, tau_den=5
    )


from semantic_cpp_spark.pipeline import decomposition  # noqa: E402

_JL_MATRIX_SQL = "[" + ", ".join(
    "[" + ", ".join(f"{s}.0" for s in row) + "]"
    for row in decomposition.jl_signs(8, 64)
) + "]"


@register(
    "emb_jl_project",
    f"""WITH m AS (SELECT {_JL_MATRIX_SQL} AS R),
    dims AS (SELECT unnest(range(0, 8)) AS od)
    SELECT vec_id, od::BIGINT AS out_dim,
           round(list_sum(list_transform(range(1, 65),
                 i -> embedding[i]::DOUBLE * R[od + 1][i]))
                 * {decomposition.JL_SCALE_8}, 6) AS value
    FROM embeddings, m, dims""",
)
def emb_jl_project(spark, sf_dir):
    """Johnson–Lindenstrauss random projection 64→8
    (decomposition.jl_project): data-independent ±1 sign matrix
    (Achlioptas 2003) derived from md5 — the no-fit dimensionality
    reduction before ANN. Signs folded into literal expressions: pure
    JVM narrow map, zero exchanges (same shape as pca_project), and —
    unlike PCA's eigen path — fully SQL-expressible, so this one has a
    HARD value oracle. Dots are LTR folds over exact ±1·float32 terms;
    the shared 1/√8 literal keeps both engines bit-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    return decomposition.jl_project(emb)


@register(
    "txt_pmi_bigrams",
    r"""WITH ws AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents),
    big AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2, count(*) AS n_pair
      FROM ws, LATERAL unnest(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2
      GROUP BY ws[i], ws[i + 1]
      HAVING count(*) >= 5),
    uni AS (
      SELECT w, count(*) AS n_w
      FROM (SELECT unnest(ws) AS w FROM ws) GROUP BY w),
    tot AS (
      SELECT sum(len(ws))::BIGINT AS n_tokens,
             sum(greatest(len(ws) - 1, 0))::BIGINT AS n_bigrams
      FROM ws)
    SELECT b.w1, b.w2, b.n_pair::BIGINT AS n_pair,
           round(ln(b.n_pair) + 2.0 * ln(n_tokens) - ln(n_bigrams)
                 - ln(u1.n_w) - ln(u2.n_w), 6) AS pmi
    FROM big b JOIN uni u1 ON u1.w = b.w1 JOIN uni u2 ON u2.w = b.w2, tot
    ORDER BY pmi DESC, b.w1, b.w2
    LIMIT 25""",
)
def txt_pmi_bigrams(spark, sf_dir):
    """Top-25 collocations by PMI over adjacent word pairs
    (retrieval.pmi_bigrams, Church & Hanks 1990) with the ≥5-count
    floor. Vocab-keyed shuffle joins (never broadcast — a 100 TB vocab
    is GBs), scalar totals broadcast, TakeOrdered on the rounded score
    with word-column tie-breaks so the top-k set is engine-stable."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.pmi_bigrams(docs, F.col("text"), min_count=5, k=25)


@register(
    "txt_zipf_fit",
    r"""WITH uni AS (
      SELECT w, count(*) AS n_w
      FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
            FROM documents)
      GROUP BY w ORDER BY n_w DESC, w LIMIT 100),
    pts AS (
      SELECT ln(row_number() OVER (ORDER BY n_w DESC, w)) AS x,
             ln(n_w) AS y
      FROM uni),
    a AS (
      SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM pts)
    SELECT n::BIGINT AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM a""",
)
def txt_zipf_fit(spark, sf_dir):
    """Zipf power-law fit (retrieval.zipf_fit): OLS of ln(freq) on
    ln(rank) for the top-100 terms — corpus-health diagnostic (natural
    text ≈ slope −1). TakeOrdered top-n with term tie-breaks keeps the
    fitted set engine-identical; the rank window is bounded at 100 rows
    by construction; OLS collapses to closed-form power sums."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.zipf_fit(docs, F.col("text"), top_n=100)


@register(
    "txt_token_entropy",
    r"""WITH ws AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents),
    cnt AS (
      SELECT doc_id, w, count(*) AS c
      FROM (SELECT doc_id, unnest(ws) AS w FROM ws) GROUP BY doc_id, w),
    pd AS (
      SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
             list(c ORDER BY w) AS cs
      FROM cnt GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_types,
           round(ln(n_tokens)
                 - list_sum(list_transform(cs, c -> c::DOUBLE * ln(c::DOUBLE)))
                   / n_tokens, 6) AS entropy,
           (2000000::BIGINT * n_types + n_tokens)
             // (2 * n_tokens) / 1000000.0 AS ttr
    FROM pd""",
)
def txt_token_entropy(spark, sf_dir):
    """Per-document Shannon entropy + type-token ratio
    (text.token_entropy): the repetitiveness quality signal. The
    Σ c·ln c term is a LEFT-TO-RIGHT fold over counts sorted by token,
    bit-matching DuckDB's list_sum over list(c ORDER BY w) — no
    group-sum float nondeterminism; per-doc state bounded by the doc's
    vocabulary. ttr is the exact int/int ratio via stats.ratio_round6
    / the `//` mirror (r13 half-boundary audit conversion); entropy
    stays round(double, 6) — ln-valued, the accepted 1-ulp class."""
    docs = load_table(spark, sf_dir, "documents")
    return text.token_entropy(docs, F.col("text"), F.col("doc_id"))


from semantic_cpp_spark.operators import graph as graph_ops  # noqa: E402


@register(
    "graph_triangle_counts",
    f"""WITH {_SHINGLES_CTE},
    ex0 AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS s
            FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
    dfq AS (SELECT s, count(*) AS dfc FROM ex0 GROUP BY s),
    exf AS (SELECT e.doc_id, e.s FROM ex0 e JOIN dfq USING (s) WHERE dfc <= 100),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM exf GROUP BY doc_id),
    p AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
      FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    edges AS (
      SELECT d1 AS u, d2 AS v
      FROM p JOIN sz sa ON sa.doc_id = d1 JOIN sz sb ON sb.doc_id = d2
      WHERE common::DOUBLE / (sa.n_sh + sb.n_sh - common) >= 0.8),
    deg AS (
      SELECT node, count(*) AS deg
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node),
    o AS (
      SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
                  THEN u ELSE v END AS a,
             CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
                  THEN v ELSE u END AS b
      FROM edges JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
    w AS (SELECT o1.a, o1.b AS x, o2.b AS y
          FROM o o1 JOIN o o2 ON o1.a = o2.a AND o1.b < o2.b),
    t AS (SELECT w.a, w.x, w.y FROM w JOIN edges e ON e.u = w.x AND e.v = w.y),
    n AS (SELECT unnest([a, x, y]) AS node FROM t)
    SELECT node, count(*)::BIGINT AS n_tri FROM n GROUP BY node""",
)
def graph_triangle_counts(spark, sf_dir):
    """Per-node triangle counts over the Jaccard≥0.8 near-dup pair graph
    (graph_ops.triangle_count): node-iterator++ with DEGREE orientation
    — wedge fan-out per apex bounded by O(√m) out-degree, so one hub
    node can never explode the join (Suri & Vassilvitskii WWW'11). The
    duplicate-cluster density diagnostic next to connected_components."""
    docs = load_table(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_pairs(
        docs, F.col("text"), F.col("doc_id"), k=3, threshold=0.8
    )
    return graph_ops.triangle_count(edges)


def _kcore_sql(k: int = 3, rounds: int = 12) -> str:
    """Unrolled parallel-peeling oracle for graph_ops.kcore over the
    MinHash+LSH near-dup pair graph: each of the ``rounds`` chained CTEs
    recomputes degrees and keeps edges whose BOTH endpoints still hold
    degree ≥ k — bitwise the same monotone shrink as the Spark loop.
    Peeling is idempotent at the fixpoint, so a fixed unroll equals the
    early-exiting Spark iteration whenever convergence lands inside the
    cap (pinned by test_kcore_gate_graph_converges_fast). Every round
    CTE is MATERIALIZED: each references its predecessor several times,
    and DuckDB's default CTE inlining would otherwise blow the plan up
    exponentially in the round count (measured: un-materialized 12-round
    unroll never finishes; materialized runs in seconds)."""
    its = []
    prev = "e0"
    for i in range(1, rounds + 1):
        its.append(
            f"""d{i} AS MATERIALIZED (
      SELECT node, count(*) AS dg
      FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
      GROUP BY node),
    e{i} AS MATERIALIZED (
      SELECT e.u, e.v FROM {prev} e
      JOIN d{i} da ON da.node = e.u JOIN d{i} db ON db.node = e.v
      WHERE da.dg >= {k} AND db.dg >= {k})"""
        )
        prev = f"e{i}"
    chain = ",\n    ".join(its)
    return f"""WITH pairs AS MATERIALIZED ({_minhash_sql()}),
    e0 AS MATERIALIZED (SELECT d1 AS u, d2 AS v FROM pairs),
    {chain}
    SELECT node::BIGINT AS node, count(*)::BIGINT AS core_deg
    FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
    GROUP BY node"""


def _core_numbers_sql(max_k: int = 6, rounds: int = 12) -> str:
    """Chained unroll oracle for graph_ops.core_numbers: level k's peel
    starts from level k-1's fixpoint edge set (the (k+1)-core is a
    subgraph of the k-core; at the fixpoint the induced-survivor
    restriction and the final edge set coincide — the same argument the
    Spark loop relies on), each level unrolled ``rounds`` times exactly
    like _kcore_sql. Core number = max level whose survivor set holds
    the node. MATERIALIZED per round for the same plan-explosion reason
    as _kcore_sql."""
    ctes, lvls = [], []
    prev = "e0"
    for k in range(1, max_k + 1):
        for i in range(1, rounds + 1):
            ctes.append(
                f"""dk{k}r{i} AS MATERIALIZED (
      SELECT node, count(*) AS dg
      FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
      GROUP BY node),
    ek{k}r{i} AS MATERIALIZED (
      SELECT e.u, e.v FROM {prev} e
      JOIN dk{k}r{i} da ON da.node = e.u JOIN dk{k}r{i} db ON db.node = e.v
      WHERE da.dg >= {k} AND db.dg >= {k})"""
            )
            prev = f"ek{k}r{i}"
        lvls.append(
            f"""SELECT node, {k} AS k
      FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
      GROUP BY node"""
        )
    chain = ",\n    ".join(ctes)
    unions = "\n      UNION ALL ".join(lvls)
    return f"""WITH pairs AS MATERIALIZED ({_minhash_sql()}),
    e0 AS MATERIALIZED (SELECT d1 AS u, d2 AS v FROM pairs),
    {chain}
    SELECT node::BIGINT AS node, max(k)::BIGINT AS core_num
    FROM ({unions})
    GROUP BY node"""


@register("graph_core_numbers", _core_numbers_sql(max_k=6))
def graph_core_numbers(spark, sf_dir):
    """Full core decomposition of the MinHash+LSH near-dup pair graph
    (graph_ops.core_numbers): per-node core number by iterated parallel
    peeling k = 1, 2, ... — the cluster-density PROFILE where
    graph_kcore_membership gives one k=2 bit (core 1 = tendril, core 2 =
    cycle, core c = inside a (c+1)-clique-ish duplication region).
    Iterative, but HARD-oracle-checkable: each level is monotone and
    idempotent at its fixpoint, so a chained 6-level × 12-round
    MATERIALIZED DuckDB unroll equals the early-exiting Spark loop
    (convergence inside both caps pinned by
    test_core_numbers_gate_graph_within_caps). max_k=6 on both engines —
    the cap binds identically if a cluster is ever denser."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, F.col("text"), F.col("doc_id"))
    return graph_ops.core_numbers(pairs, max_k=6)


@register("graph_kcore_membership", _kcore_sql(k=2))
def graph_kcore_membership(spark, sf_dir):
    """2-core of the MinHash+LSH near-dup pair graph (graph_ops.kcore,
    parallel peeling): the cyclic-duplication extractor — nodes survive
    only inside cycles of mutual near-duplication, where
    connected_components would also chain through incidental bridge
    pairs (every tree-like tendril peels away). Iterative, but a HARD
    value oracle exists: peeling is monotone and idempotent at the
    fixpoint, so a fixed 12-round MATERIALIZED DuckDB unroll equals the
    early-exiting Spark loop (convergence inside the cap is pinned by
    test_kcore_gate_graph_converges_fast). Returns (node, core_deg)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, F.col("text"), F.col("doc_id"))
    return graph_ops.kcore(pairs, k=2)


def _pagerank_sql(n_iter: int = 15, damping: float = 0.85) -> str:
    """Unrolled power-iteration oracle for graph_ops.pagerank over the
    MinHash+LSH near-dup pair graph. DuckDB's plain recursive CTEs cannot
    aggregate over the recursive reference, so the 15 iterations are
    generated as 15 chained CTEs (r1..r15), each mirroring the Spark
    round EXACTLY in expression order: pr' = (1.0 - d)/n + d *
    (coalesce(inflow, 0.0) + dang/n). Every node of the undirected pair
    graph has out-degree >= 1, so the dangling term is identically 0.0
    and drops out on both engines. Base CTEs are MATERIALIZED so the
    minhash pair derivation runs once, not once per iteration."""
    its = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        its.append(
            f"""r{i} AS (
      SELECT nd.node,
             (1.0 - {damping}) / nc.n
               + {damping} * coalesce(inf.inflow, 0.0) AS pr
      FROM nodes nd CROSS JOIN ncount nc
      LEFT JOIN (
        SELECT e.t AS node, sum(p.pr / dg.deg) AS inflow
        FROM {prev} p
        JOIN deg dg ON dg.s = p.node
        JOIN edges e ON e.s = p.node
        GROUP BY e.t) inf ON inf.node = nd.node)"""
        )
        prev = f"r{i}"
    chain = ",\n    ".join(its)
    return f"""WITH pairs AS MATERIALIZED ({_minhash_sql()}),
    edges AS MATERIALIZED (
      SELECT d1 AS s, d2 AS t FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
    nodes AS MATERIALIZED (SELECT DISTINCT s AS node FROM edges),
    deg AS MATERIALIZED (SELECT s, count(*) AS deg FROM edges GROUP BY s),
    ncount AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nc.n AS pr FROM nodes CROSS JOIN ncount nc),
    {chain}
    SELECT node, pr FROM (
      SELECT node::BIGINT AS node, round(pr, 6) AS pr FROM {prev})
    ORDER BY pr DESC, node LIMIT 10"""


def _ppr_sql(n_iter: int = 15, damping: float = 0.85, n_seeds: int = 3) -> str:
    """Unrolled power-iteration oracle for PERSONALIZED pagerank
    (graph_ops.pagerank with seeds): teleport concentrates 1/|seeds| on
    the ``n_seeds`` smallest node ids of the near-dup pair graph — the
    same deterministic seed rule the Spark query derives — and each of
    the chained CTEs replays pr' = (1−d)·t_v + d·inflow_v exactly (the
    undirected pair graph has no dangling nodes, so the dangling·t_v
    term is identically 0.0 on both engines, as in _pagerank_sql).
    (1−d) is emitted as the PYTHON-computed double literal so both
    engines multiply by the identical IEEE value."""
    its = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        its.append(
            f"""r{i} AS (
      SELECT te.node, {1.0 - damping!r} * te.tl
               + {damping} * coalesce(inf.inflow, 0.0) AS pr
      FROM tele te
      LEFT JOIN (
        SELECT e.t AS node, sum(p.pr / dg.deg) AS inflow
        FROM {prev} p
        JOIN deg dg ON dg.s = p.node
        JOIN edges e ON e.s = p.node
        GROUP BY e.t) inf ON inf.node = te.node)"""
        )
        prev = f"r{i}"
    chain = ",\n    ".join(its)
    return f"""WITH pairs AS MATERIALIZED ({_minhash_sql()}),
    edges AS MATERIALIZED (
      SELECT d1 AS s, d2 AS t FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
    nodes AS MATERIALIZED (SELECT DISTINCT s AS node FROM edges),
    deg AS MATERIALIZED (SELECT s, count(*) AS deg FROM edges GROUP BY s),
    seeds AS MATERIALIZED (SELECT node FROM nodes ORDER BY node LIMIT {n_seeds}),
    sc AS (SELECT count(*)::DOUBLE AS k FROM seeds),
    tele AS MATERIALIZED (
      SELECT n.node,
             CASE WHEN s.node IS NOT NULL THEN 1.0 / sc.k ELSE 0.0 END AS tl
      FROM nodes n CROSS JOIN sc LEFT JOIN seeds s ON s.node = n.node),
    r0 AS (SELECT node, tl AS pr FROM tele),
    {chain}
    SELECT node, pr FROM (
      SELECT node::BIGINT AS node, round(pr, 6) AS pr FROM {prev})
    ORDER BY pr DESC, node LIMIT 10"""


@register("graph_ppr_seeds", _ppr_sql())
def graph_ppr_seeds(spark, sf_dir):
    """Top-10 PERSONALIZED PageRank over the MinHash+LSH near-dup pair
    graph (graph_ops.pagerank with ``seeds``): teleport mass
    concentrates on the 3 smallest node ids of the graph — a
    deterministic stand-in for "known-good documents" — so the ranking
    answers which documents duplicate-orbit AROUND the seed set
    (trust/contamination propagation from a labeled anchor set), where
    uniform PageRank answers global centrality. Seeds are derived by a
    pure rule both engines replay (3 smallest graph nodes, collected
    driver-side as KB-scale parameters like k-means centroids); the
    oracle unrolls the identical 15 PPR rounds as chained DuckDB CTEs.
    Ordering pinned on (rounded pr DESC, node) — nodes outside the
    seeds' components hold exactly 0.0 and would otherwise tie-break by
    engine whim."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, F.col("text"), F.col("doc_id")
    ).persist()
    try:
        seeds = [
            r["node"]
            for r in pairs.select(F.col("d1").alias("node"))
            .union(pairs.select(F.col("d2").alias("node")))
            .distinct()
            .orderBy("node")
            .limit(3)
            .collect()
        ]
        if not seeds:
            return spark.createDataFrame([], "node long, pr double")
        # pagerank runs its iteration EAGERLY (localCheckpoint), so the
        # returned frame is checkpoint-backed and pairs can unpersist
        ranks = graph_ops.pagerank(
            pairs, src="d1", dst="d2", n_iter=15, seeds=seeds
        )
    finally:
        pairs.unpersist()
    return (
        ranks.select("node", F.round("pr", 6).alias("pr"))
        .orderBy(F.desc("pr"), "node")
        .limit(10)
    )


@register("graph_pagerank_top10", _pagerank_sql())
def graph_pagerank_top10(spark, sf_dir):
    """Top-10 PageRank nodes of the MinHash+LSH near-dup pair graph
    (graph_ops.pagerank, damping 0.85, 15 power-iteration rounds): which
    documents sit at the center of the duplication structure — the
    canonical-representative signal next to connected_components.
    Iterative, but a HARD value oracle exists: the oracle replays the
    identical 15 rounds as unrolled DuckDB CTEs, so agreement checks the
    distributed join/groupBy iteration bit-for-bit (to round-6 digits).
    Ordering is pinned on the ROUNDED rank then node id — symmetric
    duplicate clusters hold mathematically-equal ranks, so raw-double
    ordering would be an engine coin-flip at the boundary."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, F.col("text"), F.col("doc_id"))
    ranks = graph_ops.pagerank(pairs, src="d1", dst="d2", n_iter=15)
    return (
        ranks.select("node", F.round("pr", 6).alias("pr"))
        .orderBy(F.desc("pr"), "node")
        .limit(10)
    )


@register(
    "txt_ngram_novelty",
    r"""WITH ws AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
      FROM documents),
    sp AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(array_to_string(ws[i : i + 4], ' ')), 1, 15))::BIGINT AS h
      FROM ws, LATERAL unnest(range(1, len(ws) - 3)) AS t(i)
      WHERE len(ws) >= 5),
    fo AS (SELECT h, min(doc_id) AS first_doc FROM sp GROUP BY h)
    SELECT s.doc_id, count(*)::BIGINT AS n_spans,
           count(CASE WHEN fo.first_doc < s.doc_id THEN 1 END)::BIGINT
             AS n_seen_before,
           round(1.0 - count(CASE WHEN fo.first_doc < s.doc_id THEN 1 END)::DOUBLE
                 / count(*), 6) AS novelty
    FROM sp s JOIN fo USING (h)
    GROUP BY s.doc_id""",
)
def txt_ngram_novelty(spark, sf_dir):
    """Per-doc novelty vs earlier docs (text.ngram_novelty): fraction of
    distinct 5-word spans first seen in THIS doc — the recycled-content
    signal that catches gradual corpus staleness no pairwise threshold
    sees. First-occurrence table joins back co-keyed on the span."""
    docs = load_table(spark, sf_dir, "documents")
    return text.ngram_novelty(docs, F.col("text"), F.col("doc_id"), span_words=5)


@register(
    "txt_source_report",
    f"""WITH q AS (
      SELECT source, lang,
             CAST(round(({_QUALITY_SQL}) * 1000000) AS BIGINT) AS qm,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents)
    SELECT source,
           count(*)::BIGINT AS n_docs,
           round(sum(qm)::DOUBLE / count(*) / 1000000.0, 6) AS avg_quality,
           count(DISTINCT fp)::BIGINT AS n_unique,
           round(1.0 - count(DISTINCT fp)::DOUBLE / count(*), 6) AS dup_rate,
           count(DISTINCT lang)::BIGINT AS n_langs
    FROM q GROUP BY source""",
)
def txt_source_report(spark, sf_dir):
    """Per-source corpus health ("which crawl source is garbage"): doc
    count, mean quality, exact-dup rate, language spread. Mean quality
    is summed as int64 MICRO-units (each doc's score rounded once,
    identically in both engines) so the group sum is order-exact — the
    float-sum nondeterminism dodge used throughout. One groupBy(source);
    dup rate via count_distinct on the 32-byte fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    qm = F.round(text.quality_score(F.col("text")) * 1e6, 0).cast("long")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.sum(qm) / F.count(F.lit(1)) / F.lit(1e6), 6).alias("avg_quality"),
        F.count_distinct(text.fingerprint(F.col("text"))).cast("long").alias("n_unique"),
        F.round(
            F.lit(1.0)
            - F.count_distinct(text.fingerprint(F.col("text"))) / F.count(F.lit(1)),
            6,
        ).alias("dup_rate"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
    )


@register(
    "mm_pgm_features",
    """WITH sz AS (SELECT doc_id,
                          (8 + doc_id % 9)::INT AS w,
                          (8 + (doc_id // 9) % 9)::INT AS h
                   FROM documents),
    px AS (SELECT doc_id, w, h, (doc_id * 37 + r.range * 7) % 256 AS v
           FROM sz CROSS JOIN range(0, 256) r
           WHERE r.range < w * h)
    SELECT doc_id,
           (9 + length(w::VARCHAR) + length(h::VARCHAR) + w * h)::BIGINT
             AS n_bytes,
           w AS width, h AS height,
           round(sum(v) / (w * h) / 255.0, 9) AS feat_mean,
           TRUE AS decoded
    FROM px GROUP BY doc_id, w, h""",
)
def mm_pgm_features(spark, sf_dir):
    """Multimodal features through the REAL grayscale netpbm decode path
    (multimodal._decode_pnm_gray — P5/P2 PGM and P4/P1 PBM complete the
    netpbm family): each doc carries a true P5 container with a
    closed-form raster (render_pgm), the kernel parses header + raster
    and replicates gray into R=G=B (so the rgb mean equals the gray
    mean), and the oracle recomputes width/height/n_bytes/mean from the
    closed form."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_pgm_payload(docs)
    feats = multimodal.extract_features(payload)
    return feats.select(
        "doc_id", "n_bytes", "width", "height",
        F.round("feat_mean", 9).alias("feat_mean"), "decoded",
    )


def _cluster_hist_sql() -> str:
    return f"""WITH RECURSIVE pairs AS ({_minhash_sql()}),
    edges AS (SELECT d1 AS s, d2 AS t FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
    nodes AS (SELECT DISTINCT s AS v FROM edges),
    reach(v, l) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT e.t, r.l FROM reach r JOIN edges e ON e.s = r.v),
    comp AS (SELECT v AS doc_id, min(l) AS component FROM reach GROUP BY v),
    sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
    SELECT cluster_size::BIGINT AS cluster_size,
           count(*)::BIGINT AS n_clusters,
           sum(cluster_size)::BIGINT AS n_docs,
           (sum(cluster_size) - count(*))::BIGINT AS n_removable
    FROM sizes GROUP BY cluster_size"""


@register("dedup_cluster_stats", _cluster_hist_sql())
def dedup_cluster_stats(spark, sf_dir):
    """Duplicate-cluster SIZE HISTOGRAM — the dedup summary a corpus
    report leads with: for each cluster size, how many clusters, how
    many docs they hold, and how many are removable (all but one rep per
    cluster). Composes minhash_lsh_pairs → connected_components → two
    tiny groupBys (component, then size — the second input is one row
    per cluster, the first one row per dup doc: both shrink
    monotonically). Oracle recomputes through the independent
    recursive-CTE components."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, F.col("text"), F.col("doc_id"))
    comp = dedup.connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
        (F.sum("cluster_size") - F.count(F.lit(1))).cast("long").alias("n_removable"),
    ).select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "n_clusters", "n_docs", "n_removable",
    )


@register(
    "ir_hybrid_rrf",
    f"""WITH lex0 AS (SELECT * FROM ({retrieval.bm25_sql(_BM25_TERMS, 100)})),
    lexr AS (SELECT doc_id,
                    row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
             FROM lex0),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id = 0),
    sc AS (SELECT e.vec_id AS doc_id, {_sql_cos('e.v', 'q.qv')} AS cos
           FROM e, q WHERE e.vec_id <> q.q_id),
    vecr AS (SELECT doc_id,
                    row_number() OVER (ORDER BY cos DESC NULLS LAST, doc_id)
                      AS vec_rank
             FROM sc QUALIFY vec_rank <= 100),
    fused AS (
      SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
             l.lex_rank, v.vec_rank,
             round(coalesce(1.0 / (60.0 + l.lex_rank), 0.0)
                   + coalesce(1.0 / (60.0 + v.vec_rank), 0.0), 6) AS rrf
      FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id)
    SELECT doc_id,
           row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk,
           rrf, lex_rank, vec_rank
    FROM fused
    QUALIFY rk <= 20""",
)
def ir_hybrid_rrf(spark, sf_dir):
    """Hybrid search by Reciprocal Rank Fusion (retrieval.hybrid_rrf,
    Cormack et al. SIGIR'09): BM25 top-100 for the keyword query fused
    with cosine top-100 for query vector 0 over the shared doc/vec id
    space — rank-based, so the two score scales never need calibration.
    Each branch is its own scalable retrieval; the fusion is a bounded
    ≤2·100-row epilogue."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return retrieval.hybrid_rrf(
        docs, emb, F.col("text"), F.col("doc_id"),
        _BM25_TERMS, query_vec_id=0, k=20, k_each=100,
    )


@register(
    "dedup_bloom_probe",
    """WITH corpus AS (SELECT text FROM documents WHERE doc_id % 10 <> 0),
    pos AS (SELECT DISTINCT
              ('0x' || substr(md5('bloom' || i.range::VARCHAR || '-' || text),
                              1, 15))::BIGINT % 4194304 AS pos
            FROM corpus CROSS JOIN range(0, 5) i),
    filt AS (SELECT pos // 32 AS w,
                    bit_or(1::BIGINT << (pos % 32)::INT) AS mask
             FROM pos GROUP BY w),
    probes AS (SELECT d.doc_id,
                      ('0x' || substr(md5('bloom' || i.range::VARCHAR || '-'
                                          || d.text), 1, 15))::BIGINT
                        % 4194304 AS pos
               FROM documents d CROSS JOIN range(0, 5) i),
    p2 AS (SELECT doc_id, pos // 32 AS w,
                  1::BIGINT << (pos % 32)::INT AS b
           FROM probes),
    hits AS (SELECT doc_id, coalesce((f.mask & p2.b) <> 0, FALSE) AS hit
             FROM p2 LEFT JOIN filt f USING (w))
    SELECT doc_id, bool_and(hit) AS maybe_member,
           (doc_id % 10 <> 0) AS present
    FROM hits GROUP BY doc_id""",
)
def dedup_bloom_probe(spark, sf_dir):
    """Distributed Bloom-filter membership (dedup.bloom_build/probe) —
    the incremental-dedup index primitive: the corpus (here docs with
    doc_id % 10 ≠ 0) builds a SPARSE (word, mask) filter once, every
    probe batch (here all docs) joins it broadcast on the word index,
    and only maybe-members ever touch the corpus. No false negatives by
    construction (every present doc probes true); false positives are
    the sizing knob — 4M bits / 5 hashes ≈ (k·n/m)^k ≈ 1e-13 at this
    SF, and the filter contents are a PURE md5 function of the data, so
    the oracle replays membership (including any false positive)
    bit-for-bit. At 100 TB the filter persists as parquet next to the
    corpus (the precomputed-index shape of dedup_incremental_batch) and
    the probe stays a broadcast join against ≤n_bits/32 rows."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bloom = dedup.bloom_build(corpus, F.col("text"))
    return dedup.bloom_probe(
        bloom, docs, F.col("text"), F.col("doc_id")
    ).select(
        F.col("id").alias("doc_id"),
        "maybe_member",
        (F.col("id") % 10 != 0).alias("present"),
    )


_EVAL_TERMS = ["data", "query", "spark", "merge", "filter"]


@register(
    "ir_rank_metrics",
    f"""WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
      FROM documents),
    b2 AS (SELECT doc_id, len(t)::BIGINT AS dl, t FROM base),
    stats AS (SELECT count(*)::BIGINT AS n_docs_total, avg(dl) AS avgdl FROM b2),
    tf AS (
      SELECT doc_id, dl, term, count(*)::BIGINT AS tf
      FROM (SELECT doc_id, dl,
                   unnest(list_filter(t, w -> w IN ({', '.join(repr(t) for t in _EVAL_TERMS)}))) AS term
            FROM b2)
      GROUP BY doc_id, dl, term),
    dft AS (SELECT term, count(*)::BIGINT AS dfreq FROM tf GROUP BY term),
    scored AS (
      SELECT tf.term, tf.doc_id, tf.tf,
             round(ln(1.0 + (stats.n_docs_total - dft.dfreq + 0.5)
                            / (dft.dfreq + 0.5))
                   * ((tf.tf * (1.2 + 1.0))
                      / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))),
                   6) AS score
      FROM tf JOIN dft USING (term), stats),
    run AS (SELECT term AS query_id, doc_id,
                   row_number() OVER (PARTITION BY term
                                      ORDER BY score DESC, doc_id) AS rk
            FROM scored QUALIFY rk <= 10),
    qrels AS (SELECT term AS query_id, doc_id,
                     least(greatest(tf - 1, 0), 2)::BIGINT AS rel
              FROM tf),
    got AS (SELECT r.query_id, r.rk, coalesce(q.rel, 0) AS rel
            FROM run r LEFT JOIN qrels q USING (query_id, doc_id)),
    perq AS (SELECT query_id,
                    list_sum(list((pow(2.0, rel) - 1.0) / log2(rk + 1.0)
                                  ORDER BY rk)) AS dcg,
                    sum((rel > 0)::BIGINT) AS hits,
                    min(CASE WHEN rel > 0 THEN rk END) AS first_rel
             FROM got GROUP BY query_id),
    ideal0 AS (SELECT query_id, rel,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, doc_id) AS rk
               FROM qrels WHERE rel > 0),
    ideal AS (SELECT query_id,
                     list_sum(list((pow(2.0, rel) - 1.0) / log2(rk + 1.0)
                                   ORDER BY rk)) AS idcg
              FROM ideal0 WHERE rk <= 10 GROUP BY query_id),
    nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel
             FROM qrels WHERE rel > 0 GROUP BY query_id)
    SELECT p.query_id,
           round(coalesce(p.dcg / nullif(i.idcg, 0.0), 0.0), 6) AS ndcg,
           round(coalesce(1.0 / p.first_rel, 0.0), 6) AS mrr,
           round(p.hits / 10.0, 6) AS p_at_k,
           coalesce((2000000::BIGINT * p.hits + n.n_rel)
                      // (2 * n.n_rel) / 1000000.0, 0.0) AS r_at_k
    FROM perq p LEFT JOIN ideal i USING (query_id)
    LEFT JOIN nrel n USING (query_id)""",
)
def ir_rank_metrics(spark, sf_dir):
    """TREC-style retrieval evaluation under the gate: per single-term
    query, NDCG@10 / MRR / P@10 / R@10 of the BM25 ranking
    (retrieval.per_term_bm25_runs) against graded labels derived from
    the corpus itself — rel = min(max(tf−1, 0), 2), so tf=1 docs are
    retrieved-but-irrelevant and BM25's length normalization (which
    ranks short tf=1 docs above long tf=2 docs) makes every metric
    non-trivial. Both DCG folds are rank-ordered left-to-right
    (F.aggregate ↔ list_sum over an ORDER BY rk list — the
    emb_whiten_norms pairing); MRR/P/R are single divisions of exact
    int64 counts (retrieval.rank_eval) — R@10's unbounded denominator
    rounds by stats.ratio_round6 / the `//` mirror (r13 half-boundary
    audit conversion; MRR/P@10 denominators ≤ 10 are provably
    half-safe, see rank_eval)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = retrieval.term_tf(docs, F.col("text"), F.col("doc_id"), _EVAL_TERMS)
    run = retrieval.per_term_bm25_runs(
        docs, F.col("text"), F.col("doc_id"), _EVAL_TERMS, k=10, tf=tf
    )
    # qrels derive from the SAME tf frame the run consumes — one
    # tokenize + one (doc, term) shuffle, reused across both branches
    qrels = tf.select(
        F.col("term").alias("query_id"),
        "doc_id",
        F.least(F.greatest(F.col("tf") - 1, F.lit(0)), F.lit(2))
        .cast("long")
        .alias("rel"),
    )
    return retrieval.rank_eval(
        run.select("query_id", "doc_id", "rk"), qrels, k=10
    )


@register(
    "samp_negative_pairs",
    """WITH pos AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    np AS (SELECT count(*) AS n_items FROM part),
    cand AS (
      SELECT u, j.range AS j,
             ('0x' || substr(md5('neg' || u::VARCHAR || '-' || j.range::VARCHAR),
                             1, 15))::BIGINT % n_items AS item
      FROM (SELECT DISTINCT u FROM pos), np, range(0, 10) j),
    neg AS (
      SELECT c.u, c.item, min(c.j) AS j
      FROM cand c ANTI JOIN pos p ON p.u = c.u AND p.item = c.item
      GROUP BY c.u, c.item)
    SELECT u AS user, item,
           row_number() OVER (PARTITION BY u ORDER BY j, item) AS rank
    FROM neg
    QUALIFY rank <= 5""",
)
def samp_negative_pairs(spark, sf_dir):
    """Deterministic negative sampling (curation.negative_samples): up
    to 5 parts each customer never ordered, drawn by md5(user, draw) —
    the contrastive-training counterpart of the positive (customer,
    part) pairs, reproducible at any cluster size. Item count derives
    from the part table (broadcast 1-row scalar), candidates explode
    narrowly, the anti-join keys (user, item) co-keyed with the dedup
    groupBy, and the final per-user cut is a bounded ≤10-row window."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pos = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    n_items = part.agg(F.count(F.lit(1)).alias("n_items"))
    out = curation.negative_samples(pos, n_items, k=5, margin=5)
    return out.select(F.col("user"), "item", "rank")


@register(
    "sim_lsh_recall_at_5",
    f"""WITH ex AS (SELECT q_id, vec_id FROM ({_COS_SQL})),
    ap AS (SELECT q_id, vec_id FROM ({_lsh_sql()})),
    hits AS (
      SELECT e.q_id, count(a.vec_id) AS n_hits
      FROM ex e LEFT JOIN ap a ON a.q_id = e.q_id AND a.vec_id = e.vec_id
      GROUP BY e.q_id)
    SELECT q_id, n_hits::BIGINT AS n_hits,
           round(n_hits / 5.0, 6) AS recall_at_5
    FROM hits""",
)
def sim_lsh_recall_at_5(spark, sf_dir):
    """Measured retrieval QUALITY as a first-class query: recall@5 of
    the bucket-LSH ANN against the exact cosine baseline, per query —
    the quantity the sim_* determinism oracles deliberately don't check
    (they reproduce the blocking; this scores it). Both branches are
    the registered operators themselves; the comparison is a bounded
    ≤15-row join. The sweep across planes/K lives in scripts/
    ann_recall.py + SCALING.md; this pins the headline number under the
    driver gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, [0, 1, 2], k=5).select("q_id", "vec_id")
    approx = similarity.lsh_bucket_topk(
        emb, [0, 1, 2], k=5, dims=64, planes=similarity.LSH_PLANES
    ).select(F.col("q_id").alias("aq"), F.col("vec_id").alias("av"))
    hits = (
        exact.join(
            approx,
            (F.col("aq") == F.col("q_id")) & (F.col("av") == F.col("vec_id")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count("av").cast("long").alias("n_hits"))
    )
    return hits.select(
        "q_id", "n_hits", F.round(F.col("n_hits") / F.lit(5.0), 6).alias("recall_at_5")
    )


_TRUNC_DIMS = [8, 16, 32]


def _trunc_recall_sql() -> str:
    """Per-truncation recall oracle: exact full-64-dim top-5 vs top-5
    over the first d dims (DuckDB list slice v[1:d] — same LTR
    list_dot_product fold as the full-width cosine)."""
    trunc_ctes = ",\n    ".join(
        f"""t{d} AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id, {_sql_cos(f'e.v[1:{d}]', f'q.qv[1:{d}]')} AS cos,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY cos DESC NULLS LAST, e.vec_id) AS rk
        FROM e, q WHERE e.vec_id <> q.q_id)
      WHERE rk <= 5)"""
        for d in _TRUNC_DIMS
    )
    unions = "\n      UNION ALL ".join(
        f"""SELECT {d} AS dims, ex.q_id, count(a.vec_id) AS n_hits
      FROM exact ex LEFT JOIN t{d} a
        ON a.q_id = ex.q_id AND a.vec_id = ex.vec_id
      GROUP BY ex.q_id"""
        for d in _TRUNC_DIMS
    )
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id, {_sql_cos('e.v', 'q.qv')} AS cos,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY cos DESC NULLS LAST, e.vec_id) AS rk
        FROM e, q WHERE e.vec_id <> q.q_id)
      WHERE rk <= 5),
    {trunc_ctes}
    SELECT dims::BIGINT AS dims, q_id, n_hits::BIGINT AS n_hits,
           round(n_hits / 5.0, 6) AS recall_at_5
    FROM ({unions})"""


@register("sim_dim_truncation_recall", _trunc_recall_sql())
def sim_dim_truncation_recall(spark, sf_dir):
    """Matryoshka-style dimension-truncation diagnostic under the gate:
    recall@5 of brute cosine over the first d ∈ {8, 16, 32} dims against
    the exact 64-dim baseline, per query — the "can we store a prefix of
    the embedding" question every vector-storage budget asks (truncation
    = 8×/4×/2× memory + bandwidth savings if recall holds).

    Plan shape (r15): ONE broadcast-query corpus scan computes all
    three truncated cosines side by side (the per-dims scans were
    recomputed once per union branch — 3 corpus scans of interpreted
    HOF folds — and the exact baseline re-ran once per branch on top:
    6 corpus passes for a 4-pass computation). The (q_id, vec_id,
    cos8, cos16, cos32) proxy table is localCheckpointed — narrow
    rows, the guide-§8 "decide on small rows" discipline — and each
    dims branch is a window + ≤15-row epilogue over it. Arithmetic is
    verbatim cosine_topk: elementwise double cast then F.slice
    (cast∘slice ≡ slice∘cast), the same safe_cos LTR fold, the same
    (cos DESC, vec_id) tie-break, so the per-dims top-5 SETS — the
    only thing the recall join consumes — are bit-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = (
        similarity.cosine_topk(emb, [0, 1, 2], k=5)
        .select("q_id", "vec_id")
        .localCheckpoint()  # 15 rows; consumed once per dims branch
    )
    ed = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    q = ed.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    scored = (
        ed.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            *[
                similarity.safe_cos(
                    F.slice(F.col("v"), 1, d), F.slice(F.col("qv"), 1, d)
                ).alias(f"cos{d}")
                for d in _TRUNC_DIMS
            ],
        )
        .localCheckpoint()
    )
    out = None
    for d in _TRUNC_DIMS:
        w = Window.partitionBy("q_id").orderBy(
            F.col(f"cos{d}").desc(), F.col("vec_id")
        )
        approx = (
            scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= 5)
            .select(F.col("q_id").alias("aq"), F.col("vec_id").alias("av"))
        )
        hits = (
            exact.join(
                approx,
                (F.col("aq") == F.col("q_id")) & (F.col("av") == F.col("vec_id")),
                "left",
            )
            .groupBy("q_id")
            .agg(F.count("av").cast("long").alias("n_hits"))
            .select(
                F.lit(d).cast("long").alias("dims"),
                "q_id",
                "n_hits",
                F.round(F.col("n_hits") / F.lit(5.0), 6).alias("recall_at_5"),
            )
        )
        out = hits if out is None else out.unionByName(hits)
    return out


@register(
    "sim_truncation_rescore",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT vec_id, v[1:16] AS p FROM e),
    qp AS (SELECT vec_id AS q_id, p AS qpv FROM p WHERE vec_id IN (0, 1, 2)),
    cand AS (
      SELECT q_id, vec_id FROM (
        SELECT qp.q_id, p.vec_id, {_sql_cos('p.p', 'qp.qpv')} AS pcos,
               row_number() OVER (PARTITION BY qp.q_id
                                  ORDER BY pcos DESC NULLS LAST, p.vec_id) AS rc
        FROM p, qp WHERE p.vec_id <> qp.q_id)
      WHERE rc <= 50),
    qf AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2))
    SELECT q_id, rk::BIGINT AS rk, vec_id, round(cos, 6) AS cos FROM (
      SELECT c.q_id, e.vec_id, {_sql_cos('e.v', 'qf.qv')} AS cos,
             row_number() OVER (PARTITION BY c.q_id
                                ORDER BY {_sql_cos('e.v', 'qf.qv')} DESC NULLS LAST,
                                         e.vec_id) AS rk
      FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN qf ON qf.q_id = c.q_id)
    WHERE rk <= 5""",
)
def sim_truncation_rescore(spark, sf_dir):
    """Two-stage truncation ANN under the gate
    (similarity.truncated_rescore_topk): d=16 prefix-cosine candidate
    scan (top-50/query, 4× less scan bandwidth when the prefix is its
    own column) + exact 64-dim rescore of the survivors — the standard
    pattern that repairs one-stage truncation's recall collapse on
    non-matryoshka embeddings (sim_dim_truncation_recall's honest
    negative). Deterministic candidate cut on (prefix_cos, vec_id), so
    the oracle replays the identical two windows; recall vs C measured
    on both embedding regimes in scripts/trunc_recall.py + SCALING.md."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.truncated_rescore_topk(
        emb, [0, 1, 2], k=5, prefix_dims=16, n_candidates=50
    )


_MM_HISTOGRAM_SQL = """WITH sz AS (SELECT doc_id,
                          (8 + doc_id % 9)::INT AS w,
                          (8 + (doc_id // 9) % 9)::INT AS h
                   FROM documents),
    px AS (SELECT doc_id, r.range AS p
           FROM sz CROSS JOIN range(0, 256) r
           WHERE r.range < w * h),
    l AS (SELECT doc_id,
                 (((doc_id * 31 + 3 * p) % 256)
                  + ((doc_id * 31 + 3 * p + 1) % 256)
                  + ((doc_id * 31 + 3 * p + 2) % 256)) // 3 AS luma
          FROM px)
    SELECT doc_id, (luma // 64)::BIGINT AS bin, count(*)::BIGINT AS n_px
    FROM l GROUP BY doc_id, luma // 64"""


def mm_image_histogram(spark, sf_dir):
    """Per-image 4-bin luma histogram through the REAL PPM decode
    (multimodal.image_histograms): integer (r+g+b)//3 luma, equal-width
    bins — the exposure-profile aggregate, with the oracle replaying
    the closed-form raster pixel-for-pixel. 1→bins Arrow fan-out, no
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_ppm_payload(docs)
    return multimodal.image_histograms(payload, n_bins=4)


_PQ_ADC_SQL = """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    mrange AS (SELECT unnest(range(0, 4)) AS m),
    books AS (SELECT m, vec_id AS c_id, v[m*16+1 : m*16+16] AS cv
              FROM e, mrange WHERE vec_id < 16),
    sub AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS xv FROM e, mrange),
    sc AS (SELECT s.vec_id, s.m, b.c_id,
                  list_dot_product(s.xv, s.xv)
                    - 2.0 * list_dot_product(s.xv, b.cv)
                    + list_dot_product(b.cv, b.cv) AS d2
           FROM sub s JOIN books b ON b.m = s.m),
    codes AS (SELECT vec_id, m, c_id AS code FROM
              (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                            ORDER BY d2, c_id) AS r
               FROM sc) WHERE r = 1),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
    qsub AS (SELECT q_id, m, qv[m*16+1 : m*16+16] AS qx FROM q, mrange),
    lut AS (SELECT qs.q_id, qs.m, b.c_id,
                   list_dot_product(qs.qx, qs.qx)
                     - 2.0 * list_dot_product(qs.qx, b.cv)
                     + list_dot_product(b.cv, b.cv) AS qd2
            FROM qsub qs JOIN books b ON b.m = qs.m),
    adc AS (SELECT l.q_id, c.vec_id, round(sum(l.qd2), 6) AS adc
            FROM codes c JOIN lut l ON l.m = c.m AND l.c_id = c.code
            GROUP BY l.q_id, c.vec_id)
    SELECT q_id, rk::BIGINT AS rk, vec_id, adc FROM
      (SELECT *, row_number() OVER (PARTITION BY q_id
                                    ORDER BY adc, vec_id) AS rk
       FROM adc WHERE q_id <> vec_id)
    WHERE rk <= 5"""


def sim_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN under the gate (similarity.pq_books/
    pq_encode/pq_adc_topk — the FAISS IVF-PQ compression path): 4
    subspaces × 16 id-seeded centroids → 4-bit codes (16 bits per
    vector vs 256 float bytes, 128×), queries answered by ASYMMETRIC
    distance — exact query-to-centroid tables + code lookups, the
    original vectors never read at probe time. Codebooks are
    deterministic (id-seeded, the kmeans_assign discipline), so the
    oracle replays books, encoding argmins, and the ADC sums exactly;
    recall-vs-compression is pinned in tests and measured in
    SCALING.md. Ordering on (rounded adc, vec_id)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(emb, [0, 1, 2], k=5)


_PQ_TRAIN_SQL = """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    mrange AS (SELECT unnest(range(0, 4)) AS m),
    books AS (SELECT m, vec_id AS c_id, v[m*16+1 : m*16+16] AS cv
              FROM e, mrange WHERE vec_id < 16),
    sub AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS xv FROM e, mrange),
    sc AS (SELECT s.vec_id, s.m, s.xv, b.c_id,
                  list_dot_product(s.xv, s.xv)
                    - 2.0 * list_dot_product(s.xv, b.cv)
                    + list_dot_product(b.cv, b.cv) AS d2
           FROM sub s JOIN books b ON b.m = s.m),
    asgn AS (SELECT vec_id, m, c_id, xv FROM
             (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                           ORDER BY d2, c_id) AS r
              FROM sc) WHERE r = 1),
    dims AS (SELECT a.m, a.c_id, d.range AS dim,
                    round(a.xv[d.range + 1] * 1000000.0)::BIGINT AS xi
             FROM asgn a CROSS JOIN range(0, 16) d)
    SELECT m, c_id, dim::BIGINT AS dim,
           ((sum(xi) + 4000000 * count(*)) // count(*) - 4000000)::BIGINT AS q
    FROM dims GROUP BY m, c_id, dim"""


def sim_pq_train_means(spark, sf_dir):
    """One distributed PQ codebook training step as an EXACT INTEGER
    table (similarity.pq_train_means → pq_books_trained): per-subspace
    nearest-seed assignment, then each centroid component as the
    members' mean in micro-units — components round to int64 before
    the group sum (order-exact) and the mean is a positive-shifted
    integer floor division, so the oracle verifies the whole
    assign→group→mean pipeline cell-for-cell with no float anywhere.
    The honest recall finding for the trained books at 4-bit codes is
    measured and documented in pq_books_trained: the rescore stage,
    not one training step, is the recall lever at this code budget."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_train_means(emb)


_MM_AHASH_SQL = """WITH sz AS (SELECT doc_id,
                          (8 + doc_id % 9)::BIGINT AS w,
                          (8 + (doc_id // 9) % 9)::BIGINT AS h
                   FROM documents),
    px AS (SELECT doc_id, w, h, r.range AS p
           FROM sz CROSS JOIN range(0, 256) r
           WHERE r.range < w * h),
    l AS (SELECT doc_id, w, h, p,
                 (((doc_id * 31 + 3 * p) % 256)
                  + ((doc_id * 31 + 3 * p + 1) % 256)
                  + ((doc_id * 31 + 3 * p + 2) % 256)) // 3 AS luma
          FROM px),
    bk AS (SELECT doc_id,
                  ((p // w) * 8 // h) * 8 + ((p % w) * 8 // w) AS b,
                  luma
           FROM l),
    m AS (SELECT doc_id, b, (sum(luma) // count(*))::BIGINT AS m
          FROM bk GROUP BY doc_id, b),
    g AS (SELECT doc_id, sum(m)::BIGINT AS tot FROM m GROUP BY doc_id),
    bits AS (SELECT m.doc_id, b,
                    CASE WHEN m * 64 > tot THEN 1::BIGINT
                         ELSE 0::BIGINT END AS bit
             FROM m JOIN g ON g.doc_id = m.doc_id)
    SELECT doc_id,
           sum(CASE WHEN b < 32 THEN bit << b ELSE 0 END)::BIGINT AS h1,
           sum(CASE WHEN b >= 32 THEN bit << (b - 32) ELSE 0 END)::BIGINT AS h2
    FROM bits GROUP BY doc_id"""


def mm_image_ahash(spark, sf_dir):
    """Perceptual average-hash per image through the REAL PPM decode
    (multimodal.image_ahash): integer luma → 8×8 block-mean downscale
    (each pixel to exactly one block, no interpolation) → bit_b =
    m_b·64 > Σm (strict, division-free) → 64 bits packed into two
    sign-safe int64 halves. The visual near-dup fingerprint next to
    SimHash-for-text; the oracle replays decode, block mapping, floor
    means, and bit packing from the closed-form raster bit-for-bit.
    Near-dup PAIRS (pigeonhole chunk blocking + bit_count(xor), never
    all-pairs) are pinned in tests — the fixture corpus has no
    planted visual duplicates, so the pair set is trivially empty
    there."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_ppm_payload(docs)
    return multimodal.image_ahash(payload, grid=8)


_MM_AUDIO_SQL = """WITH sz AS (SELECT doc_id, (256 + doc_id % 128)::BIGINT AS n
                   FROM documents),
    smp AS (SELECT doc_id, n, r.range AS i,
                   ((doc_id * 17 + r.range * 13) % 2001) - 1000 AS s
            FROM sz CROSS JOIN range(0, 384) r
            WHERE r.range < n),
    fr AS (SELECT doc_id, (i * 33) // n AS f, s FROM smp),
    en AS (SELECT doc_id, f, (sum(s * s) // count(*))::BIGINT AS m
           FROM fr GROUP BY doc_id, f),
    d AS (SELECT a.doc_id, a.f,
                 CASE WHEN a.m > b.m THEN 1::BIGINT ELSE 0::BIGINT END AS bit
          FROM en a JOIN en b ON b.doc_id = a.doc_id AND b.f = a.f + 1
          WHERE a.f < 32)
    SELECT doc_id, sum(bit << f)::BIGINT AS fp FROM d GROUP BY doc_id"""


def mm_audio_fingerprint(spark, sf_dir):
    """Acoustic fingerprint per clip through the REAL WAV decode
    (multimodal.audio_fingerprints): 33 equal-occupancy frames →
    integer mean energies → 32 energy-delta bits in one sign-safe
    int64 — the audio near-dup descriptor next to mm_image_ahash, with
    the oracle replaying decode, framing, floor means, and bit packing
    from the closed-form sample formula bit-for-bit. Near-dup PAIRS
    (4×8-bit pigeonhole chunks + bit_count(xor)) are pinned in tests."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_wav_payload(docs)
    return multimodal.audio_fingerprints(payload)


_MM_VIDEO_SQL = """WITH sz AS (SELECT doc_id, (4 + doc_id % 4)::BIGINT AS nf
                   FROM documents),
    tr AS (SELECT doc_id, nf, f.range AS f, i.range AS i
           FROM sz CROSS JOIN range(0, 6) f CROSS JOIN range(0, 64) i
           WHERE f.range < nf - 1),
    d AS (SELECT doc_id, nf,
                 abs(((doc_id * 7 + (f + 1) * 11 + i) % 256)
                     - ((doc_id * 7 + f * 11 + i) % 256)) AS ad
          FROM tr)
    SELECT doc_id, max(nf)::BIGINT AS n_frames,
           sum(ad)::BIGINT AS sum_abs_delta,
           (sum(ad) * 1000000 // (64 * (max(nf) - 1)))::BIGINT AS motion_ppm
    FROM d GROUP BY doc_id"""


def mm_video_motion(spark, sf_dir):
    """Per-clip temporal motion profile through the REAL Y4M decode
    (multimodal.video_motion): summed |luma delta| between consecutive
    frames in exact int64 + the mean per-pixel per-transition delta in
    integer micro-units (ppm — a float round here measurably drifts
    between Python and SQL rounding) —
    the shot-boundary / static-scene discriminant video curation
    thresholds on, completing the image (aHash) / audio (energy-delta)
    / video (motion) multimodal analytics triad. The oracle replays
    frame walking and the per-pixel closed form bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    payload = multimodal.attach_y4m_payload(docs)
    return multimodal.video_motion(payload)


_MM_NULLS = ("CAST(NULL AS BIGINT) AS l1", "CAST(NULL AS BIGINT) AS l2",
             "CAST(NULL AS BIGINT) AS l3", "CAST(NULL AS DOUBLE) AS d1",
             "CAST(NULL AS BOOLEAN) AS b1")


def _mm_family_sql() -> str:
    """Tagged union of the five multimodal decode oracles on the shared
    (aspect, doc_id, l1, l2, l3, d1, b1) slot schema — every member row
    survives verbatim (see mm_decode_family)."""
    def slots(**kv: str) -> str:
        return ", ".join(kv.get(s.split()[-1], s) for s in _MM_NULLS)

    return f"""SELECT 'ahash' AS aspect, doc_id,
           {slots(l1='h1 AS l1', l2='h2 AS l2')}
    FROM ({_MM_AHASH_SQL}) __ah
    UNION ALL
    SELECT 'histogram' AS aspect, doc_id,
           {slots(l1='bin AS l1', l2='n_px AS l2')}
    FROM ({_MM_HISTOGRAM_SQL}) __hg
    UNION ALL
    SELECT 'audio' AS aspect, doc_id, {slots(l1='fp AS l1')}
    FROM ({_MM_AUDIO_SQL}) __au
    UNION ALL
    SELECT 'video' AS aspect, doc_id,
           {slots(l1='n_frames AS l1', l2='sum_abs_delta AS l2',
                  l3='motion_ppm AS l3')}
    FROM ({_MM_VIDEO_SQL}) __vd
    UNION ALL
    SELECT 'tiff' AS aspect, doc_id,
           {slots(l1='n_bytes AS l1', l2='width::BIGINT AS l2',
                  l3='height::BIGINT AS l3', d1='feat_mean AS d1',
                  b1='decoded AS b1')}
    FROM ({_MM_TIFF_SQL}) __tf"""


@register("mm_decode_family", _mm_family_sql())
def mm_decode_family(spark, sf_dir):
    """The multimodal decode/analytics family under ONE gate (r13 gate
    consolidation — one driver row re-verifies the PPM luma decode
    twice over (aHash bit packing + histogram binning), the WAV energy
    fingerprint, the Y4M motion profile, and the TIFF container
    round-trip; every member row survives verbatim in the tagged slot
    union (aspect, doc_id, l1, l2, l3, d1, b1), so no value coverage
    is lost). Aspect → member mapping: 'ahash' → (h1, h2);
    'histogram' → (bin, n_px); 'audio' → (fp); 'video' → (n_frames,
    sum_abs_delta, motion_ppm); 'tiff' → (n_bytes, width, height,
    feat_mean, decoded). Five independent 1→1 Arrow decode branches —
    exchange-free each, unchanged by the union."""
    L = lambda c: F.col(c).cast("long")  # noqa: E731
    NL = F.lit(None).cast("long")
    ND = F.lit(None).cast("double")
    NB = F.lit(None).cast("boolean")

    def shape(df, aspect, l1=NL, l2=NL, l3=NL, d1=ND, b1=NB):
        return df.select(
            F.lit(aspect).alias("aspect"), L("doc_id").alias("doc_id"),
            l1.alias("l1"), l2.alias("l2"), l3.alias("l3"),
            d1.alias("d1"), b1.alias("b1"),
        )

    ah = shape(mm_image_ahash(spark, sf_dir), "ahash", l1=L("h1"), l2=L("h2"))
    hg = shape(
        mm_image_histogram(spark, sf_dir), "histogram",
        l1=L("bin"), l2=L("n_px"),
    )
    au = shape(mm_audio_fingerprint(spark, sf_dir), "audio", l1=L("fp"))
    vd = shape(
        mm_video_motion(spark, sf_dir), "video",
        l1=L("n_frames"), l2=L("sum_abs_delta"), l3=L("motion_ppm"),
    )
    tf = shape(
        mm_tiff_features(spark, sf_dir), "tiff",
        l1=L("n_bytes"), l2=L("width"), l3=L("height"),
        d1=F.col("feat_mean").cast("double"), b1=F.col("decoded"),
    )
    out = ah
    for part in (hg, au, vd, tf):
        out = out.unionByName(part)
    return out


@register(
    "emb_cluster_cohesion",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < {clustering.KMEANS_K}),
    scored AS (SELECT e.vec_id, e.v, c.c_id,
           list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
             + list_dot_product(c.cv, c.cv) AS d2
       FROM e, c),
    assigned AS (SELECT vec_id, v, c_id FROM
       (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS r
        FROM scored) WHERE r = 1),
    u AS (SELECT c_id,
                 list_transform(v, x -> CAST(round(
                     x / sqrt(list_sum(list_transform(v, y -> y * y)))
                     * 1000000) AS BIGINT)) AS u
          FROM assigned
          WHERE list_sum(list_transform(v, y -> y * y)) > 0),
    exu AS (SELECT c_id, d.dim, u.u[d.dim] AS w
            FROM u, (SELECT unnest(range(1, 65)) AS dim) d),
    sums AS (SELECT c_id, dim, sum(w) AS s FROM exu GROUP BY c_id, dim),
    s2 AS (SELECT c_id,
                  list_sum(list_transform(list(s ORDER BY dim),
                        x -> (x / 1000000.0) * (x / 1000000.0))) AS s2
           FROM sums GROUP BY c_id),
    dg AS (SELECT c_id, sum(w * w) AS d, (count(*) // 64)::BIGINT AS n
           FROM exu GROUP BY c_id)
    SELECT s2.c_id, dg.n AS n_members,
           CASE WHEN dg.n > 1
                THEN round((s2.s2 - dg.d::DOUBLE / 1e12)
                           / (dg.n * (dg.n - 1.0)), 6) END AS mean_pair_cos
    FROM s2 JOIN dg USING (c_id)""",
)
def emb_cluster_cohesion(spark, sf_dir):
    """Per-cluster mean pairwise cosine in O(n)
    (clustering.cluster_cohesion): Σ_{i≠j}cos = ‖Σu‖² − Σ‖u‖² over
    unit vectors — one aggregate per cluster, NO pair join at any
    scale (the naive form is O(n²) per cluster). Unit components round
    to int64 micro-units before the group sum (order-exact); the
    diagonal is the EXACT integer Σ‖u‖², not the nominal n, so the
    rounding bias cancels. Singletons report NULL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.cluster_cohesion(emb, clustering.KMEANS_K)


@register(
    "emb_ivf_balance",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < {similarity.IVF_K}),
    scored AS (
      SELECT e.vec_id, c.c_id,
             {_sql_cos('e.v', 'c.cv')} AS ccos
      FROM e, c),
    assigned AS (
      SELECT vec_id, c_id AS centroid_id
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY ccos DESC NULLS LAST, c_id) AS r
            FROM scored)
      WHERE r = 1),
    ls AS (SELECT centroid_id, count(*) AS sz FROM assigned GROUP BY centroid_id)
    SELECT count(*)::BIGINT AS n_lists,
           min(sz)::BIGINT AS min_sz, max(sz)::BIGINT AS max_sz,
           round(avg(sz), 6) AS avg_sz,
           round(max(sz)::DOUBLE / avg(sz), 6) AS imbalance
    FROM ls""",
)
def emb_ivf_balance(spark, sf_dir):
    """IVF index-health diagnostic: inverted-list size distribution
    (min/max/avg and the max/avg imbalance factor — a hot list is the
    IVF equivalent of a skewed shuffle partition: its queries scan
    imbalance× the average work). One row; the same assignment CTEs as
    sim_ivf_topk, then two tiny aggregates."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = similarity.ivf_assign(emb, 64, n_centroids=similarity.IVF_K)
    ls = assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("sz"))
    return ls.agg(
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.min("sz").cast("long").alias("min_sz"),
        F.max("sz").cast("long").alias("max_sz"),
        F.round(F.avg("sz"), 6).alias("avg_sz"),
        F.round(F.max("sz") / F.avg("sz"), 6).alias("imbalance"),
    )


_MIX_TARGET = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}
_MIX_CASE = "CASE " + " ".join(
    f"WHEN lang = '{k}' THEN {v}" for k, v in _MIX_TARGET.items()
) + " ELSE 0.0 END"


@register(
    "samp_importance_weights",
    f"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    t AS (SELECT sum(n_docs) AS n FROM c)
    SELECT lang AS stratum, n_docs::BIGINT AS n_docs,
           (2000000::BIGINT * n_docs + n) // (2 * n) / 1000000.0
             AS actual_share,
           round(CAST({_MIX_CASE} AS DOUBLE), 6) AS target_share,
           round(({_MIX_CASE}) / (n_docs / n), 6) AS weight
    FROM c, t""",
)
def samp_importance_weights(spark, sf_dir):
    """Data-mixture importance reweighting (curation.importance_weights):
    per-language weight = target_share/actual_share toward a 40/15×4
    target mixture — weighted training draws the target distribution
    while reading the corpus as-is (the DoReMi-consumable shape). One
    groupBy + a broadcast scalar; shares divided once."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.importance_weights(docs, F.col("lang"), _MIX_TARGET)


@register(
    "samp_dsir_logweights",
    r"""WITH tk AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     w -> w <> '') AS t
  FROM documents),
fe AS (
  SELECT doc_id, lang,
         list_concat(t, CASE WHEN len(t) >= 2
                             THEN list_transform(range(1, len(t)),
                                                 i -> t[i] || ' ' || t[i+1])
                             ELSE [] END) AS fs
  FROM tk),
ev AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS b
  FROM (SELECT doc_id, lang, unnest(fs) AS f FROM fe)),
tc AS (SELECT b, count(*)::BIGINT AS t_b FROM ev WHERE lang = 'en' GROUP BY b),
rc AS (SELECT b, count(*)::BIGINT AS r_b FROM ev GROUP BY b),
tot AS (SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS tt,
               count(*)::BIGINT AS rt
        FROM ev),
lam AS (
  SELECT rc.b,
         CAST(round(-ln((rc.r_b + 1.0::DOUBLE) / (rt + 4096.0::DOUBLE))
                    * 1000000.0) AS BIGINT)
         - CAST(round(-ln((coalesce(tc.t_b, 0) + 1.0::DOUBLE)
                          / (tt + 4096.0::DOUBLE))
                      * 1000000.0) AS BIGINT) AS lam
  FROM rc LEFT JOIN tc ON tc.b = rc.b, tot)
SELECT e.doc_id, count(*)::BIGINT AS n_feats,
       sum(l.lam)::BIGINT AS logw_micro,
       sum(l.lam)::BIGINT / 1000000.0 AS log_weight
FROM ev e JOIN lam l ON l.b = e.b
GROUP BY e.doc_id""",
)
def samp_dsir_logweights(spark, sf_dir):
    """Per-example DSIR importance log-weights (curation.dsir_logweights
    — Xie et al. 2023): hashed unigram+bigram features into 4096
    buckets, target = the 'en' slice, raw = the full corpus; every
    document scores Σ[nll_raw(b) − nll_target(b)] in exact int64
    micro-units (each term the established LM round(−ln(p)·10⁶) idiom
    on a positive nll).  The per-example companion to
    samp_importance_weights' stratum-level reweighting.  A green row
    proves the feature hashing, the Laplace-smoothed bucket models, the
    broadcast λ join, and the exact micro-unit sums all match a serial
    replay."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.dsir_logweights(
        docs, F.col("text"), F.col("doc_id"), F.col("lang") == "en"
    )


@register(
    "txt_redundancy_curve",
    r"""WITH tk AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      FROM documents),
    fo AS (SELECT w, min(doc_id) AS first_doc FROM tk GROUP BY w),
    n AS (SELECT count(*) AS n_docs FROM documents),
    d AS (SELECT least(9, first_doc * 10 // n_docs) AS decile FROM fo, n),
    g AS (SELECT decile, count(*) AS new_tokens FROM d GROUP BY decile),
    c AS (SELECT decile, new_tokens,
                 sum(new_tokens) OVER (ORDER BY decile
                                       ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(new_tokens) OVER () AS total
          FROM g)
    SELECT decile::BIGINT AS decile, new_tokens::BIGINT AS new_tokens,
           (2000000::BIGINT * cum + total) // (2 * total) / 1000000.0
             AS cum_coverage
    FROM c""",
)
def txt_redundancy_curve(spark, sf_dir):
    """Corpus diminishing-novelty curve: distinct tokens FIRST seen in
    each doc-id decile and the cumulative vocabulary coverage — the
    diagnostic behind "more of the same crawl adds little" decisions
    (a steep early curve + flat tail = redundant source). First-seen is
    one min groupBy on the token; the decile rollup is 10 rows, and the
    cumulative window runs over those 10 (bounded by construction, same
    argument as zipf_fit's rank window). cum_coverage is the exact
    int/int ratio cum/total via stats.ratio_round6 / the `//` mirror
    (r13 half-boundary audit conversion)."""
    from semantic_cpp_spark.functions.stats import ratio_round6

    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", F.explode(text.tokens(F.lower(F.col("text")))).alias("w"))
    fo = tk.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    d = fo.crossJoin(F.broadcast(n)).select(
        F.least(F.lit(9), F.expr("first_doc * 10 div n_docs")).alias("decile")
    )
    g = d.groupBy("decile").agg(F.count(F.lit(1)).alias("new_tokens"))
    w = one_window().orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = one_window()
    c = g.withColumn("cum", F.sum("new_tokens").over(w)).withColumn(
        "total", F.sum("new_tokens").over(tot)
    )
    return c.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("new_tokens").cast("long").alias("new_tokens"),
        ratio_round6(F.col("cum"), F.col("total")).alias("cum_coverage"),
    )


@register(
    "pipe_dedup_funnel",
    f"""WITH RECURSIVE pairs AS ({_minhash_sql()}),
    edges AS (SELECT d1 AS s, d2 AS t FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
    nodes AS (SELECT DISTINCT s AS v FROM edges),
    reach(v, l) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT e.t, r.l FROM reach r JOIN edges e ON e.s = r.v),
    comp AS (SELECT v AS doc_id, min(l) AS component FROM reach GROUP BY v)
    SELECT (SELECT count(*) FROM documents)::BIGINT AS n_total,
           (SELECT count(*) FROM pairs)::BIGINT AS n_pairs,
           (SELECT count(*) FROM comp)::BIGINT AS n_dup_docs,
           (SELECT count(DISTINCT component) FROM comp)::BIGINT AS n_clusters,
           (SELECT count(*) FROM comp WHERE doc_id <> component)::BIGINT
             AS n_removed,
           round(1.0 - (SELECT count(*) FROM comp WHERE doc_id <> component)
                 / (SELECT count(*) FROM documents), 6) AS keep_rate""",
)
def pipe_dedup_funnel(spark, sf_dir):
    """The end-to-end NEAR-dup funnel as one summary row (the companion
    of pipe_clean_corpus's exact-dedup funnel): MinHash+LSH pairs →
    connected components → removal counts — n_total, candidate pairs,
    docs in any cluster, clusters, docs removed (all but one rep), and
    the corpus keep rate. Composes three independently-verified
    operators in one plan; every aggregate is a count over the already-
    bounded pair/component tables. The pair table is materialized once
    (r15): it feeds both the component iteration and the n_pairs
    count, and sharing the DataFrame object alone re-ran the whole LSH
    pipeline for the count branch."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, F.col("text"), F.col("doc_id")
    ).localCheckpoint()
    comp = dedup.connected_components(pairs)
    n_total = docs.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    n_pairs = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    stats = comp.agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_docs"),
        F.count_distinct("component").cast("long").alias("n_clusters"),
        F.count(F.when(F.col("doc_id") != F.col("component"), 1))
        .cast("long")
        .alias("n_removed"),
    )
    return (
        n_total.crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "keep_rate",
            F.round(F.lit(1.0) - F.col("n_removed") / F.col("n_total"), 6),
        )
    )


_SEMDEDUP_TH = 0.4


def _semdedup_sql(k_expr: str) -> str:
    """Shared SemDeDup oracle: k-means assignment from the k-smallest-id
    seeds (the emb_kmeans_step CTE) + the in-cluster EXISTS-lower-
    neighbor removal rule. ``k_expr`` is a scalar SQL expression for the
    cluster count — a literal for the fixed-k gate, a count(*) closed
    form for the scaled one."""
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    kk AS (SELECT ({k_expr})::BIGINT AS k),
    c AS (SELECT vec_id AS c_id, v AS cv FROM e, kk WHERE vec_id < kk.k),
    scored AS (SELECT e.vec_id, e.v, c.c_id,
           list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
             + list_dot_product(c.cv, c.cv) AS d2
       FROM e, c),
    assigned AS (SELECT vec_id, v, c_id FROM
       (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS r
        FROM scored) WHERE r = 1),
    rm AS (SELECT DISTINCT b.vec_id
           FROM assigned b JOIN assigned l
             ON l.c_id = b.c_id AND l.vec_id < b.vec_id
           WHERE list_dot_product(b.v, l.v)
                 / nullif(sqrt(list_dot_product(b.v, b.v))
                          * sqrt(list_dot_product(l.v, l.v)), 0.0)
                 >= {_SEMDEDUP_TH})
    SELECT a.vec_id, a.c_id::BIGINT AS c_id, (rm.vec_id IS NULL) AS keep
    FROM assigned a LEFT JOIN rm ON rm.vec_id = a.vec_id"""


def emb_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup verdict per vector (clustering.semdedup,
    Abbas et al. 2023): k-means clusters as the blocking structure, then
    greedy keep-lowest-id within each cluster's cosine-threshold
    neighborhood. The oracle replays the assignment (the emb_kmeans_step
    CTE) plus the in-cluster EXISTS-lower-neighbor rule; the cosine is
    the sequential-fold dot/norm expansion on both engines, so the >=
    threshold comparison is bit-exact — a boolean output, no rounding
    anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.semdedup(emb, threshold=_SEMDEDUP_TH)


def _semdedup_scaled_sql() -> str:
    """Oracle for semdedup_scaled: replays the derived k, the TWO-LEVEL
    IVF routing (fine seeds → coarse cell, vectors → coarse cell, argmin
    over same-cell fine seeds; ties → smaller id at every level — the
    kmeans_assign_ivf rules verbatim) and the shared removal pass. All
    distances are the sequential dot-expansion both engines fold
    identically."""
    d2 = (
        "list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b})"
    )
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    kk AS (SELECT greatest({clustering.SEMDEDUP_MIN_K},
                           (SELECT count(*) FROM e)
                             // {clustering.SEMDEDUP_N_PER_K})::BIGINT AS k),
    kc AS (SELECT least(greatest(4, floor(sqrt(k))::BIGINT), k) AS kc FROM kk),
    g AS (SELECT vec_id AS cell, v AS gv FROM e, kc WHERE vec_id < kc.kc),
    f AS (SELECT vec_id AS c_id, v AS cv FROM e, kk WHERE vec_id < kk.k),
    fr AS (SELECT c_id, cv, cell FROM (
        SELECT f.c_id, f.cv, g.cell,
               row_number() OVER (PARTITION BY f.c_id
                 ORDER BY {d2.format(a='f.cv', b='g.gv')}, g.cell) AS r
        FROM f, g) WHERE r = 1),
    vr AS (SELECT vec_id, v, cell FROM (
        SELECT e.vec_id, e.v, g.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {d2.format(a='e.v', b='g.gv')}, g.cell) AS r
        FROM e, g) WHERE r = 1),
    assigned AS (SELECT vec_id, v, c_id FROM (
        SELECT vr.vec_id, vr.v, fr.c_id,
               row_number() OVER (PARTITION BY vr.vec_id
                 ORDER BY {d2.format(a='vr.v', b='fr.cv')}, fr.c_id) AS r
        FROM vr JOIN fr USING (cell)) WHERE r = 1),
    rm AS (SELECT DISTINCT b.vec_id
           FROM assigned b JOIN assigned l
             ON l.c_id = b.c_id AND l.vec_id < b.vec_id
           WHERE list_dot_product(b.v, l.v)
                 / nullif(sqrt(list_dot_product(b.v, b.v))
                          * sqrt(list_dot_product(l.v, l.v)), 0.0)
                 >= {_SEMDEDUP_TH})
    SELECT a.vec_id, a.c_id::BIGINT AS c_id, (rm.vec_id IS NULL) AS keep
    FROM assigned a LEFT JOIN rm ON rm.vec_id = a.vec_id"""


def emb_semdedup_scaled(spark, sf_dir):
    """SemDeDup with the PRODUCTION sizing AND assignment under the gate
    (clustering.semdedup_scaled): k = max(8, n // 75) derived as a pure
    closed form of count(*), and TWO-LEVEL IVF routing for the
    assignment — with derived k, brute-force assignment is n·k =
    n²/75 and measured quadratic at the 10× step-up (32×, SCALING.md
    r8); routing through √k coarse seeds cuts it to ~2n√k, leaving the
    linear pair stage the dominant cost. Every level is deterministic
    (smallest-id seeds and tie-breaks), so the oracle replays k
    derivation, routing, and the removal pass verbatim. Boolean output,
    bit-exact cosine fold — same oracle family as emb_semdedup."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.semdedup_scaled(emb, threshold=_SEMDEDUP_TH)


@register(
    "emb_semdedup_family",
    f"""SELECT 'fixed' AS aspect, * FROM ({_semdedup_sql(str(clustering.KMEANS_K))}) __fx
    UNION ALL
    SELECT 'scaled' AS aspect, * FROM ({_semdedup_scaled_sql()}) __sc""",
)
def emb_semdedup_family(spark, sf_dir):
    """BOTH SemDeDup regimes under ONE gate (r13 gate consolidation —
    one driver row re-verifies the fixed-k assignment AND the
    production-sized two-level IVF routing; the members share an output
    schema (vec_id, c_id, keep), so the union just tags the aspect and
    every member row survives verbatim). aspect='fixed' →
    clustering.semdedup at KMEANS_K; aspect='scaled' →
    clustering.semdedup_scaled with derived k + IVF routing. Two
    independent branches — no new exchange beyond the members' own."""
    fixed = emb_semdedup(spark, sf_dir).select(
        F.lit("fixed").alias("aspect"), "vec_id", "c_id", "keep"
    )
    scaled = emb_semdedup_scaled(spark, sf_dir).select(
        F.lit("scaled").alias("aspect"), "vec_id", "c_id", "keep"
    )
    return fixed.unionByName(scaled)


# -- IVFADC + 8-bit PQ training (r9) -----------------------------------------

_IVFPQ_SQL = f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < {similarity.IVF_K}),
cscored AS (SELECT e.vec_id, e.v, c.c_id, {_sql_cos('e.v', 'c.cv')} AS ccos
            FROM e, c),
assigned AS (
  SELECT vec_id, c_id AS list_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC NULLS LAST, c_id) AS r
        FROM cscored)
  WHERE r = 1),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
qsc AS (SELECT q.q_id, c.c_id, {_sql_cos('q.qv', 'c.cv')} AS ccos FROM q, c),
probes AS (
  SELECT q_id, c_id AS probe_cent
  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY ccos DESC NULLS LAST, c_id) AS r
        FROM qsc)
  WHERE r <= 2),
mrange AS (SELECT unnest(range(0, 4)) AS m),
books AS (SELECT m, vec_id AS b_id, v[m*16+1 : m*16+16] AS cv
          FROM e, mrange WHERE vec_id < 16),
sub AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS xv FROM e, mrange),
sc AS (SELECT s.vec_id, s.m, b.b_id,
              list_dot_product(s.xv, s.xv)
                - 2.0 * list_dot_product(s.xv, b.cv)
                + list_dot_product(b.cv, b.cv) AS d2
       FROM sub s JOIN books b ON b.m = s.m),
codes AS (SELECT vec_id, m, b_id AS code FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                        ORDER BY d2, b_id) AS r
           FROM sc) WHERE r = 1),
qsub AS (SELECT q_id, m, qv[m*16+1 : m*16+16] AS qx FROM q, mrange),
lut AS (SELECT qs.q_id, qs.m, b.b_id,
               list_dot_product(qs.qx, qs.qx)
                 - 2.0 * list_dot_product(qs.qx, b.cv)
                 + list_dot_product(b.cv, b.cv) AS qd2
        FROM qsub qs JOIN books b ON b.m = qs.m),
pruned AS (SELECT p.q_id, cd.vec_id, cd.m, cd.code
           FROM codes cd
           JOIN assigned a ON a.vec_id = cd.vec_id
           JOIN probes p ON p.probe_cent = a.list_id),
adc AS (SELECT pr.q_id, pr.vec_id, round(sum(l.qd2), 6) AS adc
        FROM pruned pr
        JOIN lut l ON l.q_id = pr.q_id AND l.m = pr.m AND l.b_id = pr.code
        GROUP BY pr.q_id, pr.vec_id)
SELECT q_id, rk::BIGINT AS rk, vec_id, adc FROM
  (SELECT *, row_number() OVER (PARTITION BY q_id
                                ORDER BY adc, vec_id) AS rk
   FROM adc WHERE q_id <> vec_id)
WHERE rk <= 5"""


def sim_ivfpq_topk(spark, sf_dir):
    """IVFADC under the gate (similarity.ivfpq_topk — VERDICT r8 #1,
    the one genuine scale gap): PQ codes routed into IVF inverted
    lists at index build, so the ADC probe scans only each query's
    nprobe=2 nearest lists instead of the whole code table —
    |Q|·nprobe·(n/K) candidate rows, the FAISS IVFADC shape at 10¹⁰
    vectors. Every stage is deterministic (smallest-id coarse
    centroids + codebook seeds, (cosine desc, id) routing, (d2, id)
    encoding argmins), so the oracle replays routing, probes, codes,
    LUT, and the pruned ADC sums verbatim. The probe plan is pinned
    list-pruned in test_plans (codes meet the LUT only AFTER the
    broadcast probe-pair join); recall floor vs the full-scan ADC and
    the nprobe dial are pinned in test_pipeline."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(
        emb, [0, 1, 2], k=5, nprobe=2, n_lists=similarity.IVF_K
    )


def _pq_k256_sql() -> str:
    """Two exactness-disciplined Lloyd steps at the 8-bit code budget
    (K=256), replayed in SQL: seed books from the 256 smallest ids,
    assign → integer means (micro-units, positive-shifted floor
    division), rebuild books with empty-cluster fallback, assign
    again, and emit the SECOND step's integer means table."""
    d2 = (
        "list_dot_product(s.xv, s.xv)"
        " - 2.0 * list_dot_product(s.xv, b.cv)"
        " + list_dot_product(b.cv, b.cv)"
    )
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
mrange AS (SELECT unnest(range(0, 4)) AS m),
books0 AS (SELECT m, vec_id AS c_id, v[m*16+1 : m*16+16] AS cv
           FROM e, mrange WHERE vec_id < 256),
sub AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS xv FROM e, mrange),
sc1 AS (SELECT s.vec_id, s.m, s.xv, b.c_id, {d2} AS d2
        FROM sub s JOIN books0 b ON b.m = s.m),
asgn1 AS (SELECT vec_id, m, c_id, xv FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                        ORDER BY d2, c_id) AS r
           FROM sc1) WHERE r = 1),
dims1 AS (SELECT a.m, a.c_id, d.range AS dim,
                 round(a.xv[d.range + 1] * 1000000.0)::BIGINT AS xi
          FROM asgn1 a CROSS JOIN range(0, 16) d),
means1 AS (SELECT m, c_id, dim,
                  ((sum(xi) + 4000000 * count(*)) // count(*)
                   - 4000000)::BIGINT AS q
           FROM dims1 GROUP BY m, c_id, dim),
seedd AS (SELECT b.m, b.c_id, d.range AS dim, b.cv[d.range + 1] AS x
          FROM books0 b CROSS JOIN range(0, 16) d),
b1d AS (SELECT s.m, s.c_id, s.dim,
               coalesce(m1.q / 1000000.0, s.x) AS x
        FROM seedd s LEFT JOIN means1 m1
          ON m1.m = s.m AND m1.c_id = s.c_id AND m1.dim = s.dim),
books1 AS (SELECT m, c_id, list(x ORDER BY dim) AS cv
           FROM b1d GROUP BY m, c_id),
sc2 AS (SELECT s.vec_id, s.m, s.xv, b.c_id, {d2} AS d2
        FROM sub s JOIN books1 b ON b.m = s.m),
asgn2 AS (SELECT vec_id, m, c_id, xv FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                        ORDER BY d2, c_id) AS r
           FROM sc2) WHERE r = 1),
dims2 AS (SELECT a.m, a.c_id, d.range AS dim,
                 round(a.xv[d.range + 1] * 1000000.0)::BIGINT AS xi
          FROM asgn2 a CROSS JOIN range(0, 16) d)
SELECT m, c_id, dim::BIGINT AS dim,
       ((sum(xi) + 4000000 * count(*)) // count(*) - 4000000)::BIGINT AS q
FROM dims2 GROUP BY m, c_id, dim"""


def sim_pq_train_means_k256(spark, sf_dir):
    """PQ training at the 8-BIT code budget with a SECOND Lloyd
    iteration (similarity.pq_books_trained(n_centroids=256, iters=1)
    feeding pq_train_means — VERDICT r8 #4): the r8 honest finding was
    that at 4-bit codes one step doesn't pay because the code budget
    dominates; K=256 is the budget where training moves recall
    (measured in SCALING.md r9 via scripts/pq_recall.py). Both
    iterations stay integer-exact end to end — micro-unit rounding
    before the group sum, positive-shifted floor division, /1e6 back
    to double for the step-2 assignment — so the oracle replays
    assign→means→books→assign→means cell-for-cell with no float
    ambiguity anywhere. Output = the second step's integer means
    table."""
    emb = load_table(spark, sf_dir, "embeddings")
    books1 = similarity.pq_books_trained(emb, n_centroids=256, iters=1)
    return similarity.pq_train_means(emb, books=books1, n_centroids=256)


_IVFPQ_RES_SQL = f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < {similarity.IVF_K}),
cscored AS (SELECT e.vec_id, e.v, c.c_id, {_sql_cos('e.v', 'c.cv')} AS ccos
            FROM e, c),
assigned AS (
  SELECT vec_id, v, c_id AS list_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC NULLS LAST, c_id) AS r
        FROM cscored)
  WHERE r = 1),
resid AS (SELECT a.vec_id, a.list_id,
                 list_transform(a.v, (x, i) -> x - c.cv[i]) AS rv
          FROM assigned a JOIN c ON c.c_id = a.list_id),
mrange AS (SELECT unnest(range(0, 4)) AS m),
books AS (SELECT m, vec_id AS b_id, rv[m*16+1 : m*16+16] AS cv
          FROM resid, mrange
          WHERE vec_id >= {similarity.IVF_K}
            AND vec_id < {similarity.IVF_K + 16}),
sub AS (SELECT vec_id, m, rv[m*16+1 : m*16+16] AS xv FROM resid, mrange),
sc AS (SELECT s.vec_id, s.m, b.b_id,
              list_dot_product(s.xv, s.xv)
                - 2.0 * list_dot_product(s.xv, b.cv)
                + list_dot_product(b.cv, b.cv) AS d2
       FROM sub s JOIN books b ON b.m = s.m),
codes AS (SELECT vec_id, m, b_id AS code FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                        ORDER BY d2, b_id) AS r
           FROM sc) WHERE r = 1),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
qsc AS (SELECT q.q_id, c.c_id, {_sql_cos('q.qv', 'c.cv')} AS ccos FROM q, c),
probes AS (
  SELECT q_id, c_id AS probe_cent
  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY ccos DESC NULLS LAST, c_id) AS r
        FROM qsc)
  WHERE r <= 2),
qres AS (SELECT q.q_id, p.probe_cent,
                list_transform(q.qv, (x, i) -> x - c.cv[i]) AS qr
         FROM q JOIN probes p USING (q_id)
         JOIN c ON c.c_id = p.probe_cent),
qsub AS (SELECT q_id, probe_cent, m, qr[m*16+1 : m*16+16] AS qx
         FROM qres, mrange),
lut AS (SELECT qs.q_id, qs.probe_cent, qs.m, b.b_id,
               list_dot_product(qs.qx, qs.qx)
                 - 2.0 * list_dot_product(qs.qx, b.cv)
                 + list_dot_product(b.cv, b.cv) AS qd2
        FROM qsub qs JOIN books b ON b.m = qs.m),
pruned AS (SELECT p.q_id, cd.vec_id, a.list_id, cd.m, cd.code
           FROM codes cd
           JOIN assigned a USING (vec_id)
           JOIN probes p ON p.probe_cent = a.list_id),
adc AS (SELECT pr.q_id, pr.vec_id, round(sum(l.qd2), 6) AS adc
        FROM pruned pr
        JOIN lut l ON l.q_id = pr.q_id AND l.probe_cent = pr.list_id
                  AND l.m = pr.m AND l.b_id = pr.code
        GROUP BY pr.q_id, pr.vec_id)
SELECT q_id, rk::BIGINT AS rk, vec_id, adc FROM
  (SELECT *, row_number() OVER (PARTITION BY q_id
                                ORDER BY adc, vec_id) AS rk
   FROM adc WHERE q_id <> vec_id)
WHERE rk <= 5"""


def sim_ivfpq_residual_topk(spark, sf_dir):
    """Residual-encoded IVFADC under the gate
    (similarity.ivfpq_residual_topk — the full FAISS IVF{K},PQ{m}
    production form, Jégou et al. 2011): PQ spends its bits on
    r = x − c_list instead of x, so the same 16-bit code budget buys a
    strictly finer grid around each list's centroid (ADC error vs true
    distance test-pinned below the raw-vector codes on the clustered
    regime; the raw-vector variant stays registered as sim_ivfpq_topk
    for the A/B). The query re-expresses itself in each probed list's
    residual frame, which costs one extra broadcast (LUT keyed by
    (q, probed list) — |Q|·nprobe·m·K rows, KB-scale) and changes
    nothing about the probe's scale shape: codes stay in inverted
    lists, the ADC join sees |Q|·nprobe·(n/n_lists) candidates,
    vectors are never read. Residual subtraction is one exact IEEE
    zip_with both engines replay bit-identically (indexed
    list_transform in the oracle); books seed from the residuals of
    the 16 smallest ids ≥ n_lists (ids < n_lists are the centroids —
    their residuals are exactly zero). Deterministic end to end, so
    the oracle replays assignment, residuals, books, codes, probes,
    per-list LUTs, and the pruned ADC sums verbatim."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_residual_topk(
        emb, [0, 1, 2], k=5, nprobe=2, n_lists=similarity.IVF_K
    )


@register(
    "sim_pq_train_family",
    f"""SELECT 'k16' AS aspect, m::BIGINT AS m, c_id, dim, q
    FROM ({_PQ_TRAIN_SQL}) __a
    UNION ALL
    SELECT 'k256' AS aspect, m::BIGINT AS m, c_id, dim, q
    FROM ({_pq_k256_sql()}) __b""",
)
def sim_pq_train_family(spark, sf_dir):
    """BOTH PQ codebook-training gates under ONE row (r13 gate
    consolidation — the members share an output schema (m, c_id, dim,
    q), so the union just tags the aspect and every integer-means cell
    survives verbatim). aspect='k16' → one training step at the 4-bit
    budget (similarity.pq_train_means); aspect='k256' → two
    exactness-disciplined Lloyd steps at the 8-bit budget
    (pq_books_trained(n_centroids=256, iters=1)). Both branches stay
    integer-exact end to end; the union adds no exchange."""
    a = sim_pq_train_means(spark, sf_dir).select(
        F.lit("k16").alias("aspect"),
        F.col("m").cast("long").alias("m"), "c_id", "dim", "q",
    )
    b = sim_pq_train_means_k256(spark, sf_dir).select(
        F.lit("k256").alias("aspect"),
        F.col("m").cast("long").alias("m"), "c_id", "dim", "q",
    )
    return a.unionByName(b)


@register(
    "sim_ivfpq_family_topk",
    f"""SELECT 'adc' AS aspect, * FROM ({_PQ_ADC_SQL}) __a
    UNION ALL
    SELECT 'ivf' AS aspect, * FROM ({_IVFPQ_SQL}) __i
    UNION ALL
    SELECT 'residual' AS aspect, * FROM ({_IVFPQ_RES_SQL}) __r""",
)
def sim_ivfpq_family_topk(spark, sf_dir):
    """The three PQ probe paths under ONE gate (r13 gate consolidation
    — the members share an output schema (q_id, rk, vec_id, adc), so
    the union just tags the aspect and every ranked row survives
    verbatim). aspect='adc' → full-scan asymmetric-distance top-k
    (similarity.pq_adc_topk); aspect='ivf' → IVFADC with nprobe=2
    inverted-list pruning (ivfpq_topk); aspect='residual' →
    residual-encoded IVFADC, the full FAISS IVF{{K}},PQ{{m}} form
    (ivfpq_residual_topk). Probe plans stay list-pruned where the
    member is; the adc and ivf aspects run over the SAME seed books
    and ONE materialized code table (r15, guide §2.4 — the members'
    default (books, codes) pair is identical, and sharing a DataFrame
    object is not sharing computation: each union branch re-ran the
    corpus encode kernel; the residual aspect encodes a different
    space and keeps its own single-pipeline build). The member gates
    sim_pq_adc_topk / sim_ivfpq_topk verify the unshared defaults."""
    cols = ["q_id", "rk", "vec_id", "adc"]
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_books(emb)
    # one corpus encode shared by the adc + ivf branches; checkpoint-
    # backed so the union's two references replay rows, not the kernel
    codes = similarity.pq_encode(emb, books=books).localCheckpoint()
    a = similarity.pq_adc_topk(
        emb, [0, 1, 2], k=5, books=books, codes=codes
    ).select(F.lit("adc").alias("aspect"), *cols)
    listed = similarity.ivfpq_codes(
        emb, n_lists=similarity.IVF_K, books=books, codes=codes
    )
    i = similarity.ivfpq_topk(
        emb, [0, 1, 2], k=5, nprobe=2, n_lists=similarity.IVF_K,
        books=books, listed_codes=listed,
    ).select(F.lit("ivf").alias("aspect"), *cols)
    # r16 (VERDICT r15 queue #6): the residual aspect previously
    # re-derived its whole index inline — its branch alone held ~12
    # parquet scan leaves (seeds, cents, assignment, encode, probes all
    # re-planned from the raw table). Build the residual index ONCE,
    # checkpoint it (books is model-sized; listed_codes is the gate's
    # code table, the same materialization the adc/ivf branches use),
    # and probe through the member's own persisted-index path — the
    # same (books, listed_codes)-pair contract ivfpq_index_save
    # established, so defaults stay verified by sim_ivfpq_residual_topk.
    r_books, r_codes = similarity.ivfpq_residual_index(
        emb, n_lists=similarity.IVF_K
    )
    r = similarity.ivfpq_residual_topk(
        emb, [0, 1, 2], k=5, nprobe=2, n_lists=similarity.IVF_K,
        books=r_books.localCheckpoint(),
        listed_codes=r_codes.localCheckpoint(),
    ).select(F.lit("residual").alias("aspect"), *cols)
    return a.unionByName(i).unionByName(r)


def _passage_dup_sql() -> str:
    """Replays the passage pipeline verbatim: window-chunk, per-passage
    shingles (the _SHINGLES_CTE construction on each passage's re-split
    text), the NUM_HASHES affine-min signature, band keys, packed-order
    candidate pairs, agreement-rate verification, and the per-doc
    cross-doc dup profile with the exact-integer ppm."""
    w = dedup.PASSAGE_TOKENS
    bits = 1 << dedup.SPAN_POS_BITS
    mins = ", ".join(
        f"list_min(list_transform(shingles, s -> ({a} * (('0x' || substr(md5(s),1,8))::BIGINT) + {b}) % {dedup.MINHASH_P}))"
        for a, b in zip(dedup.MINHASH_A, dedup.MINHASH_B)
    )
    r, nb, nh = dedup.LSH_ROWS, dedup.LSH_BANDS, dedup.NUM_HASHES
    return f"""WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
      FROM documents),
    pas AS (
      SELECT doc_id, pid,
             array_to_string(ws[pid*{w}+1 : pid*{w}+{w}], ' ') AS ptext
      FROM (SELECT doc_id, ws,
                   unnest(range(0, (len(ws) + {w - 1}) // {w})) AS pid
            FROM tok)),
    psh AS (
      SELECT doc_id, pid,
             CASE WHEN len(pws) >= 3
                  THEN list_distinct([pws[i] || ' ' || pws[i+1] || ' ' || pws[i+2]
                                      for i in range(1, len(pws) - 1)])
                  ELSE [] END AS shingles
      FROM (SELECT doc_id, pid,
                   regexp_split_to_array(trim(ptext), '\\s+') AS pws
            FROM pas)),
    sigs AS (SELECT doc_id, pid, [{mins}] AS sig
             FROM psh WHERE len(shingles) > 0),
    bands AS (
      SELECT doc_id, pid, t.band,
             array_to_string(sig[t.band * {r} + 1 : t.band * {r} + {r}], '_') AS key
      FROM sigs, (SELECT unnest(range(0, {nb})) AS band) t),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, a.pid AS p1, b.doc_id AS d2, b.pid AS p2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key
       AND (a.doc_id * {bits} + a.pid) < (b.doc_id * {bits} + b.pid)),
    ver AS (
      SELECT c.d1, c.p1, c.d2, c.p2
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.d1 AND sa.pid = c.p1
      JOIN sigs sb ON sb.doc_id = c.d2 AND sb.pid = c.p2
      WHERE length(list_filter(range(1, {nh} + 1),
                               i -> sa.sig[i] = sb.sig[i]))::DOUBLE
            / {nh} >= 0.5),
    xp AS (SELECT * FROM ver WHERE d1 <> d2),
    dup AS (SELECT doc_id, count(*)::BIGINT AS n_dup FROM (
              SELECT DISTINCT doc_id, pid FROM (
                SELECT d1 AS doc_id, p1 AS pid FROM xp
                UNION ALL SELECT d2 AS doc_id, p2 AS pid FROM xp))
            GROUP BY doc_id),
    tot AS (SELECT doc_id, count(*)::BIGINT AS n_passages
            FROM pas GROUP BY doc_id)
    SELECT t.doc_id, t.n_passages,
           coalesce(d.n_dup, 0)::BIGINT AS n_dup_passages,
           ((coalesce(d.n_dup, 0) * 1000000) // t.n_passages)::BIGINT AS dup_ppm
    FROM tot t LEFT JOIN dup d USING (doc_id)"""


@register("dedup_passage_dup_summary", _passage_dup_sql())
def dedup_passage_dup_summary(spark, sf_dir):
    """Passage-level FUZZY sub-document dedup (dedup.passage_dup_summary
    — the RefinedWeb/Dolma boilerplate pass): docs chunk into
    32-token passages, each passage MinHash(16)+LSH(4×4)-signatures
    independently, passages of different docs meeting a full band +
    est-Jaccard ≥ 0.5 mark both sides, and every doc reports
    (n_passages, n_dup_passages, dup_ppm) with the exact-integer ppm.
    Completes the granularity ladder: whole-doc (exact/MinHash) →
    exact sub-document (span cuts) → NEAR-dup sub-document (this) —
    the case of templated/lightly-edited sections inside otherwise
    novel documents, which both neighbors miss. All of
    minhash_lsh_pairs' scale machinery (band-key-only shuffle,
    triangle-split hot buckets) applies unchanged; the packed
    doc·2²⁰+pid key carries passages through it as ordinary int64
    "docs" (aliasing guarded in-plan, the span-cuts contract)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.passage_dup_summary(docs, F.col("text"), F.col("doc_id"))


@register(
    "txt_vocab_ids",
    """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
                      AS token
                    FROM documents),
    c AS (SELECT token, count(*)::BIGINT AS n
          FROM tok GROUP BY token HAVING count(*) >= 2)
    SELECT token, n,
           (row_number() OVER (ORDER BY n DESC, token) - 1)::BIGINT
             AS token_id
    FROM c""",
)
def txt_vocab_ids(spark, sf_dir):
    """Frequency-ranked vocabulary construction (text.vocab_build —
    the tokenize→numericalize stage's first half): corpus-wide token
    counts, min_count=2 floor, dense ids 0..V-1 under the total order
    (count DESC, token ASC). Deterministic end to end, so the oracle
    is one count + one ranked row_number; the Spark side assigns the
    SAME ids through indexing.with_ordinal's distributed RANGE
    strategy (per-partition offsets, no single-task global sort — the
    10⁸-row web-corpus vocab must never bottleneck on one partition),
    making a green row a distributed-vs-serial id-assignment proof."""
    docs = load_table(spark, sf_dir, "documents")
    return text.vocab_build(docs, F.col("text"), min_count=2)


@register(
    "txt_encode_docs",
    """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
                      AS token
                    FROM documents),
    c AS (SELECT token, count(*)::BIGINT AS n
          FROM tok GROUP BY token HAVING count(*) >= 2),
    v AS (SELECT token, token_id FROM
            (SELECT token, n,
                    row_number() OVER (ORDER BY n DESC, token) - 1
                      AS token_id
             FROM c)
          WHERE token_id < 30),
    d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
          FROM documents),
    ex AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM d),
    et AS (SELECT doc_id, pos, ws[pos] AS token FROM ex),
    j AS (SELECT e.doc_id, e.pos, coalesce(v.token_id, -1) AS tid
          FROM et e LEFT JOIN v USING (token))
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END)::BIGINT AS n_oov,
           md5(string_agg(tid::VARCHAR, '_' ORDER BY pos)) AS ids_fp
    FROM j GROUP BY doc_id""",
)
def txt_encode_docs(spark, sf_dir):
    """Document numericalization against a capped vocabulary
    (text.encode_tokens over vocab_build(min_count=2, max_size=30) —
    the second half of tokenize→numericalize): every doc's token
    stream becomes a position-ordered id array with OOV → −1 (the cap
    guarantees real OOV traffic through the left join), compared by
    the md5 fingerprint of the '_'-joined ids — the shard-equality
    check two independently-encoded copies would run. A green row
    proves position order, OOV handling, and id assignment all match
    a serial reference exactly."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = text.vocab_build(
        docs, F.col("text"), min_count=2, max_size=30
    )
    return text.encode_tokens(
        docs, F.col("text"), F.col("doc_id"), vocab
    ).select("doc_id", "n_tokens", "n_oov", "ids_fp")


@register(
    "pack_encoded_shards",
    """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+'))
                      AS token
                    FROM documents),
    c AS (SELECT token, count(*)::BIGINT AS n
          FROM tok GROUP BY token HAVING count(*) >= 2),
    v AS (SELECT token, token_id FROM
            (SELECT token, n,
                    row_number() OVER (ORDER BY n DESC, token) - 1
                      AS token_id
             FROM c)
          WHERE token_id < 30),
    d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
          FROM documents),
    ex AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM d),
    et AS (SELECT doc_id, pos, ws[pos] AS token FROM ex),
    j AS (SELECT e.doc_id, e.pos, coalesce(v.token_id, -1) AS tid
          FROM et e LEFT JOIN v USING (token)),
    ds AS (SELECT doc_id, count(*)::BIGINT AS n_tok,
                  string_agg(tid::VARCHAR, '_' ORDER BY pos) || '_-2'
                    AS doc_str
           FROM j GROUP BY doc_id),
    t AS (SELECT doc_id,
                 ('0x' || substr(md5('shard' || doc_id::VARCHAR), 1, 15))::BIGINT
                   % 8 AS shard,
                 n_tok, doc_str
          FROM ds),
    cm AS (SELECT *, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
           FROM t)
    SELECT shard, ((cum - n_tok) // 512)::BIGINT AS seq_id,
           count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS seq_tokens,
           md5(string_agg(doc_str, '_' ORDER BY doc_id)) AS seq_fp
    FROM cm GROUP BY shard, seq_id""",
)
def pack_encoded_shards(spark, sf_dir):
    """The end-to-end make-training-shards composition under one gate
    (curation.pack_encoded_sequences): vocabulary (min_count=2, top-30
    cap), per-doc numericalization with OOV → −1, the
    pack_token_sequences assignment rule (shared _pack_assign core),
    and each sequence's materialized id stream — docs in doc_id order,
    EOS −2 terminated — compared by md5 fingerprint. A green row
    proves the whole pipeline stage (tokenize → numericalize → pack →
    concatenate) reproduces a serial reference byte-for-byte, which is
    exactly the property distributed shard-building needs: two
    clusters building the same corpus must emit identical shards."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = text.vocab_build(docs, F.col("text"), min_count=2, max_size=30)
    return curation.pack_encoded_sequences(
        docs, F.col("text"), F.col("doc_id"), vocab, n_shards=8, budget=512
    ).select("shard", "seq_id", "n_docs", "seq_tokens", "seq_fp")


# -- r10: passage write-side gates, learned BPE merges, sampled PQ training ---

def _passage_ver_ctes() -> str:
    """The passage-pair CTE prefix (chunk → per-passage shingles →
    MinHash signatures → band keys → packed-order candidates →
    agreement-verified pairs) for the write-side oracles. Textually
    mirrors the prefix inside _passage_dup_sql, which stays verbatim so
    dedup_passage_dup_summary's committed oracle text is untouched
    (oracle-change = re-gate, and the r10 window is full)."""
    w = dedup.PASSAGE_TOKENS
    bits = 1 << dedup.SPAN_POS_BITS
    mins = ", ".join(
        f"list_min(list_transform(shingles, s -> ({a} * (('0x' || substr(md5(s),1,8))::BIGINT) + {b}) % {dedup.MINHASH_P}))"
        for a, b in zip(dedup.MINHASH_A, dedup.MINHASH_B)
    )
    r, nb, nh = dedup.LSH_ROWS, dedup.LSH_BANDS, dedup.NUM_HASHES
    return f"""tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
      FROM documents),
    pas AS (
      SELECT doc_id, pid,
             array_to_string(ws[pid*{w}+1 : pid*{w}+{w}], ' ') AS ptext
      FROM (SELECT doc_id, ws,
                   unnest(range(0, (len(ws) + {w - 1}) // {w})) AS pid
            FROM tok)),
    psh AS (
      SELECT doc_id, pid,
             CASE WHEN len(pws) >= 3
                  THEN list_distinct([pws[i] || ' ' || pws[i+1] || ' ' || pws[i+2]
                                      for i in range(1, len(pws) - 1)])
                  ELSE [] END AS shingles
      FROM (SELECT doc_id, pid,
                   regexp_split_to_array(trim(ptext), '\\s+') AS pws
            FROM pas)),
    sigs AS (SELECT doc_id, pid, [{mins}] AS sig
             FROM psh WHERE len(shingles) > 0),
    bands AS (
      SELECT doc_id, pid, t.band,
             array_to_string(sig[t.band * {r} + 1 : t.band * {r} + {r}], '_') AS key
      FROM sigs, (SELECT unnest(range(0, {nb})) AS band) t),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, a.pid AS p1, b.doc_id AS d2, b.pid AS p2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key
       AND (a.doc_id * {bits} + a.pid) < (b.doc_id * {bits} + b.pid)),
    ver AS MATERIALIZED (
      SELECT c.d1, c.p1, c.d2, c.p2
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.d1 AND sa.pid = c.p1
      JOIN sigs sb ON sb.doc_id = c.d2 AND sb.pid = c.p2
      WHERE length(list_filter(range(1, {nh} + 1),
                               i -> sa.sig[i] = sb.sig[i]))::DOUBLE
            / {nh} >= 0.5)"""


def _passage_cc_ctes() -> str:
    """Connected components over the packed passage keys, recursive-CTE
    style (the dedup_cc_clusters oracle pattern one granularity down):
    component = smallest reachable packed (doc·2²⁰ + pid) key."""
    bits = 1 << dedup.SPAN_POS_BITS
    return f"""edges AS (
      SELECT d1 * {bits} + p1 AS s, d2 * {bits} + p2 AS t FROM ver
      UNION ALL SELECT d2 * {bits} + p2, d1 * {bits} + p1 FROM ver),
    nodes AS (SELECT DISTINCT s AS v FROM edges),
    reach(v, l) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT e.t, r.l FROM reach r JOIN edges e ON e.s = r.v),
    comp AS (SELECT v, min(l)::BIGINT AS c FROM reach GROUP BY v)"""



def dedup_passage_apply(spark, sf_dir):
    """Execute the passage keep-list (dedup.apply_passage_keep — the
    dedup_span_cuts_text md5-rebuild pattern one granularity up): every
    document rebuilds from only its kept passages in pid order, and the
    gate compares md5(rebuilt text) — so a green row proves the keep
    verdicts, the re-chunk alignment (window rides through both sides,
    ADVICE r9), the per-doc re-assembly order, and the all-boilerplate
    empty-document case all match a serial reference byte-for-byte.
    This is the output a curation pass actually consumes: the deduped
    corpus plus n_passages_kept = 0 as the drop signal."""
    docs = load_table(spark, sf_dir, "documents")
    keep = dedup.passage_keep_list(docs, F.col("text"), F.col("doc_id"))
    return dedup.apply_passage_keep(docs, F.col("text"), F.col("doc_id"), keep)


def _passage_family_sql() -> str:
    """Tagged union of the passage keep-list and apply oracles on the
    shared (aspect, doc_id, l1, l2, b1, s1) slot schema. The replayed
    pair pipeline + recursive-CTE components are computed ONCE and feed
    both branches — the same sharing the engine side gets by threading
    one keep-list DataFrame through both outputs."""
    bits = 1 << dedup.SPAN_POS_BITS
    return f"""WITH RECURSIVE {_passage_ver_ctes()},
    {_passage_cc_ctes()},
    keepl AS (
      SELECT p.doc_id, p.pid, p.ptext,
             (co.c IS NULL OR co.c = p.doc_id * {bits} + p.pid) AS keep
      FROM pas p LEFT JOIN comp co ON co.v = p.doc_id * {bits} + p.pid),
    reb AS (
      SELECT doc_id, count(*)::BIGINT AS n_passages_kept,
             string_agg(ptext, ' ' ORDER BY pid) AS txt
      FROM keepl WHERE keep GROUP BY doc_id)
    SELECT 'keep' AS aspect, doc_id, pid::BIGINT AS l1,
           CAST(NULL AS BIGINT) AS l2, keep AS b1,
           CAST(NULL AS VARCHAR) AS s1
    FROM keepl
    UNION ALL
    SELECT 'apply' AS aspect, d.doc_id, CAST(NULL AS BIGINT) AS l1,
           coalesce(r.n_passages_kept, 0)::BIGINT AS l2,
           CAST(NULL AS BOOLEAN) AS b1, md5(coalesce(r.txt, '')) AS s1
    FROM (SELECT doc_id FROM documents) d LEFT JOIN reb r USING (doc_id)"""


@register("dedup_passage_family", _passage_family_sql())
def dedup_passage_family(spark, sf_dir):
    """The passage-dedup write side under ONE gate (r15 gate
    consolidation, the mm_decode_family pattern — one driver row
    re-verifies BOTH the keep-list verdicts (connected components over
    packed doc·2²⁰+pid keys, one representative per near-dup cluster)
    and their application (per-doc rebuild from kept passages in pid
    order, md5-compared byte-for-byte incl. the all-boilerplate empty
    document); every member row survives verbatim in the tagged slot
    union (aspect, doc_id, l1, l2, b1, s1)). Aspect → member mapping:
    'keep' → (pid, keep); 'apply' → (n_passages_kept, clean_fp). The
    engine threads ONE keep-list DataFrame through both branches, the
    oracle computes the shared recursive-component CTEs once — neither
    side pays the pipeline twice."""
    NL = F.lit(None).cast("long")
    NB = F.lit(None).cast("boolean")
    NS = F.lit(None).cast("string")
    docs = load_table(spark, sf_dir, "documents")
    # localCheckpoint (r15): "threads ONE keep-list DataFrame" was true
    # only as Python object identity — as lazy lineage the keep branch
    # and the apply branch each re-ran the whole passage/component
    # pipeline (7 scan leaves in the before-plan). The keep list is
    # (doc_id, pid, keep) rows — proxy-sized.
    keep = dedup.passage_keep_list(
        docs, F.col("text"), F.col("doc_id")
    ).localCheckpoint()
    ap = dedup.apply_passage_keep(docs, F.col("text"), F.col("doc_id"), keep)
    kp = keep.select(
        F.lit("keep").alias("aspect"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("pid").cast("long").alias("l1"),
        NL.alias("l2"), F.col("keep").alias("b1"), NS.alias("s1"),
    )
    app = ap.select(
        F.lit("apply").alias("aspect"),
        F.col("doc_id").cast("long").alias("doc_id"),
        NL.alias("l1"),
        F.col("n_passages_kept").cast("long").alias("l2"),
        NB.alias("b1"), F.col("clean_fp").alias("s1"),
    )
    return kp.unionByName(app)


def _bpe_train_ctes(n: int, eow: str | None = None) -> list[str]:
    """The ``n`` unrolled BPE training rounds as CTE fragments
    (w0 word state, p{i} pair counts, m{i} 1-row argmax winner, w{i}
    post-merge state) — shared by the training oracle
    (_bpe_merges_sql) and the segmentation oracle (_bpe_segment_sql),
    which applies the same learned m{i} winners to whole documents.
    ``eow`` appends the end-of-word marker SYMBOL to every word's
    initial state (the full Sennrich form — text._bpe_symbolize's eow
    branch), so the replayed rounds learn suffix-distinguishing merges
    exactly as the engine does."""
    tail = " ' AS s" if eow is None else f"  {eow} ' AS s"
    parts = [rf"""w0 AS MATERIALIZED (
  SELECT count(*)::BIGINT AS freq,
         ' ' || rtrim(regexp_replace(word, '(.)', '\1  ', 'g')) || '{tail}
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        FROM documents)
  GROUP BY word)"""]
    for i in range(1, n + 1):
        parts.append(f"""p{i} AS MATERIALIZED (
  SELECT lhs, rhs, sum(freq)::BIGINT AS cnt FROM (
    SELECT freq, unnest(syms[:len(syms)-1]) AS lhs, unnest(syms[2:]) AS rhs
    FROM (SELECT freq, string_split(trim(s), '  ') AS syms FROM w{i - 1}))
  GROUP BY lhs, rhs),
m{i} AS MATERIALIZED (SELECT lhs, rhs, cnt FROM p{i}
                      ORDER BY cnt DESC, lhs, rhs LIMIT 1)""")
        if i < n:
            parts.append(f"""w{i} AS MATERIALIZED (
  SELECT freq, replace(s, ' ' || m.lhs || '  ' || m.rhs || ' ',
                       ' ' || m.lhs || m.rhs || ' ') AS s
  FROM w{i - 1}, m{i} m)""")
    return parts


def _bpe_merges_sql(n: int, eow: str | None = None) -> str:
    """``n`` unrolled BPE training rounds (the pagerank-replay pattern):
    each round = pair counts from the double-space symbol strings, a
    deterministic 1-row argmax (cnt DESC, lhs, rhs), and a literal
    replace applying the merge. Every round CTE is MATERIALIZED — the
    unrolled chain references its predecessor more than once and
    DuckDB's default inlining goes exponential without it (the k-core
    oracle lesson). replace() in DuckDB and Spark share left-to-right
    non-overlapping replace-all semantics, which IS the reference
    greedy merge order (Sennrich et al. 2016)."""
    parts = _bpe_train_ctes(n, eow)
    union = "\nUNION ALL ".join(
        f"SELECT {i}::BIGINT AS rank, lhs, rhs, cnt AS pair_count FROM m{i}"
        for i in range(1, n + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


def _bpe_doc_replay_ctes(n: int, prefix: str = "d") -> list[str]:
    """The per-DOCUMENT segment replay as CTE fragments
    ({prefix}0 symbolized docs, {prefix}i after round i's winner
    applies): each doc symbolizes word-by-word exactly as
    bpe_segment's Column path does (double-space symbol delimiters,
    THREE-space word gaps so no merge pattern can span a boundary,
    empty tokens dropped — the r12 empty-doc parity fix), then each
    learned m{{i}} winner applies as one literal replace. Shared by
    the segmentation, tokenizer-stats, and subword-encode oracles so
    the replay can never desynchronize between them. Requires
    _bpe_train_ctes(n) m{{i}} CTEs in scope."""
    p = prefix
    parts = [rf"""{p}0 AS MATERIALIZED (
  SELECT doc_id,
         ' ' || array_to_string(
             list_transform(
                 list_filter(regexp_split_to_array(trim(text), '\s+'),
                             w -> w <> ''),
                 w -> rtrim(regexp_replace(w, '(.)', '\1  ', 'g'))),
             '   ') || ' ' AS s
  FROM documents)"""]
    for i in range(1, n + 1):
        parts.append(f"""{p}{i} AS MATERIALIZED (
  SELECT doc_id, replace(s, ' ' || m.lhs || '  ' || m.rhs || ' ',
                         ' ' || m.lhs || m.rhs || ' ') AS s
  FROM {p}{i - 1}, m{i} m)""")
    return parts


def _bpe_segment_sql(n: int) -> str:
    """Learn ``n`` merges (the _bpe_train_ctes replay), then SEGMENT
    every document with them: each doc symbolizes word-by-word exactly
    as bpe_segment's Column path does (double-space symbol delimiters,
    THREE-space word gaps so no merge pattern can span a boundary) and
    each round's learned winner applies as one literal replace. The
    final whitespace collapse yields the subword stream, compared by
    md5 — so a green row proves the KERNEL (the Spark side forces
    impl="kernel") agrees with a serial SQL replay of train+apply on
    every document byte-for-byte."""
    parts = _bpe_train_ctes(n) + _bpe_doc_replay_ctes(n, "d")
    return (
        "WITH " + ",\n".join(parts) + f"""
    SELECT doc_id,
           len(string_split(regexp_replace(trim(s), ' +', ' ', 'g'), ' '))::BIGINT
             AS n_subwords,
           md5(regexp_replace(trim(s), ' +', ' ', 'g')) AS seg_fp
    FROM d{n}"""
    )


@register("txt_bpe_merges", _bpe_merges_sql(6))
def txt_bpe_merges(spark, sf_dir):
    """LEARNED BPE merge rules (text.bpe_train_merges — VERDICT r9
    "What's missing #2", Sennrich et al. 2016): six rounds of
    iterated adjacent-pair counting over the word-frequency table,
    each round one map-side-combinable count + a deterministic 1-row
    argmax + one literal replace over the vocab-sized state — rounds
    bounded by the merge budget, never corpus size. Both engines apply
    merges through plain left-to-right replace-all on double-space
    symbol strings (provably the reference greedy order), so the
    oracle replays all six rounds verbatim; a green row proves the
    distributed pair counts, the tie-break, AND the merge application
    agree with a serial reference at every round. Feeds the existing
    encode/pack pipeline: tests pin that applying the learned table
    round-trips every corpus word."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_train_merges(docs, F.col("text"), 6)


@register("txt_bpe_merges_eow", _bpe_merges_sql(6, eow="</w>"))
def txt_bpe_merges_eow(spark, sf_dir):
    """The FULL-Sennrich BPE training form under the hard oracle (r12
    — VERDICT r11 next-round #7): every word's initial symbol state
    carries the '</w>' end-of-word marker, so the learned table can
    distinguish word-final units (suffix merges like 'e</w>') from the
    same characters mid-word — the variant real tokenizers train. The
    oracle replays the identical six rounds with the marker appended
    in w0 (_bpe_train_ctes(eow=...)); a green row proves the marker
    symbolization, the pair counts over marker-bearing states, the
    tie-break, and the merge application all agree with a serial
    reference. At gate scale this trains through the r12 in-memory
    fast path (impl="auto" collects the vocab-sized word table), so
    the row also pins the hybrid trainer against SQL — the distributed
    loop is equality-pinned against it at M∈{6, 94} in pytest."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_train_merges(docs, F.col("text"), 6, eow="</w>")


@register("txt_bpe_segment_kernel", _bpe_segment_sql(6))
def txt_bpe_segment_kernel(spark, sf_dir):
    """The full learned-tokenizer apply path under the gate, executed
    by the ARROW KERNEL (text._bpe_segment_kernel, new r11 — the
    production form for 30k+-rule tables, forced here via
    impl="kernel" so the driver row pins the kernel, not the Column
    fold the equality tests already cover): train 6 merges on the
    corpus, segment every document, fingerprint the subword stream.
    The oracle replays training (the txt_bpe_merges CTEs) and then
    applies each round's winner to whole symbolized documents with the
    same literal replace — an independent serial implementation of
    both halves, so a green row proves learned merges + kernel
    application agree byte-for-byte on every document (md5 compare,
    the dedup_passage_apply pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    merges = text.collect_merges(
        text.bpe_train_merges(docs, F.col("text"), 6)
    )
    seg = text.bpe_segment(
        docs, F.col("text"), F.col("doc_id"), merges, impl="kernel"
    )
    return seg.select(
        "doc_id",
        F.size(F.split("subword_text", " ")).cast("long").alias("n_subwords"),
        F.md5("subword_text").alias("seg_fp"),
    )


# -- r13 GATE CANDIDATES (pre-verified, unregistered) -------------------------
# The r12 window is full (46 r7-vintage refreshes + 4 policy slots), and
# the registry contract requires every registered row-less query to hold
# a window slot — so the r12 tokenizer additions ship as CANDIDATES:
# Spark callable + DuckDB oracle both written and differentially
# verified in pytest (tests/test_r13_gate_candidates.py runs them
# side-by-side at sf0.001, the verify_local compare), and r13's rule-(b)
# slots just add @register. Keep the pair adjacent so the wiring is a
# two-line diff per gate.


def _vocab_cte_parts(n: int, eow: str | None = None) -> list[str]:
    """Shared CTE fragments for the trainer-defined vocabulary
    (text.bpe_vocab): corpus alphabet (per-CODEPOINT substr — DuckDB
    substr is UTF-8-character-based, matching the engine's "(?s)."
    extraction) in binary order as base ids 0..B-1, merged units
    appended in rank order. Requires _bpe_train_ctes(n, eow) m{i}
    CTEs in scope."""
    eow_union = (
        "" if eow is None else f" UNION SELECT '{eow}' AS unit"
    )
    parts = [rf"""vw AS (SELECT DISTINCT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      FROM documents),
vch AS (SELECT DISTINCT substr(word, i, 1) AS unit
        FROM (SELECT word, unnest(range(1, length(word) + 1)) AS i FROM vw)
        WHERE length(word) > 0{eow_union}),
vbase AS (SELECT unit, (row_number() OVER (ORDER BY unit) - 1)::BIGINT AS token_id
          FROM vch),
vnb AS (SELECT count(*)::BIGINT AS n FROM vbase)"""]
    mu = "\nUNION ALL ".join(
        f"SELECT {i}::BIGINT AS rank, lhs, rhs FROM m{i}"
        for i in range(1, n + 1)
    )
    parts.append(f"vmu AS ({mu})")
    return parts


def _bpe_vocab_sql(n: int, eow: str | None = None) -> str:
    """Oracle for text.bpe_vocab: replay training (m{i} winners), then
    emit base + merged units with the trainer-defined ids."""
    parts = _bpe_train_ctes(n, eow) + _vocab_cte_parts(n, eow)
    return (
        "WITH " + ",\n".join(parts) + """,
    vall AS (
      SELECT unit, token_id, 'base' AS source, NULL::BIGINT AS rank FROM vbase
      UNION ALL
      SELECT vmu.lhs || vmu.rhs AS unit, vnb.n + vmu.rank - 1 AS token_id,
             'merge' AS source, vmu.rank
      FROM vmu, vnb)
    SELECT unit, token_id, source, rank FROM vall
    QUALIFY row_number() OVER (PARTITION BY unit ORDER BY token_id) = 1"""
    )


@register("txt_bpe_vocab", _bpe_vocab_sql(6))
def txt_bpe_vocab(spark, sf_dir):
    """Trainer-defined subword vocabulary
    (text.bpe_vocab): corpus alphabet in codepoint order + merged
    units in rank order — the HF/SentencePiece fixed id space, closed
    over segmentation output and stable under corpus growth. A green
    row proves the alphabet extraction, the binary id order, and the
    merge-unit derivation all match a serial replay."""
    docs = load_table(spark, sf_dir, "documents")
    # one corpus word-count pass shared by trainer + alphabet (r15)
    wc = text.bpe_word_counts(docs, F.col("text")).localCheckpoint()
    mdf = text.bpe_train_merges(docs, F.col("text"), 6, word_counts=wc)
    return text.bpe_vocab(docs, F.col("text"), mdf, word_counts=wc)


def _tokenizer_stats_sql(n: int) -> str:
    """Oracle for text.tokenizer_stats: the _bpe_segment_sql document
    replay (d{i} chains) plus per-doc word/char counts — fertility and
    chars-per-subword via the same integer half-up micro division as
    the engine (stats.ratio_round6's documented DuckDB mirror)."""
    parts = _bpe_train_ctes(n) + _bpe_doc_replay_ctes(n, "d")
    parts.append(rf"""tstream AS (
  SELECT doc_id, regexp_replace(trim(s), ' +', ' ', 'g') AS stream FROM d{n}),
tsrc AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                         w -> w <> ''))::BIGINT AS n_words,
         length(array_to_string(regexp_split_to_array(trim(text), '\s+'), ''))::BIGINT
           AS n_chars
  FROM documents),
tcnt AS (
  SELECT s.doc_id, s.n_words, s.n_chars,
         (CASE WHEN length(t.stream) = 0 THEN 0
               ELSE len(string_split(t.stream, ' ')) END)::BIGINT AS n_subwords
  FROM tsrc s JOIN tstream t USING (doc_id))""")
    return (
        "WITH " + ",\n".join(parts) + """
    SELECT doc_id, n_words, n_subwords, n_chars,
           CASE WHEN n_words = 0 THEN NULL
                ELSE ((2000000 * n_subwords + n_words) // (2 * n_words))
                     / 1000000.0 END AS fertility,
           CASE WHEN n_subwords = 0 THEN NULL
                ELSE ((2000000 * n_chars + n_subwords) // (2 * n_subwords))
                     / 1000000.0 END AS chars_per_subword
    FROM tcnt"""
    )


@register("txt_tokenizer_stats", _tokenizer_stats_sql(6))
def txt_tokenizer_stats(spark, sf_dir):
    """Per-document tokenizer-quality metrics
    (text.tokenizer_stats, kernel path): fertility + chars-per-subword
    for the corpus-trained table, computed in ONE exchange-free pass
    (counts ride through the segmenter in the struct id column). The
    oracle replays train + whole-document apply serially and derives
    the same ratios."""
    docs = load_table(spark, sf_dir, "documents")
    rules = text.collect_merges(text.bpe_train_merges(docs, F.col("text"), 6))
    return text.tokenizer_stats(
        docs, F.col("text"), F.col("doc_id"), rules, impl="kernel"
    )


def _encode_subwords_sql(n: int) -> str:
    """Oracle for text.encode_subwords: segment replay → positional
    unit stream → vocab left join → per-doc id fingerprint (the
    txt_encode_docs shape one layer down, against the TRAINER id
    space)."""
    parts = (
        _bpe_train_ctes(n) + _vocab_cte_parts(n)
        + _bpe_doc_replay_ctes(n, "e")
    )
    parts.append(f"""vv AS (
  SELECT unit, token_id FROM (
    SELECT unit, token_id FROM vbase
    UNION ALL
    SELECT vmu.lhs || vmu.rhs AS unit, vnb.n + vmu.rank - 1 AS token_id
    FROM vmu, vnb)
  QUALIFY row_number() OVER (PARTITION BY unit ORDER BY token_id) = 1),
eseg AS (SELECT doc_id, string_split(regexp_replace(trim(s), ' +', ' ', 'g'), ' ') AS us
         FROM e{n}),
eex AS (SELECT doc_id, unnest(range(1, len(us) + 1)) AS pos, us FROM eseg),
eu AS (SELECT doc_id, pos, us[pos] AS unit FROM eex),
ej AS (SELECT e.doc_id, e.pos, coalesce(v.token_id, -1) AS tid
       FROM eu e LEFT JOIN vv v USING (unit))""")
    return (
        "WITH " + ",\n".join(parts) + """
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END)::BIGINT AS n_oov,
           md5(string_agg(tid::VARCHAR, '_' ORDER BY pos)) AS ids_fp
    FROM ej GROUP BY doc_id"""
    )


@register("txt_encode_subwords", _encode_subwords_sql(6))
def txt_encode_subwords(spark, sf_dir):
    """Fixed-vocab subword numericalization
    (text.encode_subwords): segment with the corpus-trained table,
    encode against the trainer-defined id space — n_oov is 0 on
    corpus text by the closure property, and the id fingerprint pins
    position order + id assignment against a serial replay."""
    docs = load_table(spark, sf_dir, "documents")
    # one corpus word-count pass shared by trainer + alphabet (r15)
    wc = text.bpe_word_counts(docs, F.col("text")).localCheckpoint()
    mdf = text.bpe_train_merges(docs, F.col("text"), 6, word_counts=wc)
    rules = text.collect_merges(mdf)
    vocab = text.bpe_vocab(docs, F.col("text"), mdf, word_counts=wc)
    seg = text.bpe_segment(
        docs, F.col("text"), F.col("doc_id"), rules, impl="kernel"
    )
    return text.encode_subwords(seg, vocab).select(
        "doc_id", "n_tokens", "n_oov", "ids_fp"
    )


def _pq_train_sampled_sql() -> str:
    """One PQ training step where assignment reads only the
    deterministic hash sample (md5-threshold WHERE — bernoulli_sample's
    engine-portable form) while seeds come from the FULL corpus, then
    the trained books themselves (empty cells keep their seed) in
    integer micro-units."""
    thr = curation.sample_threshold(0.5)
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    mrange AS (SELECT unnest(range(0, 4)) AS m),
    books0 AS (SELECT m, vec_id AS c_id, v[m*16+1 : m*16+16] AS cv
               FROM e, mrange WHERE vec_id < 16),
    st AS (SELECT vec_id, v FROM e
           WHERE ('0x' || substr(md5('pqgate' || vec_id::VARCHAR), 1, 15))::BIGINT
                 < {thr}),
    sub AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS xv FROM st, mrange),
    sc AS (SELECT s.vec_id, s.m, s.xv, b.c_id,
                  list_dot_product(s.xv, s.xv)
                    - 2.0 * list_dot_product(s.xv, b.cv)
                    + list_dot_product(b.cv, b.cv) AS d2
           FROM sub s JOIN books0 b ON b.m = s.m),
    asgn AS (SELECT vec_id, m, c_id, xv FROM
             (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                           ORDER BY d2, c_id) AS r
              FROM sc) WHERE r = 1),
    dims AS (SELECT a.m, a.c_id, d.range AS dim,
                    round(a.xv[d.range + 1] * 1000000.0)::BIGINT AS xi
             FROM asgn a CROSS JOIN range(0, 16) d),
    means AS (SELECT m, c_id, dim,
                     ((sum(xi) + 4000000 * count(*)) // count(*)
                      - 4000000)::BIGINT AS q
              FROM dims GROUP BY m, c_id, dim),
    seedd AS (SELECT b.m, b.c_id, d.range AS dim, b.cv[d.range + 1] AS x
              FROM books0 b CROSS JOIN range(0, 16) d)
    SELECT s.m::BIGINT AS m, s.c_id, s.dim::BIGINT AS dim,
           coalesce(mn.q, round(s.x * 1000000.0)::BIGINT) AS q
    FROM seedd s LEFT JOIN means mn
      ON mn.m = s.m AND mn.c_id = s.c_id AND mn.dim = s.dim"""


@register("sim_pq_train_sampled", _pq_train_sampled_sql())
def sim_pq_train_sampled(spark, sf_dir):
    """The sampled-training production dial as a gated API (VERDICT r9
    "What's missing #3"): pq_books_trained(train_frac=0.5) Lloyd-steps
    against the deterministic 50% hash sample — content-addressed
    (curation.bernoulli_sample), so every cluster and every engine
    draws the IDENTICAL training set with a WHERE clause, no RNG —
    while codebook seeds still come from the full corpus. Output = the
    resulting books exploded to integer micro-units (trained cells are
    exact positive-shifted floor divisions; empty cells keep their
    seed), so a green row proves the sample boundary, the sampled
    assignment, and the integer means all replay cell-for-cell.
    SCALING.md records the step-up cut vs full-corpus training (the
    r9 13.0× watch item)."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_books_trained(
        emb, iters=1, train_frac=0.5, train_salt="pqgate"
    )
    return (
        books.select("m", "c_id", F.posexplode("cv").alias("dim", "x"))
        .select(
            F.col("m").cast("long").alias("m"),
            "c_id",
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("x") * 1e6).cast("long").alias("q"),
        )
    )


# -- corpus classification (classify.py) -------------------------------------

_NB_TOK = (
    "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
    " w -> w <> '')"
)


def _nb_holdout_sql(vocab_size: int = 50_000) -> str:
    """Oracle for the NB holdout gate: replays nb_train + nb_predict +
    nb_confusion serially — vocabulary cut, add-1 smoothing, the int64
    micro-unit model boundary (CAST(round(ln(p)·1e6) AS BIGINT) — both
    engines round identical double divisions, see classify.py's
    determinism contract), exact integer score sums, and the
    (score DESC, label ASC) argmax tie-break. Mirrors nb_train's
    documented null-label exclusion (tr filters lang IS NOT NULL, so
    a null-lang fixture row can never train a NULL class here while
    the engine drops it — ADVICE r12) and the LEFT tots join with
    tot=0 fill (an all-OOV label keeps its full model column)."""
    return f"""WITH tr AS (SELECT * FROM documents
              WHERE doc_id % 5 <> 0 AND lang IS NOT NULL),
te AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
ttok AS (SELECT doc_id, lang, unnest({_NB_TOK}) AS term FROM tr),
vc AS (SELECT term, count(*)::BIGINT AS cnt FROM ttok GROUP BY term),
vocab AS (SELECT term FROM vc ORDER BY cnt DESC, term ASC LIMIT {vocab_size}),
vsz AS (SELECT count(*)::BIGINT AS v FROM vocab),
cnts AS (SELECT lang, term, count(*)::BIGINT AS cnt
         FROM ttok JOIN vocab USING (term) GROUP BY lang, term),
tots AS (SELECT lang, sum(cnt)::BIGINT AS tot FROM cnts GROUP BY lang),
labels AS (SELECT DISTINCT lang FROM tr),
dense AS (SELECT v.term, l.lang, coalesce(c.cnt, 0)::BIGINT AS cnt
          FROM vocab v CROSS JOIN labels l
          LEFT JOIN cnts c ON c.lang = l.lang AND c.term = v.term),
model AS (SELECT d.term, d.lang,
                 CAST(round(ln((d.cnt + 1.0)
                               / (coalesce(t.tot, 0) + 1.0 * vsz.v))
                            * 1000000.0) AS BIGINT) AS lp_micro
          FROM dense d LEFT JOIN tots t USING (lang), vsz),
ntr AS (SELECT count(*)::BIGINT AS n_total FROM tr),
priors AS (SELECT lang,
                  CAST(round(ln(count(*)::DOUBLE / ntr.n_total)
                             * 1000000.0) AS BIGINT) AS prior_micro
           FROM tr, ntr GROUP BY lang, ntr.n_total),
tetok AS (SELECT doc_id, unnest({_NB_TOK}) AS term FROM te),
ttf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        FROM tetok JOIN vocab USING (term) GROUP BY doc_id, term),
contrib AS (SELECT t.doc_id, m.lang, t.tf * m.lp_micro AS part
            FROM ttf t JOIN model m USING (term)),
base AS (SELECT te.doc_id, p.lang, p.prior_micro AS part
         FROM te CROSS JOIN priors p),
scores AS (SELECT doc_id, lang, sum(part)::BIGINT AS score_micro
           FROM (SELECT * FROM base UNION ALL SELECT * FROM contrib)
           GROUP BY doc_id, lang),
pred AS (SELECT doc_id, lang AS predicted, score_micro,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_micro DESC, lang ASC) AS rk
         FROM scores)
SELECT te.lang AS label, p.predicted, count(*)::BIGINT AS n_docs,
       md5(string_agg(te.doc_id::VARCHAR, '_' ORDER BY te.doc_id)) AS docs_fp
FROM pred p JOIN te USING (doc_id)
WHERE p.rk = 1
GROUP BY te.lang, p.predicted"""


@register("txt_nb_holdout_confusion", _nb_holdout_sql())
def txt_nb_holdout_confusion(spark, sf_dir):
    """Corpus classification (classify.nb_train/nb_predict): the
    CCNet/DCLM classifier slot as a first-class operator — train
    multinomial NB on the 80% doc_id%5≠0 slice (labels = lang), score
    the held-out 20%, and emit the confusion matrix with per-cell
    membership fingerprints. A green row proves the deterministic
    vocabulary cut, the smoothed micro-unit model, the exact integer
    score sums (partition-order-free by construction), and the argmax
    tie-break all match a serial replay. Production splits use the
    content-hash curation.split_assign; the gate's modulo split keeps
    the oracle one WHERE clause."""
    docs = load_table(spark, sf_dir, "documents")
    tr = docs.filter(F.col("doc_id") % 5 != 0)
    te = docs.filter(F.col("doc_id") % 5 == 0)
    nbm = classify.nb_train(tr, F.col("text"), F.col("lang"))
    pred = classify.nb_predict(te, F.col("text"), F.col("doc_id"), nbm)
    return classify.nb_confusion(
        pred, te.select("doc_id", F.col("lang").alias("label"))
    )


# -- interpolated trigram LM perplexity filtering (retrieval.py) --------------

_LM_TOK = (
    "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
    " w -> w <> '')"
)


def _lm_bands_sql() -> str:
    """Oracle for the CCNet-style perplexity gate: replays
    lm_train_trigram + lm_score_trigram + the tercile banding serially.
    Every model probability is an exact-int64 division; the Jelinek-
    Mercer mix is evaluated in the IDENTICAL left-associated order with
    every lambda cast to DOUBLE (DuckDB parses bare 0.7 as DECIMAL —
    different arithmetic); per-event NLL rounds to int64 micro-units
    before the per-doc sum, so totals compare exactly; cross_entropy
    is the INTEGER half-up division (2·nll+n)//(2n) at micro precision
    (round(double, 6) diverged across engines on an exact half-micro
    mean, measured at sf1.0 — see lm_score_trigram); tercile cuts use
    quantile_cont on those exact values (the same fraction double
    1.0/3.0 both engines interpolate from)."""
    l3, l2, l1, l0 = (0.7, 0.2, 0.09, 0.01)
    return f"""WITH tr AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
te AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
trt AS (SELECT doc_id, {_LM_TOK} AS t FROM tr),
trev AS (SELECT CASE WHEN i >= 3 THEN t[i - 2] ELSE '<s>' END AS u,
                CASE WHEN i >= 2 THEN t[i - 1] ELSE '<s>' END AS v,
                t[i] AS w
         FROM (SELECT t, unnest(range(1, len(t) + 1)) AS i FROM trt)),
tric AS (SELECT u, v, w, count(*)::BIGINT AS c3 FROM trev GROUP BY u, v, w),
h2 AS (SELECT u, v, sum(c3)::BIGINT AS ch2 FROM tric GROUP BY u, v),
trij AS (SELECT u, v, w, c3::DOUBLE / ch2 AS p3 FROM tric JOIN h2 USING (u, v)),
bigc AS (SELECT v, w, count(*)::BIGINT AS c2 FROM trev GROUP BY v, w),
h1 AS (SELECT v, sum(c2)::BIGINT AS ch1 FROM bigc GROUP BY v),
bigj AS (SELECT v, w, c2::DOUBLE / ch1 AS p2 FROM bigc JOIN h1 USING (v)),
tot AS (SELECT count(*)::BIGINT AS n_events,
               count(DISTINCT w)::BIGINT AS v_types FROM trev),
unij AS (SELECT w, c1::DOUBLE / tot.n_events AS p1
         FROM (SELECT w, count(*)::BIGINT AS c1 FROM trev GROUP BY w), tot),
tet AS (SELECT doc_id, {_LM_TOK} AS t FROM te),
teev AS (SELECT doc_id,
                CASE WHEN i >= 3 THEN t[i - 2] ELSE '<s>' END AS u,
                CASE WHEN i >= 2 THEN t[i - 1] ELSE '<s>' END AS v,
                t[i] AS w
         FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tet)),
pj AS (SELECT e.doc_id,
              {l3!r}::DOUBLE * coalesce(t3.p3, 0.0::DOUBLE)
              + {l2!r}::DOUBLE * coalesce(b2.p2, 0.0::DOUBLE)
              + {l1!r}::DOUBLE * coalesce(u1.p1, 0.0::DOUBLE)
              + {l0!r}::DOUBLE * (1.0::DOUBLE / (tot.v_types + 1.0::DOUBLE))
                AS p
       FROM teev e
       LEFT JOIN trij t3 ON t3.u = e.u AND t3.v = e.v AND t3.w = e.w
       LEFT JOIN bigj b2 ON b2.v = e.v AND b2.w = e.w
       LEFT JOIN unij u1 ON u1.w = e.w, tot),
nll AS (SELECT doc_id, CAST(round(-ln(p) * 1000000.0) AS BIGINT) AS nll
        FROM pj),
scored0 AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
                   sum(nll)::BIGINT AS nll_micro
            FROM nll GROUP BY doc_id),
scored AS (SELECT doc_id, n_tokens, nll_micro,
                  ((2 * nll_micro + n_tokens) // (2 * n_tokens))
                    / 1000000.0 AS cross_entropy
           FROM scored0),
cuts AS (SELECT quantile_cont(cross_entropy, 1.0::DOUBLE / 3.0::DOUBLE) AS c0,
                quantile_cont(cross_entropy, 2.0::DOUBLE / 3.0::DOUBLE) AS c1
         FROM scored)
SELECT doc_id, n_tokens, nll_micro, cross_entropy,
       (CASE WHEN cross_entropy >= c1 THEN 2
             WHEN cross_entropy >= c0 THEN 1 ELSE 0 END)::BIGINT AS band
FROM scored, cuts"""


@register("txt_lm_perplexity_bands", _lm_bands_sql())
def txt_lm_perplexity_bands(spark, sf_dir):
    """CCNet-style perplexity filtering (Wenzek et al. 2020) as a
    first-class operator (retrieval.lm_train_trigram /
    lm_score_trigram): train the interpolated trigram LM on the 80%
    doc_id%5≠0 reference slice, score the held-out 20% (unseen n-grams
    fall through the Jelinek-Mercer mix to the uniform floor — the OOV
    path a self-scoring model never exercises), and band into
    head/middle/tail terciles of cross-entropy
    (curation.quality_bands' broadcast-cutoff machinery, never a
    global ntile window). A green row proves the BOS event framing,
    the exact-division model, the fixed-order mix, the micro-unit NLL
    sums, and the tercile cuts all match a serial replay."""
    docs = load_table(spark, sf_dir, "documents")
    tr = docs.filter(F.col("doc_id") % 5 != 0)
    te = docs.filter(F.col("doc_id") % 5 == 0)
    lm = retrieval.lm_train_trigram(tr, F.col("text"))
    # quality_bands consumes its input twice (the tercile-cut aggregate
    # and the banding pass) — without materializing, the cut branch
    # replays the entire train+score subtree (r15, guide §2.4/§5: the
    # before-plan held 16 parquet scans; scored is DOC-scale, so the
    # checkpoint holds one small row per held-out doc, never corpus
    # bytes; measured 5.87 → 1.97 s at sf1.0, value-identical).
    scored = retrieval.lm_score_trigram(
        te, F.col("text"), F.col("doc_id"), lm
    ).localCheckpoint()
    banded = curation.quality_bands(
        scored, F.col("cross_entropy"), cuts=(1.0 / 3.0, 2.0 / 3.0)
    )
    return banded.select(
        "doc_id", "n_tokens", "nll_micro", "cross_entropy",
        F.col("band").cast("long").alias("band"),
    )


def _lm_kn_sql() -> str:
    """Oracle for the Kneser-Ney gate: replays lm_train_kn_trigram +
    lm_score_kn_trigram serially.  Every model cell is integer counts
    through the exact-binary discount D = 3/4 in the IDENTICAL
    expression shape (greatest(c − 0.75, 0)/denominator; every float
    literal cast to DOUBLE — DuckDB parses bare decimals as DECIMAL);
    the backoff CASE mirrors the engine's F.when nesting; per-event
    NLL rounds to int64 micro-units before the per-doc sum;
    cross_entropy is the integer half-up division."""
    d = retrieval.KN_DISCOUNT
    lam = 0.01
    top = 1.0 - lam
    return f"""WITH tr AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
te AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
trt AS (SELECT doc_id, {_LM_TOK} AS t FROM tr),
trev AS (SELECT CASE WHEN i >= 3 THEN t[i - 2] ELSE '<s>' END AS u,
                CASE WHEN i >= 2 THEN t[i - 1] ELSE '<s>' END AS v,
                t[i] AS w
         FROM (SELECT t, unnest(range(1, len(t) + 1)) AS i FROM trt)),
tric AS (SELECT u, v, w, count(*)::BIGINT AS c3 FROM trev GROUP BY u, v, w),
h2c AS (SELECT u, v, sum(c3)::BIGINT AS ch2, count(*)::BIGINT AS n1p3
        FROM tric GROUP BY u, v),
trij AS (SELECT u, v, w,
                greatest(c3::DOUBLE - {d!r}::DOUBLE, 0.0::DOUBLE) / ch2
                  AS p3top
         FROM tric JOIN h2c USING (u, v)),
h2g AS (SELECT u, v, {d!r}::DOUBLE * n1p3::DOUBLE / ch2 AS gamma3 FROM h2c),
cc2 AS (SELECT v, w, count(*)::BIGINT AS cc2 FROM tric GROUP BY v, w),
h1c AS (SELECT v, sum(cc2)::BIGINT AS den2, count(*)::BIGINT AS n1p2
        FROM cc2 GROUP BY v),
bigj AS (SELECT v, w,
                greatest(cc2::DOUBLE - {d!r}::DOUBLE, 0.0::DOUBLE) / den2
                  AS p2top
         FROM cc2 JOIN h1c USING (v)),
h1g AS (SELECT v, {d!r}::DOUBLE * n1p2::DOUBLE / den2 AS gamma2 FROM h1c),
cc1 AS (SELECT w, count(*)::BIGINT AS cc1 FROM cc2 GROUP BY w),
nbt AS (SELECT count(*)::BIGINT AS n_bigram_types FROM cc2),
unij AS (SELECT w, cc1::DOUBLE / nbt.n_bigram_types AS p1 FROM cc1, nbt),
tot AS (SELECT count(DISTINCT w)::BIGINT AS v_types FROM trev),
tet AS (SELECT doc_id, {_LM_TOK} AS t FROM te),
teev AS (SELECT doc_id,
                CASE WHEN i >= 3 THEN t[i - 2] ELSE '<s>' END AS u,
                CASE WHEN i >= 2 THEN t[i - 1] ELSE '<s>' END AS v,
                t[i] AS w
         FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tet)),
pj AS (SELECT e.doc_id,
              CASE WHEN g3.gamma3 IS NOT NULL
                   THEN coalesce(t3.p3top, 0.0::DOUBLE)
                        + g3.gamma3
                          * (CASE WHEN g2.gamma2 IS NOT NULL
                                  THEN coalesce(b2.p2top, 0.0::DOUBLE)
                                       + g2.gamma2
                                         * coalesce(u1.p1, 0.0::DOUBLE)
                                  ELSE coalesce(u1.p1, 0.0::DOUBLE) END)
                   ELSE (CASE WHEN g2.gamma2 IS NOT NULL
                              THEN coalesce(b2.p2top, 0.0::DOUBLE)
                                   + g2.gamma2
                                     * coalesce(u1.p1, 0.0::DOUBLE)
                              ELSE coalesce(u1.p1, 0.0::DOUBLE) END)
              END AS p3f,
              tot.v_types
       FROM teev e
       LEFT JOIN trij t3 ON t3.u = e.u AND t3.v = e.v AND t3.w = e.w
       LEFT JOIN h2g g3 ON g3.u = e.u AND g3.v = e.v
       LEFT JOIN bigj b2 ON b2.v = e.v AND b2.w = e.w
       LEFT JOIN h1g g2 ON g2.v = e.v
       LEFT JOIN unij u1 ON u1.w = e.w, tot),
nll AS (SELECT doc_id,
               CAST(round(-ln({top!r}::DOUBLE * p3f
                               + {lam!r}::DOUBLE
                                 * (1.0::DOUBLE / (v_types + 1.0::DOUBLE)))
                          * 1000000.0) AS BIGINT) AS nll
        FROM pj)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       sum(nll)::BIGINT AS nll_micro,
       ((2 * sum(nll)::BIGINT + count(*)) // (2 * count(*))) / 1000000.0
         AS cross_entropy
FROM nll GROUP BY doc_id"""


@register("txt_lm_kn_scores", _lm_kn_sql())
def txt_lm_kn_scores(spark, sf_dir):
    """Interpolated Kneser-Ney perplexity scoring (Kneser & Ney 1995)
    as a first-class operator (retrieval.lm_train_kn_trigram /
    lm_score_kn_trigram) — the smoothing family KenLM implements and
    CCNet's filter actually ships, next to the Jelinek-Mercer gate
    (txt_lm_perplexity_bands) for the A/B: KN's lower orders are
    CONTINUATION counts, so context-bound high-frequency words stop
    leaking probability into unseen histories.  Train on the 80%
    doc_id%5≠0 slice, score the held-out 20% through the explicit
    backoff recursion.  A green row proves the discounted top terms,
    the released-mass gammas, the continuation tables, the backoff
    CASE nesting, the micro-unit NLL sums, and the integer half-up
    cross-entropy all match a serial replay."""
    docs = load_table(spark, sf_dir, "documents")
    tr = docs.filter(F.col("doc_id") % 5 != 0)
    te = docs.filter(F.col("doc_id") % 5 == 0)
    lm = retrieval.lm_train_kn_trigram(tr, F.col("text"))
    return retrieval.lm_score_kn_trigram(te, F.col("text"), F.col("doc_id"), lm)


# -- modified Kneser-Ney on a deterministic Zipf corpus -----------------------
# The fixture corpus is a uniform word salad whose count-of-counts is
# degenerate at EVERY scale (sf0.01 trigram n=(41,2,0,1); sf1.0
# n=(0,0,0,0)) — exactly the profile the Chen-Goodman estimator rejects
# (KenLM refuses it too, "discounts are out of range"), so modified-KN
# cannot carry a driver row on the documents table.  Instead the gate
# builds a SEEDED ZIPF CORPUS IN-QUERY, identically in both engines:
# token (doc, pos) draws a 60-bit md5 integer (the dedup.exploded_
# shingles idiom — engine-portable by construction), reduces it mod the
# total weight, and maps it to a rank by counting cumulative integer
# thresholds passed (weights W//r, the harmonic Zipf profile) — ALL
# integer arithmetic, so the two corpora are equal word-for-word and
# the differential stays hash-exact.  No Date/random anywhere.

_ZIPF_V = 120  # word types; harmonic weights give trigram n1..n4 > 0
_ZIPF_W = 1_000_000
_ZIPF_CUTS: list[int] = [0]
for _r in range(1, _ZIPF_V):
    _ZIPF_CUTS.append(_ZIPF_CUTS[-1] + _ZIPF_W // _r)
_ZIPF_T = _ZIPF_CUTS[-1] + _ZIPF_W // _ZIPF_V
_ZIPF_DOCS = 500  # 30..50 tokens each — ~20k tokens, MKN-valid profile


def _zipf_docs(spark):
    """(doc_id, text) — the deterministic Zipf corpus, engine side.
    One md5 per token (the nested transform keeps the hash out of the
    per-cut filter lambda); the rank lookup is a 120-element literal
    array scan, whole-stage-codegen friendly, zero exchanges."""
    cuts_arr = F.array(*[F.lit(c) for c in _ZIPF_CUTS])
    seq = F.sequence(
        F.lit(1), (F.lit(30) + F.col("id") % 21).cast("int")
    )
    us = F.transform(
        seq,
        lambda i: F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("z"),
                        F.col("id").cast("string"),
                        F.lit("_"),
                        i.cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(_ZIPF_T),
    )
    toks = F.transform(
        us,
        lambda u: F.concat(
            F.lit("w"),
            F.size(F.filter(cuts_arr, lambda c: u >= c)).cast("string"),
        ),
    )
    return spark.range(_ZIPF_DOCS).select(
        F.col("id").alias("doc_id"), F.array_join(toks, " ").alias("text")
    )


def _lm_mkn_zipf_sql() -> str:
    """Oracle for the modified-KN gate: builds the IDENTICAL Zipf
    corpus in a CTE (same md5-derived integers, same cumulative-
    threshold rank lookup), then replays lm_train_mkn_trigram +
    lm_score_kn_trigram serially.  The count-dependent discounts
    (Chen & Goodman eq. 26) mirror _mkn_discounts' exact expression
    shape — Y inlined, every float literal cast to DOUBLE, the same
    left-associated multiply/divide order — so both engines reproduce
    each discount double bit-for-bit; the scoring tail is the
    txt_lm_kn_scores oracle's, unchanged (the model is a KNTrigramLM
    and scoring is shared)."""
    cuts_sql = "[" + ", ".join(str(c) for c in _ZIPF_CUTS) + "]"
    lam = 0.01
    top = 1.0 - lam
    y = "(n1 / (n1 + 2.0::DOUBLE * n2))"
    return f"""WITH zd AS (
  SELECT i AS doc_id,
         list_transform(
           list_transform(range(1, 30 + i % 21 + 1),
             j -> ('0x' || substr(md5('z' || i || '_' || j), 1, 15))::BIGINT
                  % {_ZIPF_T}),
           u -> 'w' || CAST(len(list_filter({cuts_sql}, c -> u >= c))
                            AS VARCHAR)) AS t
  FROM range(0, {_ZIPF_DOCS}) r(i)),
trt AS (SELECT doc_id, t FROM zd WHERE doc_id % 5 <> 0),
tet AS (SELECT doc_id, t FROM zd WHERE doc_id % 5 = 0),
trev AS (SELECT CASE WHEN i >= 3 THEN t[i - 2] ELSE '<s>' END AS u,
                CASE WHEN i >= 2 THEN t[i - 1] ELSE '<s>' END AS v,
                t[i] AS w
         FROM (SELECT t, unnest(range(1, len(t) + 1)) AS i FROM trt)),
tric AS (SELECT u, v, w, count(*)::BIGINT AS c3 FROM trev GROUP BY u, v, w),
nk3 AS (SELECT sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
               sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
               sum(CASE WHEN c3 = 3 THEN 1 ELSE 0 END)::BIGINT AS n3,
               sum(CASE WHEN c3 = 4 THEN 1 ELSE 0 END)::BIGINT AS n4
        FROM tric),
d3l AS (SELECT
    1.0::DOUBLE - 2.0::DOUBLE * {y} * n2 / n1 AS d1,
    2.0::DOUBLE - 3.0::DOUBLE * {y} * n3 / n2 AS d2,
    3.0::DOUBLE - 4.0::DOUBLE * {y} * n4 / n3 AS d3
  FROM nk3),
h2c AS (SELECT u, v, sum(c3)::BIGINT AS ch2,
               sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END)::BIGINT AS m1,
               sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END)::BIGINT AS m2,
               sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END)::BIGINT AS m3
        FROM tric GROUP BY u, v),
trij AS (SELECT t.u, t.v, t.w,
                greatest(t.c3::DOUBLE
                         - (CASE WHEN t.c3 = 1 THEN d.d1
                                 WHEN t.c3 = 2 THEN d.d2
                                 ELSE d.d3 END), 0.0::DOUBLE) / h.ch2
                  AS p3top
         FROM tric t JOIN h2c h ON h.u = t.u AND h.v = t.v, d3l d),
h2g AS (SELECT u, v, (d.d1 * m1 + d.d2 * m2 + d.d3 * m3) / ch2 AS gamma3
        FROM h2c, d3l d),
cc2 AS (SELECT v, w, count(*)::BIGINT AS cc2 FROM tric GROUP BY v, w),
nk2 AS (SELECT sum(CASE WHEN cc2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
               sum(CASE WHEN cc2 = 2 THEN 1 ELSE 0 END)::BIGINT AS n2,
               sum(CASE WHEN cc2 = 3 THEN 1 ELSE 0 END)::BIGINT AS n3,
               sum(CASE WHEN cc2 = 4 THEN 1 ELSE 0 END)::BIGINT AS n4
        FROM cc2),
d2l AS (SELECT
    1.0::DOUBLE - 2.0::DOUBLE * {y} * n2 / n1 AS d1,
    2.0::DOUBLE - 3.0::DOUBLE * {y} * n3 / n2 AS d2,
    3.0::DOUBLE - 4.0::DOUBLE * {y} * n4 / n3 AS d3
  FROM nk2),
h1c AS (SELECT v, sum(cc2)::BIGINT AS den2,
               sum(CASE WHEN cc2 = 1 THEN 1 ELSE 0 END)::BIGINT AS m1,
               sum(CASE WHEN cc2 = 2 THEN 1 ELSE 0 END)::BIGINT AS m2,
               sum(CASE WHEN cc2 >= 3 THEN 1 ELSE 0 END)::BIGINT AS m3
        FROM cc2 GROUP BY v),
bigj AS (SELECT c.v, c.w,
                greatest(c.cc2::DOUBLE
                         - (CASE WHEN c.cc2 = 1 THEN d.d1
                                 WHEN c.cc2 = 2 THEN d.d2
                                 ELSE d.d3 END), 0.0::DOUBLE) / h.den2
                  AS p2top
         FROM cc2 c JOIN h1c h ON h.v = c.v, d2l d),
h1g AS (SELECT v, (d.d1 * m1 + d.d2 * m2 + d.d3 * m3) / den2 AS gamma2
        FROM h1c, d2l d),
cc1 AS (SELECT w, count(*)::BIGINT AS cc1 FROM cc2 GROUP BY w),
nbt AS (SELECT count(*)::BIGINT AS n_bigram_types FROM cc2),
unij AS (SELECT w, cc1::DOUBLE / nbt.n_bigram_types AS p1 FROM cc1, nbt),
tot AS (SELECT count(DISTINCT w)::BIGINT AS v_types FROM trev),
teev AS (SELECT doc_id,
                CASE WHEN i >= 3 THEN t[i - 2] ELSE '<s>' END AS u,
                CASE WHEN i >= 2 THEN t[i - 1] ELSE '<s>' END AS v,
                t[i] AS w
         FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM tet)),
pj AS (SELECT e.doc_id,
              CASE WHEN g3.gamma3 IS NOT NULL
                   THEN coalesce(t3.p3top, 0.0::DOUBLE)
                        + g3.gamma3
                          * (CASE WHEN g2.gamma2 IS NOT NULL
                                  THEN coalesce(b2.p2top, 0.0::DOUBLE)
                                       + g2.gamma2
                                         * coalesce(u1.p1, 0.0::DOUBLE)
                                  ELSE coalesce(u1.p1, 0.0::DOUBLE) END)
                   ELSE (CASE WHEN g2.gamma2 IS NOT NULL
                              THEN coalesce(b2.p2top, 0.0::DOUBLE)
                                   + g2.gamma2
                                     * coalesce(u1.p1, 0.0::DOUBLE)
                              ELSE coalesce(u1.p1, 0.0::DOUBLE) END)
              END AS p3f,
              tot.v_types
       FROM teev e
       LEFT JOIN trij t3 ON t3.u = e.u AND t3.v = e.v AND t3.w = e.w
       LEFT JOIN h2g g3 ON g3.u = e.u AND g3.v = e.v
       LEFT JOIN bigj b2 ON b2.v = e.v AND b2.w = e.w
       LEFT JOIN h1g g2 ON g2.v = e.v
       LEFT JOIN unij u1 ON u1.w = e.w, tot),
nll AS (SELECT doc_id,
               CAST(round(-ln({top!r}::DOUBLE * p3f
                               + {lam!r}::DOUBLE
                                 * (1.0::DOUBLE / (v_types + 1.0::DOUBLE)))
                          * 1000000.0) AS BIGINT) AS nll
        FROM pj)
SELECT doc_id, count(*)::BIGINT AS n_tokens,
       sum(nll)::BIGINT AS nll_micro,
       ((2 * sum(nll)::BIGINT + count(*)) // (2 * count(*))) / 1000000.0
         AS cross_entropy
FROM nll GROUP BY doc_id"""


@register("txt_lm_mkn_zipf", _lm_mkn_zipf_sql())
def txt_lm_mkn_zipf(spark, sf_dir):
    """Modified Kneser-Ney (retrieval.lm_train_mkn_trigram — the
    Chen-Goodman count-dependent discounts KenLM defaults to) as a
    driver-gated operator.  Ignores sf_dir BY DESIGN: the fixture
    corpus's count-of-counts is degenerate at every scale (the
    estimator's guard raises there, pinned in tests), so the gate
    trains and scores on the deterministic in-query Zipf corpus built
    identically in both engines (_zipf_docs / the zd CTE).  A green
    row proves the three count-dependent discounts per level, the
    per-history released-mass gammas, the continuation tables, and the
    shared KN scoring recursion all match a serial replay — the
    registry-shaped artifact modified-KN lacked (VERDICT r13 item 8).
    Train: doc_id%5≠0 (400 docs); score: the held-out 100."""
    docs = _zipf_docs(spark)
    tr = docs.filter(F.col("doc_id") % 5 != 0)
    te = docs.filter(F.col("doc_id") % 5 == 0)
    lm = retrieval.lm_train_mkn_trigram(tr, F.col("text"))
    return retrieval.lm_score_kn_trigram(te, F.col("text"), F.col("doc_id"), lm)


# -- unigram-LM (SentencePiece-style) Viterbi segmentation (unigram.py) -------


def _unigram_cte_parts(n: int, j_max: int) -> list[str]:
    """CTE fragments replaying unigram.piece_scores +
    unigram.viterbi_segment serially: piece inventory = the trained
    BPE vocabulary's unit strings (needs _bpe_train_ctes(n) +
    _vocab_cte_parts(n) in scope), scores = ln(weighted substring
    occurrences / total) in int64 micro-units, then the word-level DP
    unrolled to ``j_max`` end positions (forward: best/backpointer per
    (word, pos) with the min-i tie-break; backward: ``j_max`` chained
    reconstruction steps). Words longer than ``j_max`` would MISS from
    the final state (a loud row-count mismatch, never a silent pass)
    — the fixture corpus tops out at 8 characters, j_max=12 leaves
    margin; the ENGINE kernel has no such bound."""
    parts = [
        """upieces AS MATERIALIZED (
  SELECT unit FROM vbase UNION SELECT lhs || rhs AS unit FROM vmu),
uml AS (SELECT max(length(unit))::BIGINT AS ml FROM upieces),
uwords AS MATERIALIZED (
  SELECT word, count(*)::BIGINT AS freq
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY word),
us1 AS (SELECT word, freq, unnest(range(1, length(word) + 1))::INT AS i
        FROM uwords),
us2 AS (SELECT word, freq, i,
               unnest(range(1, least(uml.ml, length(word) - i + 1) + 1))::INT
                 AS l
        FROM us1, uml),
uocc AS MATERIALIZED (
  SELECT piece, sum(freq)::BIGINT AS occ
  FROM (SELECT substr(word, i, l) AS piece, freq FROM us2)
  JOIN upieces ON piece = unit GROUP BY piece),
utot AS (SELECT sum(occ)::BIGINT AS tot FROM uocc),
uscore AS MATERIALIZED (
  SELECT piece, CAST(round(ln(occ::DOUBLE / tot) * 1000000.0) AS BIGINT)
           AS sc
  FROM uocc, utot),
a0 AS (SELECT word, 0::BIGINT AS pos, 0::BIGINT AS best, NULL::BIGINT AS bp
       FROM uwords)"""
    ]
    for j in range(1, j_max + 1):
        parts.append(f"""c{j} AS MATERIALIZED (
  SELECT a.word, a.pos AS i, a.best + sc.sc AS cand
  FROM a{j - 1} a JOIN uscore sc
    ON sc.piece = substr(a.word, (a.pos + 1)::INT, ({j} - a.pos)::INT)
  WHERE length(a.word) >= {j} AND a.pos < {j}),
n{j} AS MATERIALIZED (
  SELECT c.word, {j}::BIGINT AS pos, m.best, min(c.i)::BIGINT AS bp
  FROM c{j} c JOIN (SELECT word, max(cand) AS best FROM c{j} GROUP BY word) m
    ON m.word = c.word AND c.cand = m.best
  GROUP BY c.word, m.best),
a{j} AS MATERIALIZED (SELECT * FROM a{j - 1} UNION ALL SELECT * FROM n{j})""")
    parts.append(
        f"r0 AS (SELECT word, length(word)::BIGINT AS pos, '' AS acc"
        f" FROM uwords)"
    )
    for k in range(1, j_max + 1):
        parts.append(f"""r{k} AS MATERIALIZED (
  SELECT r.word,
         CASE WHEN r.pos = 0 THEN 0 ELSE a.bp END AS pos,
         CASE WHEN r.pos = 0 THEN r.acc
              ELSE substr(r.word, (a.bp + 1)::INT, (r.pos - a.bp)::INT)
                   || CASE WHEN r.acc = '' THEN '' ELSE ' ' END || r.acc
         END AS acc
  FROM r{k - 1} r LEFT JOIN a{j_max} a
    ON a.word = r.word AND a.pos = r.pos)""")
    parts.append(f"useg AS (SELECT word, acc AS seg FROM r{j_max})")
    return parts


def _unigram_viterbi_sql(n: int, j_max: int = 12) -> str:
    parts = (
        _bpe_train_ctes(n) + _vocab_cte_parts(n)
        + _unigram_cte_parts(n, j_max)
    )
    parts.append(r"""dtok AS (
  SELECT doc_id, i, t[i] AS word
  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1))::BIGINT AS i
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(text), '\s+'),
                                 w -> w <> '') AS t
              FROM documents))),
dout AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY i) AS piece_text
  FROM dtok JOIN useg USING (word) GROUP BY doc_id)""")
    return (
        "WITH " + ",\n".join(parts) + """
SELECT d.doc_id,
       (CASE WHEN d.text IS NULL THEN NULL
             WHEN coalesce(o.piece_text, '') = '' THEN 0
             ELSE len(string_split(o.piece_text, ' ')) END)::BIGINT
         AS n_pieces,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE md5(coalesce(o.piece_text, '')) END AS seg_fp
FROM documents d LEFT JOIN dout o USING (doc_id)"""
    )


@register("txt_unigram_viterbi", _unigram_viterbi_sql(6))
def txt_unigram_viterbi(spark, sf_dir):
    """Unigram-LM segmentation (Kudo 2018; the SentencePiece model
    family) as a first-class tokenizer path (unigram.piece_scores +
    viterbi_segment): piece inventory = the trained BPE vocabulary,
    scores = frequency-weighted substring occurrences in int64
    micro-units, segmentation = exact-integer Viterbi in the same
    exchange-free Arrow-kernel shape as the BPE segmenter. A green
    row proves the occurrence counts, the score rounding, the DP
    argmax with its min-split tie-break, and the per-document
    reassembly all match a serially-unrolled SQL DP."""
    docs = load_table(spark, sf_dir, "documents")
    # one corpus word-count pass shared by trainer + alphabet + scores
    wc = text.bpe_word_counts(docs, F.col("text")).localCheckpoint()
    mdf = text.bpe_train_merges(docs, F.col("text"), 6, word_counts=wc)
    vocab = text.bpe_vocab(docs, F.col("text"), mdf, word_counts=wc)
    sc = unigram.piece_scores(wc, vocab.select("unit"))
    pieces = unigram.collect_pieces(sc)
    seg = unigram.viterbi_segment(docs, F.col("text"), F.col("doc_id"), pieces)
    return seg.select(
        "doc_id",
        F.when(F.col("piece_text").isNull(), F.lit(None).cast("long"))
        .when(F.col("piece_text") == "", F.lit(0))
        .otherwise(F.size(F.split("piece_text", " ")))
        .cast("long")
        .alias("n_pieces"),
        F.md5("piece_text").alias("seg_fp"),
    )


# -- tokenizer round-trip (decode_subwords) -----------------------------------


def _roundtrip_sql() -> str:
    """Oracle for the end-to-end tokenizer round-trip: the IDENTITY is
    the oracle. The engine runs train(eow) → vocab → segment(kernel,
    eow) → encode → decode; losslessness of that whole chain on corpus
    text is a mathematical property (the eow marker makes word
    boundaries recoverable, the vocab closure makes every unit
    encodable), so the oracle asserts decoded == the whitespace-
    normalized source for every document — any drift in ANY stage
    (a wrong merge, a vocab id collision mishandled, a kernel
    tokenization edge, an encode join fan-out, a decode
    re-assembly order bug) breaks equality for some document and
    surfaces as a value mismatch, not a silent pass."""
    return r"""SELECT doc_id,
       md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS decoded_fp,
       true AS round_trip
FROM documents
WHERE length(trim(text)) > 0"""


@register("txt_subword_roundtrip", _roundtrip_sql())
def txt_subword_roundtrip(spark, sf_dir):
    """Tokenizer lifecycle closure (text.decode_subwords): train the
    full-Sennrich eow table, segment with the Arrow kernel, encode
    against the trainer vocabulary, DECODE back — and fingerprint the
    decoded text, asserting it equals the whitespace-normalized
    source. A green row proves the deployed-tokenizer round-trip
    contract decode(encode(x)) == normalize(x) holds document-for-
    document through every stage."""
    eow = "</w>"
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    # one corpus word-count pass shared by trainer + alphabet (r15;
    # word counts are eow-independent — the marker attaches later)
    wc = text.bpe_word_counts(docs, F.col("text")).localCheckpoint()
    mdf = text.bpe_train_merges(
        docs, F.col("text"), 6, eow=eow, word_counts=wc
    )
    vocab = text.bpe_vocab(docs, F.col("text"), mdf, eow=eow, word_counts=wc)
    rules = text.collect_merges(mdf)
    seg = text.bpe_segment(
        docs, F.col("text"), F.col("doc_id"), rules, eow=eow, impl="kernel"
    )
    enc = text.encode_subwords(seg, vocab)
    dec = text.decode_subwords(enc, vocab, eow=eow)
    src = docs.select(
        "doc_id",
        F.regexp_replace(F.trim(F.col("text")), r"\s+", " ").alias("__norm"),
    )
    return dec.join(src, "doc_id").select(
        "doc_id",
        F.md5("decoded").alias("decoded_fp"),
        (F.col("decoded") == F.col("__norm")).alias("round_trip"),
    )


@register("txt_unigram_roundtrip", _roundtrip_sql())
def txt_unigram_roundtrip(spark, sf_dir):
    """Unigram-tokenizer lifecycle closure (VERDICT r12 #7 — the BPE
    family's decode(encode(x)) == normalize(x) guarantee, now for the
    SECOND tokenizer family): score the BPE-vocabulary piece inventory
    (unigram.piece_scores), Viterbi-segment with a STANDALONE
    end-of-word boundary piece (viterbi_segment(eow=…) — presentation-
    only, the DP is untouched), encode against the piece inventory +
    marker id table (dense ids in piece order — deterministic,
    model-sized), decode back through the shared
    text.decode_subwords(eow=…) machinery, and fingerprint the decoded
    text asserting it equals the whitespace-normalized source. The
    oracle is the same IDENTITY as txt_subword_roundtrip: any drift in
    scores, the DP tie-break, the boundary emission, the encode join,
    or the decode re-assembly breaks equality for some document."""
    eow = "</w>"
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    # one corpus word-count pass shared by trainer + alphabet + scores
    wc = text.bpe_word_counts(docs, F.col("text")).localCheckpoint()
    mdf = text.bpe_train_merges(docs, F.col("text"), 6, word_counts=wc)
    vocab = text.bpe_vocab(docs, F.col("text"), mdf, word_counts=wc)
    sc = unigram.piece_scores(wc, vocab.select("unit"))
    pieces = unigram.collect_pieces(sc)
    seg = unigram.viterbi_segment(
        docs, F.col("text"), F.col("doc_id"), pieces, eow=eow
    )
    pvocab = spark.createDataFrame(
        [(p, i) for i, (p, _) in enumerate(pieces)] + [(eow, len(pieces))],
        "unit string, token_id long",
    )
    enc = text.encode_subwords(
        seg.select("doc_id", F.col("piece_text").alias("subword_text")),
        pvocab,
    )
    dec = text.decode_subwords(enc, pvocab, eow=eow)
    src = docs.select(
        "doc_id",
        F.regexp_replace(F.trim(F.col("text")), r"\s+", " ").alias("__norm"),
    )
    return dec.join(src, "doc_id").select(
        "doc_id",
        F.md5("decoded").alias("decoded_fp"),
        (F.col("decoded") == F.col("__norm")).alias("round_trip"),
    )


# -- cross-family tokenizer comparison ----------------------------------------


def _tokenizer_compare_sql(n: int = 6, j_max: int = 12) -> str:
    """Oracle composing BOTH tokenizer replay chains over one corpus:
    the BPE document replay (d{i} merge chains) and the unigram
    piece-score + unrolled-DP chain, rolled up to ONE corpus row of
    totals and micro-precision fertility ratios (ratio_round6's
    integer half-up mirror)."""
    parts = (
        _bpe_train_ctes(n)
        + _bpe_doc_replay_ctes(n, "d")
        + _vocab_cte_parts(n)
        + _unigram_cte_parts(n, j_max)
    )
    parts.append(rf"""bstream AS (
  SELECT doc_id, regexp_replace(trim(s), ' +', ' ', 'g') AS stream FROM d{n}),
bcnt AS (
  SELECT sum(CASE WHEN length(stream) = 0 THEN 0
                  ELSE len(string_split(stream, ' ')) END)::BIGINT AS bpe_subwords
  FROM bstream),
wsrc AS (
  SELECT sum(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                             w -> w <> '')))::BIGINT AS n_words,
         sum(length(array_to_string(
               regexp_split_to_array(trim(text), '\s+'), '')))::BIGINT
           AS n_chars,
         count(*)::BIGINT AS n_docs
  FROM documents),
ucnt AS (
  SELECT sum(len(string_split(u.seg, ' ')))::BIGINT AS uni_pieces
  FROM (SELECT doc_id, i, t[i] AS word
        FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1))::BIGINT AS i
              FROM (SELECT doc_id,
                           list_filter(regexp_split_to_array(trim(text), '\s+'),
                                       w -> w <> '') AS t
                    FROM documents))) d
  JOIN useg u USING (word))""")
    return (
        "WITH " + ",\n".join(parts) + """
SELECT w.n_docs, w.n_words, w.n_chars, b.bpe_subwords, u.uni_pieces,
       ((2000000 * b.bpe_subwords + w.n_words) // (2 * w.n_words))
         / 1000000.0 AS bpe_fertility,
       ((2000000 * u.uni_pieces + w.n_words) // (2 * w.n_words))
         / 1000000.0 AS uni_fertility,
       ((2000000 * w.n_chars + b.bpe_subwords) // (2 * b.bpe_subwords))
         / 1000000.0 AS bpe_chars_per_subword,
       ((2000000 * w.n_chars + u.uni_pieces) // (2 * u.uni_pieces))
         / 1000000.0 AS uni_chars_per_piece
FROM wsrc w, bcnt b, ucnt u"""
    )


@register("txt_tokenizer_compare", _tokenizer_compare_sql())
def txt_tokenizer_compare(spark, sf_dir):
    """Cross-family tokenizer evaluation in one row: train BOTH
    learned tokenizers on the corpus (BPE merges; unigram pieces from
    the BPE vocabulary) and compare corpus-level fertility and
    compression — the decision table a pipeline consults before
    freezing a tokenizer family. Composes tokenizer_stats (BPE side,
    counts riding the exchange-free kernel) with viterbi_segment
    (unigram side); all ratios are integer half-up micro divisions.
    A green row proves both whole training+segmentation chains and
    their corpus rollups in a single compare."""
    docs = load_table(spark, sf_dir, "documents")
    # one corpus word-count pass shared by the BPE trainer, the vocab
    # alphabet, and the unigram piece scores (r15 — was three)
    wc = text.bpe_word_counts(docs, F.col("text")).localCheckpoint()
    mdf = text.bpe_train_merges(docs, F.col("text"), 6, word_counts=wc)
    rules = text.collect_merges(mdf)
    ts = text.tokenizer_stats(
        docs, F.col("text"), F.col("doc_id"), rules, impl="kernel"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum("n_subwords").cast("long").alias("bpe_subwords"),
    )
    vocab = text.bpe_vocab(docs, F.col("text"), mdf, word_counts=wc)
    pieces = unigram.collect_pieces(
        unigram.piece_scores(wc, vocab.select("unit"))
    )
    seg = unigram.viterbi_segment(docs, F.col("text"), F.col("doc_id"), pieces)
    uv = seg.agg(
        F.sum(
            F.when(F.col("piece_text").isNull(), F.lit(0))
            .when(F.col("piece_text") == "", F.lit(0))
            .otherwise(F.size(F.split("piece_text", " ")))
        )
        .cast("long")
        .alias("uni_pieces")
    )
    from semantic_cpp_spark.functions.stats import ratio_round6

    return ts.crossJoin(F.broadcast(uv)).select(
        "n_docs",
        "n_words",
        "n_chars",
        "bpe_subwords",
        "uni_pieces",
        ratio_round6(F.col("bpe_subwords"), F.col("n_words")).alias(
            "bpe_fertility"
        ),
        ratio_round6(F.col("uni_pieces"), F.col("n_words")).alias(
            "uni_fertility"
        ),
        ratio_round6(F.col("n_chars"), F.col("bpe_subwords")).alias(
            "bpe_chars_per_subword"
        ),
        ratio_round6(F.col("n_chars"), F.col("uni_pieces")).alias(
            "uni_chars_per_piece"
        ),
    )


# -- blocklist filtering (blocklist.py) ---------------------------------------


def _blocklist_sql() -> str:
    """Oracle for the Aho-Corasick blocklist gate: derive the same
    corpus blocklist (top-10 words by (count DESC, word ASC) + the
    hottest adjacent-token bigram as a space-joined phrase), then
    count matches POSITIONALLY — one row per (position, phrase-length)
    candidate substring joined against the phrase table. All-positions
    counting (overlapping included) is exactly the automaton's output
    semantics, so engine and oracle agree by definition, not by
    implementation coincidence."""
    return r"""WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     w -> w <> '') AS t
  FROM documents),
uni AS (SELECT unnest(t) AS w FROM tok),
top10 AS (SELECT w FROM (SELECT w, count(*) AS c FROM uni GROUP BY w)
          ORDER BY c DESC, w ASC LIMIT 10),
bgev AS (SELECT t[i] AS v, t[i + 1] AS w
         FROM (SELECT t, unnest(range(1, len(t)))::INT AS i FROM tok)),
bg1 AS (SELECT v || ' ' || w AS p
        FROM (SELECT v, w, count(*) AS c FROM bgev GROUP BY v, w)
        ORDER BY c DESC, p ASC LIMIT 1),
phr AS (SELECT w AS p FROM top10 UNION SELECT p FROM bg1),
plen AS (SELECT DISTINCT length(p) AS l FROM phr),
pos AS (SELECT doc_id, lower(text) AS t,
               unnest(range(1, length(text) + 1))::INT AS i
        FROM documents WHERE text IS NOT NULL),
cand AS (SELECT doc_id, substr(t, i, l.l) AS sub
         FROM pos, plen l WHERE i + l.l <= length(t) + 1),
m AS (SELECT doc_id, sub FROM cand JOIN phr ON sub = p),
agg AS (SELECT doc_id, count(*)::BIGINT AS n_hits,
               count(DISTINCT sub)::BIGINT AS n_phrases_hit
        FROM m GROUP BY doc_id)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(a.n_hits, 0) END::BIGINT AS n_hits,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(a.n_phrases_hit, 0) END::BIGINT AS n_phrases_hit
FROM documents d LEFT JOIN agg a USING (doc_id)"""


@register("txt_blocklist_hits", _blocklist_sql())
def txt_blocklist_hits(spark, sf_dir):
    """Multi-pattern blocklist matching (blocklist.phrase_hits): the
    C4/RefinedWeb filtering stage — a real Aho-Corasick automaton
    (goto/fail/output links, built at plan time, task-closure state)
    scans every document once for a corpus-derived list of the 10
    hottest words plus the hottest two-word phrase; per-doc total and
    distinct-phrase hit counts come back with all-positions
    (overlapping) semantics. Zero-hit docs report 0 via a left-join
    restore; null text reports null. A green row proves the automaton
    against an independent positional replay."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda t: t != F.lit(""),
        ).alias("t")
    )
    uni = tok.select(F.explode("t").alias("w"))
    top10 = [
        r["w"]
        for r in uni.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(10)
        .collect()
    ]
    bg = (
        tok.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("t"), 1, F.size("t") - 1).alias("v"),
                    F.slice(F.col("t"), 2, F.size("t") - 1).alias("w"),
                )
            ).alias("p")
        )
        .select(
            F.concat_ws(" ", F.col("p.v"), F.col("p.w")).alias("p")
        )
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("p").asc())
        .limit(1)
        .collect()
    )
    phrases = sorted(set(top10) | {bg[0]["p"]})
    hits = blocklist.phrase_hits(
        docs, F.lower(F.col("text")), F.col("doc_id"), phrases
    )
    return hits
