"""LLM-training-data pipeline queries over documents/embeddings.

These exercise the scale-oriented extension operators
(furchild_spark.operators.*): corpus dedup (exact / MinHash-LSH / SimHash /
bucketed Jaccard), text quality analysis, similarity search, and multimodal
column plumbing. Every query here has a full DuckDB oracle — including the
banded MinHash-LSH pipeline — because all hashing is md5-over-strings and
all arithmetic is exact-integer or exact-decimal.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from furchild_spark.operators import dedup, multimodal, similarity, text
from .catalog import query, table, widen_scan

from ._oracle_fragments import _MINHASH_CTES, _NORM, _TOKS  # noqa: F401


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

@query(
    "exact_dedup",
    section="LLM-dedup exact (hash-groupBy, survivor = min id)",
    headline=True,
    oracle=f"""
SELECT md5(coalesce({_NORM}, '')) AS fingerprint,
  MIN(doc_id) AS keep_id,
  COUNT(*) AS n_docs
FROM documents GROUP BY md5(coalesce({_NORM}, ''))
""",
)
def exact_dedup(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(d, "doc_id", "text")


# ---------------------------------------------------------------------------
# text quality stats
# ---------------------------------------------------------------------------

@query(
    "text_stats",
    section="LLM-text quality scoring (length/stopword/distinct ratios)",
    headline=True,
    oracle=f"""
WITH tok AS (
  SELECT doc_id, text, {_NORM} AS norm, {_TOKS} AS toks FROM documents
)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq_tokens,
  CAST(length(replace(norm, ' ', '')) AS BIGINT) AS alpha_chars,
  CAST(length(replace(norm, ' ', '')) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mean_token_len,
  CAST(len(regexp_extract_all(norm, '\\b(the|a|of|and|to|in|is|it)\\b')) AS BIGINT) AS n_stopwords,
  CAST(len(regexp_extract_all(norm, '\\b(the|a|of|and|to|in|is|it)\\b')) AS DOUBLE)
    / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS uniq_ratio,
  (len(toks) BETWEEN 5 AND 10000
   AND CAST(len(regexp_extract_all(norm, '\\b(the|a|of|and|to|in|is|it)\\b')) AS DOUBLE)
       / CAST(len(toks) AS DOUBLE) < 0.5) AS is_quality
FROM tok
""",
)
def text_stats(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return text.with_text_stats(d, "text").select(
        "doc_id",
        F.col("n_chars").cast("long"),
        F.col("n_tokens").cast("long"),
        F.col("n_uniq_tokens").cast("long"),
        F.col("alpha_chars").cast("long"),
        "mean_token_len",
        F.col("n_stopwords").cast("long"),
        "stopword_ratio",
        "uniq_ratio",
        "is_quality",
    )


# ---------------------------------------------------------------------------
# language-ID heuristic
# ---------------------------------------------------------------------------

@query(
    "lang_id",
    section="LLM-text language-ID heuristic (stopword-family argmax)",
    oracle=f"""
WITH base AS (SELECT doc_id, {_NORM} AS norm FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(norm, '\\b(the|a|of|and|to|in|is|it)\\b')) AS BIGINT) AS c_en,
  CAST(len(regexp_extract_all(norm, '\\b(table|query|join|scan|sort|agg|merge)\\b')) AS BIGINT) AS c_sql,
  CASE WHEN len(regexp_extract_all(norm, '\\b(the|a|of|and|to|in|is|it)\\b'))
            >= len(regexp_extract_all(norm, '\\b(table|query|join|scan|sort|agg|merge)\\b'))
       THEN 'en' ELSE 'dsl' END AS lang_pred
FROM base
""",
)
def lang_id(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return text.with_lang_id(d, "text").select(
        "doc_id",
        F.col("c_en").cast("long"),
        F.col("c_sql").cast("long"),
        "lang_pred",
    )


# ---------------------------------------------------------------------------
# token counting (whitespace + BPE-ish regex pre-tokenizer)
# ---------------------------------------------------------------------------

@query(
    "token_count",
    section="LLM-text token counting (ws + regex pre-tokenizer)",
    oracle=f"""
SELECT doc_id,
  CAST(len({_TOKS}) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re_tokens
FROM documents
""",
)
def token_count(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(text.tokens("text")).cast("long").alias("n_ws_tokens"),
        F.size(text.regex_tokens("text")).cast("long").alias("n_re_tokens"),
    )


# ---------------------------------------------------------------------------
# document fingerprint (1-perm MinHash over 3-shingles)
# ---------------------------------------------------------------------------

@query(
    "doc_fingerprint",
    section="LLM-text document fingerprinting (min-md5 shingle signature)",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id,
    list_transform(range(1, CASE WHEN len(t) >= 3 THEN len(t) - 1 ELSE 1 END),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shingles
  FROM tok
)
SELECT doc_id,
  CAST(len(shingles) AS BIGINT) AS n_shingles,
  list_aggregate(list_transform(shingles, x -> md5(x)), 'min') AS fingerprint
FROM sh
""",
)
def doc_fingerprint(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    fp = text.doc_fingerprint(d, "doc_id", "text", k=3)
    return fp.select("doc_id", F.col("n_shingles").cast("long"), "fingerprint")


# ---------------------------------------------------------------------------
# MinHash + LSH banded near-dup (full pipeline, full oracle)
# ---------------------------------------------------------------------------



@query(
    "minhash_neardup",
    section="LLM-dedup MinHash+LSH (banded candidates, exact-Jaccard verify; no O(n²))",
    headline=True,
    oracle=_MINHASH_CTES
    + """
SELECT * FROM (
  SELECT i.id_a, i.id_b, CAST(i.n_inter AS BIGINT) AS n_inter,
    CAST(i.n_inter AS DOUBLE) / CAST(za.sz + zb.sz - i.n_inter AS DOUBLE) AS jaccard
  FROM inter i
  JOIN sizes za ON za.doc_id = i.id_a
  JOIN sizes zb ON zb.doc_id = i.id_b
) WHERE jaccard >= 0.3
""",
)
def minhash_neardup(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    out = dedup.minhash_near_duplicates(
        d, "doc_id", "text", num_perm=16, rows_per_band=4, shingle_k=3,
        threshold=0.3, hash_fn="md5",
    )
    return out.select("id_a", "id_b", F.col("n_inter").cast("long"), "jaccard")


# ---------------------------------------------------------------------------
# SimHash (16-bit, exact-integer)
# ---------------------------------------------------------------------------

@query(
    "simhash",
    section="LLM-dedup SimHash (md5-nibble bit votes, exact integer)",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tk FROM documents),
h AS (SELECT doc_id, md5(tk) AS h FROM tok),
bits AS (
  SELECT doc_id, j,
    SUM(CASE WHEN substring(h, CAST(j AS INT), 1) IN ('8','9','a','b','c','d','e','f')
         THEN 1 ELSE -1 END) AS v
  FROM h, (SELECT unnest(range(1, 17)) AS j) js
  GROUP BY doc_id, j
)
SELECT doc_id,
  CAST(SUM(CASE WHEN v > 0 THEN CAST(power(2, j - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""",
)
def simhash(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return dedup.simhash16(d, "doc_id", "text")


# ---------------------------------------------------------------------------
# bucketed n-gram Jaccard pairs
# ---------------------------------------------------------------------------

@query(
    "ngram_jaccard",
    section="LLM-dedup n-gram Jaccard (bucketed self-join, never global O(n²))",
    oracle=f"""
SELECT * FROM (
  WITH base AS (
    SELECT source AS bucket, doc_id, list_distinct({_TOKS}) AS s FROM documents
  )
  SELECT a.bucket, a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
  FROM base a JOIN base b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
) WHERE jaccard >= 0.1
""",
)
def ngram_jaccard(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", bucket_col="source", threshold=0.1
    )


@query(
    "ngram_jaccard_neardup",
    section="LLM-dedup n-gram Jaccard at the realistic near-dup threshold "
    "(prefix filtering prunes hard at t=0.7)",
    oracle=f"""
SELECT * FROM (
  WITH base AS (
    SELECT source AS bucket, doc_id, list_distinct({_TOKS}) AS s FROM documents
  )
  SELECT a.bucket, a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
  FROM base a JOIN base b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
) WHERE jaccard >= 0.7
""",
)
def ngram_jaccard_neardup(spark, sf_dir):
    """The operating point real near-dup dedup runs at (t >= 0.7): each
    document joins on only its ~|set|*(1-t)+1 rarest tokens, so the
    candidate set collapses to genuinely-similar pairs and the hot-token
    skew profile never forms. The t=0.1 sibling entry keeps the dense
    all-pairs case verified; this one is the representative workload."""
    d = table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", bucket_col="source", threshold=0.7
    )


# ---------------------------------------------------------------------------
# ANN: brute-force cosine top-k (baseline) + LSH buckets (scale path)
# ---------------------------------------------------------------------------

_DOT = (
    "list_aggregate(list_transform(range(1, len({a}) + 1), "
    "i -> CAST(CAST({a}[i] AS DOUBLE) AS DECIMAL(18,6)) "
    "* CAST(CAST({b}[i] AS DOUBLE) AS DECIMAL(18,6))), 'sum')"
)


@query(
    "ann_cosine_topk",
    section="LLM-similarity brute-force cosine top-k (exact-decimal dot products)",
    headline=True,
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
    round(CAST({_DOT.format(a='qv', b='cv')} AS DOUBLE)
          / (sqrt(CAST({_DOT.format(a='qv', b='qv')} AS DOUBLE))
             * sqrt(CAST({_DOT.format(a='cv', b='cv')} AS DOUBLE))), 6) AS sim
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM (
  SELECT query_id, neighbor_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def ann_cosine_topk(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.cosine_topk_bruteforce(emb, queries, "vec_id", "embedding", k=5)
    return out.select("query_id", F.col("rank").cast("long"), "neighbor_id", "sim")


_PLANES = similarity.deterministic_planes(num_planes=4, dim=64, seed=42)


def _plane_dot_sql(plane: list[int]) -> str:
    arr = "[" + ", ".join(str(s) for s in plane) + "]"
    return (
        "list_aggregate(list_transform(range(1, len(embedding) + 1), "
        "i -> CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,6)) "
        f"* CAST(({arr})[i] AS DECIMAL(18,6))), 'sum')"
    )


def _bucket_sql(planes) -> str:
    """SQL mirror of similarity.bucket_from_q over a plane slice."""
    return " + ".join(
        f"(CASE WHEN {_plane_dot_sql(p)} > 0 THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


_LSH_BUCKET_SQL = _bucket_sql(_PLANES)


@query(
    "embedding_lsh_buckets",
    section="LLM-similarity random-hyperplane LSH bucketing (the 100TB ANN path)",
    oracle=f"""
SELECT vec_id, CAST(label AS BIGINT) AS label,
  CAST({_LSH_BUCKET_SQL} AS BIGINT) AS bucket
FROM embeddings
""",
)
def embedding_lsh_buckets(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.col("label").cast("long"),
        similarity.hyperplane_bucket_expr("embedding", _PLANES).cast("long").alias("bucket"),
    )


# ---------------------------------------------------------------------------
# multimodal plumbing (Arrow-batched mapInPandas with stubbed decode)
# ---------------------------------------------------------------------------

@query(
    "multimodal_meta",
    section="LLM-multimodal binary payload plumbing (mapInPandas stub decode)",
    oracle="""
SELECT doc_id AS id, 'image' AS modality,
  CAST(length(text) AS BIGINT) AS byte_len,
  md5(text) AS checksum,
  CAST(length(text) % 640 + 1 AS BIGINT) AS width,
  CAST(length(text) % 480 + 1 AS BIGINT) AS height,
  CAST(length(text) % 24 + 1 AS BIGINT) AS n_frames
FROM documents
""",
)
def multimodal_meta(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    payloads = multimodal.attach_payload(d, "doc_id", "text", modality="image")
    feats = multimodal.extract_features(payloads, decode_stub=True)
    return feats.select(
        "id",
        "modality",
        F.col("byte_len").cast("long"),
        "checksum",
        F.col("width").cast("long"),
        F.col("height").cast("long"),
        F.col("n_frames").cast("long"),
    )


@query(
    "multimodal_frame_sample",
    section="LLM-multimodal video frame-sampling plumbing (posexplode fanout)",
    oracle="""
SELECT doc_id AS id, 'video' AS modality,
  CAST(unnest(range(0, length(text) % 24 + 1, 8)) AS BIGINT) AS frame_idx,
  CAST(length(text) AS BIGINT) AS byte_len,
  md5(text) AS checksum
FROM documents
""",
)
def multimodal_frame_sample(spark, sf_dir):
    """Every-8th-frame sampling plan: payload → stub decode (n_frames) →
    one row per sampled frame index. The explode happens AFTER the
    payload is dropped to metadata, so the fanout shuffles only small
    rows — the shape that lets per-frame decode repartition freely at
    100 TB without moving video bytes."""
    d = table(spark, sf_dir, "documents")
    payloads = multimodal.attach_payload(d, "doc_id", "text", modality="video")
    feats = multimodal.extract_features(payloads, decode_stub=True)
    sampled = multimodal.frame_sample_plan(feats, every_nth=8)
    return sampled.select(
        "id",
        "modality",
        F.col("frame_idx").cast("long"),
        F.col("byte_len").cast("long"),
        "checksum",
    )


# ---------------------------------------------------------------------------
# multimodal REAL decode (pure-numpy PNG/BMP/WAV codecs, media_codec.py)
#
# The container ships no media files, so payloads are synthesized BY
# FORMULA from doc_id (synthesize_payloads docstring) into REAL encoded
# bytes — PNG with zlib/CRC/scanline filters, BMP with BGR bottom-up rows,
# RIFF/WAVE PCM16 — then decoded by the real codec. The oracle recomputes
# every feature (including the exact pixel/sample sums) from the same
# integer formulas without touching the bytes, so a green hash proves the
# encode→decode round trip bit-for-bit, not just plumbing shape.
# ---------------------------------------------------------------------------

@query(
    "multimodal_image_decode",
    section="LLM-multimodal REAL image decode (PNG/BMP codecs, exact pixel sums)",
    oracle="""
WITH dims AS (
  SELECT doc_id,
    doc_id % 31 + 2 AS w,
    doc_id % 17 + 2 AS h,
    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
  FROM documents
)
SELECT doc_id AS id,
  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
  CAST(w AS BIGINT) AS width,
  CAST(h AS BIGINT) AS height,
  CAST(ch AS BIGINT) AS channels,
  CAST(1 AS BIGINT) AS n_frames,
  CAST(list_sum(flatten(flatten(
    list_transform(range(0, h), y ->
      list_transform(range(0, w), x ->
        list_transform(range(0, ch), c ->
          (doc_id + x + 3*y + 85*c) % 256)))))) AS BIGINT) AS value_sum
FROM dims
""",
)
def multimodal_image_decode(spark, sf_dir):
    """documents → formula-synthesized PNG/BMP bytes → REAL decode
    (media_codec: chunk/CRC parse, zlib inflate, unfilter) → exact
    integer pixel sums. Two map-only mapInPandas stages, zero shuffles;
    payload bytes never leave their scan partition."""
    d = table(spark, sf_dir, "documents")
    payloads = multimodal.synthesize_payloads(d, "doc_id", kind="image")
    feats = multimodal.decode_features(payloads)
    return feats.select(
        "id", "fmt", "width", "height", "channels", "n_frames", "value_sum"
    )


@query(
    "multimodal_image_resize",
    section="LLM-multimodal decode+resize (nearest-neighbor, exact sums)",
    oracle="""
WITH dims AS (
  SELECT doc_id,
    doc_id % 31 + 2 AS w,
    doc_id % 17 + 2 AS h,
    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
  FROM documents
), rs AS (
  SELECT *, greatest(1, w // 2) AS ow, greatest(1, h // 2) AS oh FROM dims
)
SELECT doc_id AS id,
  CAST(w AS BIGINT) AS width,
  CAST(h AS BIGINT) AS height,
  CAST(ow AS BIGINT) AS rs_width,
  CAST(oh AS BIGINT) AS rs_height,
  CAST(list_sum(flatten(flatten(
    list_transform(range(0, oh), y ->
      list_transform(range(0, ow), x ->
        list_transform(range(0, ch), c ->
          (doc_id + ((x*w)//ow) + 3*((y*h)//oh) + 85*c) % 256))))))
    AS BIGINT) AS rs_value_sum
FROM rs
""",
)
def multimodal_image_resize(spark, sf_dir):
    """Decode → nearest-neighbor half-scale (integer index map
    ``src = (dst*len)//out_len``, pure gathers) → exact resized pixel sum,
    recomputed independently by the oracle. Map-only, zero shuffles."""
    d = table(spark, sf_dir, "documents")
    payloads = multimodal.synthesize_payloads(d, "doc_id", kind="image")
    return multimodal.decode_resize_features(payloads, scale=2)


@query(
    "multimodal_audio_decode",
    section="LLM-multimodal REAL audio decode (RIFF/WAVE PCM16 parse)",
    oracle="""
WITH p AS (
  SELECT doc_id,
    CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      ELSE 44100 END AS rate,
    doc_id % 400 + 50 AS n
  FROM documents
)
SELECT doc_id AS id, 'wav' AS fmt,
  CAST(1 AS BIGINT) AS channels,
  CAST(n AS BIGINT) AS n_frames,
  CAST(list_sum(list_transform(range(0, n), i ->
    (doc_id*31 + i*17) % 4001 - 2000)) AS BIGINT) AS value_sum,
  CAST(rate AS BIGINT) AS sample_rate,
  CAST(n * 1000 // rate AS BIGINT) AS duration_ms
FROM p
""",
)
def multimodal_audio_decode(spark, sf_dir):
    """documents → formula-synthesized PCM16 WAV bytes → REAL RIFF chunk
    parse (fmt/data chunks, word alignment) → sample count/rate/duration
    and the exact int64 sample sum. Map-only, zero shuffles."""
    d = table(spark, sf_dir, "documents")
    payloads = multimodal.synthesize_payloads(d, "doc_id", kind="audio")
    feats = multimodal.decode_features(payloads)
    return feats.select(
        "id", "fmt", "channels", "n_frames", "value_sum", "sample_rate",
        "duration_ms",
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (vector member of the dedup family)
# ---------------------------------------------------------------------------

# 16 planes in 2 bands of 8 (256 buckets per band) — the banded multi-probe
# default of similarity.cosine_neardup_pairs; candidate iff all 8 planes of
# SOME band agree (OR-of-ANDs, mirror of the MinHash banding)
_PLANES16 = similarity.deterministic_planes(num_planes=16, dim=64, seed=42)
_NEARDUP_SIG0 = _bucket_sql(_PLANES16[0:8])
_NEARDUP_SIG1 = _bucket_sql(_PLANES16[8:16])


@query(
    "embedding_cosine_neardup",
    section="LLM-dedup embedding-cosine near-dup (banded hyperplane-LSH candidates, exact verify)",
    oracle=f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, embedding,
    CAST({_NEARDUP_SIG0} AS BIGINT) AS sig0,
    CAST({_NEARDUP_SIG1} AS BIGINT) AS sig1,
    sqrt(CAST({_DOT.format(a='embedding', b='embedding')} AS DOUBLE)) AS nrm
  FROM embeddings
),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.sig0 = b.sig0 AND a.vec_id < b.vec_id
  UNION
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.sig1 = b.sig1 AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM (
  SELECT c.id_a, c.id_b,
    round(CAST({_DOT.format(a='ea.embedding', b='eb.embedding')} AS DOUBLE)
          / (ea.nrm * eb.nrm), 6) AS cosine
  FROM cand c
  JOIN e ea ON ea.vec_id = c.id_a
  JOIN e eb ON eb.vec_id = c.id_b
) WHERE cosine >= 0.3
""",
)
def embedding_cosine_neardup(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    out = similarity.cosine_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.3,
        num_planes=16, num_bands=2, seed=42, dim=64,
    )
    return out.select("id_a", "id_b", "cosine")


# ---------------------------------------------------------------------------
# IVF-flat ANN (inverted-list scale path; complements the LSH buckets)
# ---------------------------------------------------------------------------

_IVF_E = f"""
SELECT vec_id, embedding,
  sqrt(CAST({_DOT.format(a='embedding', b='embedding')} AS DOUBLE)) AS nrm
FROM embeddings
"""


@query(
    "ann_ivf_topk",
    section="LLM-similarity IVF-flat ANN (centroid inverted lists, nprobe pruning)",
    oracle=f"""
WITH e AS ({_IVF_E}),
cent AS (
  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm FROM e WHERE vec_id < 8
),
assign AS (
  SELECT cent_id, neighbor_id, nvec, nnrm FROM (
    SELECT c.cent_id, x.vec_id AS neighbor_id, x.embedding AS nvec, x.nrm AS nnrm,
      row_number() OVER (
        PARTITION BY x.vec_id
        ORDER BY round(CAST({_DOT.format(a='x.embedding', b='c.cvec')} AS DOUBLE)
                       / (x.nrm * c.cnrm), 6) DESC, c.cent_id ASC
      ) AS rn
    FROM e x CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qvec, nrm AS qnrm FROM e WHERE vec_id < 10),
probes AS (
  SELECT cent_id, query_id, qvec, qnrm FROM (
    SELECT c.cent_id, q.query_id, q.qvec, q.qnrm,
      row_number() OVER (
        PARTITION BY q.query_id
        ORDER BY round(CAST({_DOT.format(a='q.qvec', b='c.cvec')} AS DOUBLE)
                       / (q.qnrm * c.cnrm), 6) DESC, c.cent_id ASC
      ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.neighbor_id,
    round(CAST({_DOT.format(a='p.qvec', b='a.nvec')} AS DOUBLE)
          / (p.qnrm * a.nnrm), 6) AS sim
  FROM probes p JOIN assign a ON p.cent_id = a.cent_id
  WHERE p.query_id <> a.neighbor_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM (
  SELECT query_id, neighbor_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def ann_ivf_topk(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, num_centroids=8, nprobe=2
    )
    return out.select("query_id", F.col("rank").cast("long").alias("rank"),
                      "neighbor_id", "sim")


@query(
    "ann_lsh_topk",
    section="LLM-similarity hyperplane-LSH ANN top-k (bucket-pruned equi join)",
    oracle=f"""
WITH c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv,
    CAST({_LSH_BUCKET_SQL} AS BIGINT) AS bucket
  FROM embeddings
),
q AS (
  SELECT query_id, qv,
    unnest([b, xor(b, 1), xor(b, 2), xor(b, 4), xor(b, 8)]) AS bucket
  FROM (
    SELECT vec_id AS query_id, embedding AS qv,
      CAST({_LSH_BUCKET_SQL} AS BIGINT) AS b
    FROM embeddings WHERE vec_id < 10
  )
),
scored AS (
  SELECT query_id, q.bucket AS bucket, neighbor_id,
    round(CAST({_DOT.format(a='qv', b='cv')} AS DOUBLE)
          / (sqrt(CAST({_DOT.format(a='qv', b='qv')} AS DOUBLE))
             * sqrt(CAST({_DOT.format(a='cv', b='cv')} AS DOUBLE))), 6) AS sim
  FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
)
SELECT query_id, bucket, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM (
  SELECT query_id, bucket, neighbor_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def ann_lsh_topk(spark, sf_dir):
    """The third ANN strategy next to brute-force (exact baseline) and IVF
    (centroid lists): random-hyperplane buckets prune the candidate set to
    the query's bucket — at 100 TB a keyed equi join touching ~1/2^planes
    of the corpus per query. dim is threaded through so plan construction
    schedules no Spark job (similarity.py:426 fallback never fires)."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.lsh_bucketed_topk(
        emb, queries, "vec_id", "embedding", k=5, num_planes=4, seed=42, dim=64
    )
    return out.select(
        "query_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        "sim",
    )


# ---------------------------------------------------------------------------
# streaming window rollup — batch execution of the SAME logical plan the
# streaming layer runs (furchild_spark.streaming.ingest.windowed_counts);
# correctness of the window semantics is oracle-checked here, the
# streaming-only behaviors (watermark eviction, append-mode late-drop) in
# tests/test_streaming.py
# ---------------------------------------------------------------------------

@query(
    "streaming_window_rollup",
    section="§2.8 streaming windowed agg (tumbling 1h; batch twin of ingest.windowed_counts)",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
  time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
  event_type,
  COUNT(*) AS n_events
FROM events
GROUP BY 1, 2, 3
""",
)
def streaming_window_rollup(spark, sf_dir):
    from furchild_spark.streaming.ingest import windowed_counts

    e = table(spark, sf_dir, "events")
    return windowed_counts(e, "ts", "event_type", "1 hour", "2 hours")


@query(
    "session_window_rollup",
    section="§2.8 streaming session windows (built-in session_window; batch twin, full oracle)",
    oracle="""
WITH x AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT MIN(ts) AS session_start,
  MAX(ts) + INTERVAL 1800 SECOND AS session_end,
  user_id,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM (
  SELECT *, SUM(is_new) OVER (
    PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS UNBOUNDED PRECEDING
  ) AS session_seq FROM x
)
GROUP BY user_id, session_seq
""",
)
def session_window_rollup(spark, sf_dir):
    from furchild_spark.streaming.ingest import session_window_rollup as swr

    e = table(spark, sf_dir, "events")
    return swr(e, "user_id", "ts", "value", gap="30 minutes")


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus (round 4)
# ---------------------------------------------------------------------------

# batch = every 5th doc, corpus = the rest (disjoint, deterministic)
_BATCH_PRED = "doc_id % 5 = 0"
_CORPUS_PRED = "doc_id % 5 <> 0"


@query(
    "exact_dedup_incremental",
    section=(
        "LLM-dedup incremental exact: new-batch survivors vs corpus "
        "fingerprints (anti-join; corpus never rescanned at scale)"
    ),
    oracle=f"""
WITH fp AS (SELECT doc_id, md5(coalesce({_NORM}, '')) AS fingerprint FROM documents),
corpus AS (SELECT DISTINCT fingerprint FROM fp WHERE {_CORPUS_PRED}),
batch AS (SELECT doc_id, fingerprint FROM fp WHERE {_BATCH_PRED}),
intra AS (
  SELECT fingerprint, MIN(doc_id) AS doc_id FROM batch GROUP BY fingerprint
)
SELECT i.doc_id, i.fingerprint
FROM intra i LEFT JOIN corpus c ON c.fingerprint = i.fingerprint
WHERE c.fingerprint IS NULL
""",
)
def exact_dedup_incremental(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    batch = d.filter(F.expr(_BATCH_PRED))
    corpus = d.filter(F.expr(_CORPUS_PRED))
    out = dedup.exact_dedup_incremental(batch, corpus, "doc_id", "text")
    return out.select("doc_id", dedup.fingerprint("text").alias("fingerprint"))


@query(
    "minhash_neardup_incremental",
    section=(
        "LLM-dedup incremental MinHash: banded new-batch x corpus candidates "
        "(never all-pairs), exact-Jaccard verify; corpus signatures are a "
        "maintained table at scale"
    ),
    oracle=_MINHASH_CTES.replace(
        """cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
  WHERE a.doc_id < b.doc_id
),""",
        f"""cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
),""",
    )
    + """
SELECT * FROM (
  SELECT i.id_a AS id_new, i.id_b AS id_old, CAST(i.n_inter AS BIGINT) AS n_inter,
    CAST(i.n_inter AS DOUBLE) / CAST(za.sz + zb.sz - i.n_inter AS DOUBLE) AS jaccard
  FROM inter i
  JOIN sizes za ON za.doc_id = i.id_a
  JOIN sizes zb ON zb.doc_id = i.id_b
) WHERE jaccard >= 0.3
""",
)
def minhash_neardup_incremental(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    batch = d.filter(F.expr(_BATCH_PRED))
    corpus = d.filter(F.expr(_CORPUS_PRED))
    out = dedup.minhash_neardup_incremental(
        batch, corpus, "doc_id", "text",
        num_perm=16, rows_per_band=4, shingle_k=3, threshold=0.3, hash_fn="md5",
    )
    return out.select("id_new", "id_old", F.col("n_inter").cast("long"), "jaccard")


# ---------------------------------------------------------------------------
# benchmark-contamination check (round 4)
# ---------------------------------------------------------------------------

@query(
    "contamination_check",
    section=(
        "LLM-curation decontamination: eval-set 5-gram containment hits in "
        "the corpus (broadcast eval shingles; corpus stays a map-only scan)"
    ),
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh0 AS (
  SELECT doc_id,
    unnest(list_transform(range(1, CASE WHEN len(t) >= 5 THEN len(t) - 3 ELSE 1 END),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))
      AS shingle
  FROM tok
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 97 = 0),
co AS (SELECT doc_id AS corpus_id, shingle FROM sh WHERE doc_id % 97 <> 0)
SELECT co.corpus_id, ev.eval_id, COUNT(*) AS n_hits
FROM co JOIN ev ON ev.shingle = co.shingle
GROUP BY co.corpus_id, ev.eval_id
HAVING COUNT(*) >= 1
""",
)
def contamination_check(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    eval_set = d.filter(F.expr("doc_id % 97 = 0"))
    corpus = d.filter(F.expr("doc_id % 97 <> 0"))
    out = dedup.contamination_check(
        corpus, eval_set, "doc_id", "text", ngram_k=5, min_hits=1
    )
    return out.select("corpus_id", "eval_id", F.col("n_hits").cast("long").alias("n_hits"))


# ---------------------------------------------------------------------------
# training-batch assembly (round 4): epoch shuffle + length-bucketed batching
# ---------------------------------------------------------------------------

@query(
    "epoch_shuffle",
    section=(
        "LLM-batching deterministic epoch shuffle (md5 order, reproducible "
        "across engines/cluster sizes; one window exchange)"
    ),
    oracle="""
SELECT doc_id,
  CAST(row_number() OVER (
    ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
  ) AS BIGINT) AS shuffle_rank
FROM documents
""",
)
def epoch_shuffle(spark, sf_dir):
    from furchild_spark.operators.batching import epoch_shuffle as sh

    d = table(spark, sf_dir, "documents")
    return sh(d, "doc_id", epoch=42).select("doc_id", "shuffle_rank")


@query(
    "length_batching",
    section=(
        "LLM-batching length-bucketed batches (pad to band max, not corpus "
        "max; single band-partitioned window pass)"
    ),
    oracle="""
SELECT doc_id, CAST(length(text) AS BIGINT) AS doc_len,
  CAST(length(text) // 64 AS BIGINT) AS length_bucket,
  CAST((row_number() OVER w - 1) // 8 AS BIGINT) AS batch_id,
  CAST((row_number() OVER w - 1) % 8 AS BIGINT) AS pos_in_batch
FROM documents
WINDOW w AS (
  PARTITION BY length(text) // 64
  ORDER BY length(text) ASC, md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
)
""",
)
def length_batching(spark, sf_dir):
    from furchild_spark.operators.batching import length_bucketed_batches

    d = table(spark, sf_dir, "documents").withColumn(
        "doc_len", F.length("text").cast("long")
    )
    out = length_bucketed_batches(d, "doc_id", "doc_len", batch_size=8, bucket_width=64)
    return out.select(
        "doc_id", "doc_len", "length_bucket", "batch_id", "pos_in_batch"
    )


@query(
    "sequence_packing",
    section=(
        "LLM-batching GPT-style sequence packing (concatenate-and-chop: "
        "one deterministic global token stream sliced into fixed-budget "
        "packs, docs split across boundaries — zero padding waste)"
    ),
    oracle="""
WITH tok AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n,
    md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents WHERE length(text) > 0
),
cum AS (
  SELECT doc_id, n,
    CAST(COALESCE(SUM(n) OVER (ORDER BY h ASC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS g0
  FROM tok
),
seg AS (
  SELECT doc_id, g0, g0 + n AS g1,
    unnest(range(g0 // 512, (g0 + n - 1) // 512 + 1)) AS p
  FROM cum
)
SELECT doc_id,
  CAST(p AS BIGINT) AS pack_id,
  CAST(greatest(g0, p * 512) - p * 512 AS BIGINT) AS pack_pos,
  CAST(greatest(g0, p * 512) - g0 AS BIGINT) AS doc_offset,
  CAST(least(g1, (p + 1) * 512) - greatest(g0, p * 512) AS BIGINT) AS seg_len
FROM seg
""",
)
def sequence_packing(spark, sf_dir):
    """Pack the corpus into 512-token training sequences (here: chars as
    the token proxy, same determinism story). Every pack except the
    tail is exactly full — the zero-padding-waste batching GPT/Llama
    pretraining uses — and a >512-char doc correctly spans several
    packs. See operators/batching.pack_sequences for the distributed
    prefix-sum shape (md5-sub-shard cumsum + broadcast offsets; no
    global single-partition window)."""
    from furchild_spark.operators.batching import pack_sequences

    d = table(spark, sf_dir, "documents").withColumn(
        "doc_len", F.length("text").cast("long")
    )
    return pack_sequences(d, "doc_id", "doc_len", budget=512)


# ---------------------------------------------------------------------------
# product quantization: trained codebooks + compressed-domain ANN
#
# The codebook is LEARNED (per-subspace Lloyd k-means: init = subvectors
# of the first 16 ids, exact-long distance assignment with ties to the
# lowest centroid, floor-mean update, empty clusters keep their previous
# centroid) and the ORACLE REPLICATES THE TRAINING relationally — init
# CTE, assignment via row_number over exact distances, floor-mean update,
# final assignment — so a green hash proves the whole train+encode
# pipeline, not just a frozen code table. All arithmetic is quantized
# longs; the only division is floor(exact-sum / count) where the sum is
# far below 2^53, so both engines floor the identical double.
# ---------------------------------------------------------------------------

_PQ_M = 32   # subspaces of 2 dims each over the 64-dim embeddings
_PQ_SUB = 2
_PQ_K16 = 16

_QV_SQL = (
    "list_transform(embedding, x -> "
    "CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS BIGINT))"
)

# shared training CTE chain (1 Lloyd iteration, then final assignment);
# the TAIL is head-agnostic — it only needs a CTE `q` of (vec_id, qv
# array<bigint>), so the rotated-input variant (ann_rrpq_topk) reuses it
_PQ_TRAIN_TAIL = f"""
sub AS (
  SELECT vec_id, mm.m AS m, qv[mm.m*{_PQ_SUB}+1 : mm.m*{_PQ_SUB}+{_PQ_SUB}] AS subq
  FROM q, (SELECT unnest(range(0, {_PQ_M})) AS m) mm
),
c0 AS (SELECT m, vec_id AS c, subq AS cent FROM sub WHERE vec_id < {_PQ_K16}),
a1 AS (
  SELECT s.vec_id, s.m, c.c,
    row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
      list_sum(list_transform(range(0, {_PQ_SUB}), j ->
        (s.subq[j+1] - c.cent[j+1]) * (s.subq[j+1] - c.cent[j+1]))) ASC,
      c.c ASC) AS rn
  FROM sub s JOIN c0 c ON s.m = c.m
),
a1f AS (SELECT vec_id, m, c AS code FROM a1 WHERE rn = 1),
u1 AS (
  SELECT s.m, a.code, jj.j,
    CAST(floor(CAST(SUM(s.subq[jj.j+1]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
  FROM sub s JOIN a1f a ON s.vec_id = a.vec_id AND s.m = a.m,
       (SELECT unnest(range(0, {_PQ_SUB})) AS j) jj
  GROUP BY s.m, a.code, jj.j
),
g1 AS (SELECT m, code AS c, list(v ORDER BY j) AS cent FROM u1 GROUP BY m, code),
c1 AS (
  SELECT c0.m, c0.c, coalesce(g1.cent, c0.cent) AS cent
  FROM c0 LEFT JOIN g1 ON c0.m = g1.m AND c0.c = g1.c
),
a2 AS (
  SELECT s.vec_id, s.m, c.c,
    row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
      list_sum(list_transform(range(0, {_PQ_SUB}), j ->
        (s.subq[j+1] - c.cent[j+1]) * (s.subq[j+1] - c.cent[j+1]))) ASC,
      c.c ASC) AS rn
  FROM sub s JOIN c1 c ON s.m = c.m
),
a2f AS (SELECT vec_id, m, c AS code FROM a2 WHERE rn = 1),
codes AS (
  SELECT vec_id, list(code ORDER BY m) AS codes FROM a2f GROUP BY vec_id
)"""

_PQ_TRAIN_CTES = f"""
WITH q AS (SELECT vec_id, {_QV_SQL} AS qv FROM embeddings),
""" + _PQ_TRAIN_TAIL

# Walsh–Hadamard × md5-sign-diagonal rotation head (see
# similarity.rotate_quantized): H(i,j) = (-1)^popcount(i AND j),
# unnormalized so all arithmetic stays exact int64 (uniform ×64 on
# squared distances — rank-neutral)
_RRPQ_HEAD = f"""
WITH q0 AS (SELECT vec_id, {_QV_SQL} AS qv0 FROM embeddings),
sgn AS (
  SELECT list_transform(range(0, 64), j -> CASE WHEN
    strpos('02468ace', substr(md5(CAST(j AS VARCHAR)), 1, 1)) > 0
    THEN 1 ELSE -1 END) AS s
),
q AS (
  SELECT vec_id, list_transform(range(0, 64), i ->
    list_sum(list_transform(range(0, 64), j ->
      qv0[j+1] * s[j+1] * (1 - 2 * (bit_count(i & j) % 2))))) AS qv
  FROM q0, sgn
),
"""

_PQ_CB_CACHE: dict[str, list] = {}
_IVFPQ_CB_CACHE: dict[str, list] = {}


def _ivfpq_codebook(spark, sf_dir):
    """Residual codebook, trained once per sf_dir (similarity.ivfpq_train
    — the FAISS train/persist split). Memoizing makes the bench's ANN
    warmth deterministic instead of sweep-order-dependent (r9 driver
    sweep: 2.95x on a cold codebook), and it is the honest 100 TB shape:
    training is train-once/serve-many, never part of per-query cost."""
    if sf_dir not in _IVFPQ_CB_CACHE:
        _IVFPQ_CB_CACHE[sf_dir] = similarity.ivfpq_train(
            table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            num_centroids=8, dim=64, subspaces=32, kcodes=16,
        )
    return _IVFPQ_CB_CACHE[sf_dir]


def _pq_codebook(spark, sf_dir):
    """Train once per sf_dir (deterministic — memoized like table())."""
    if sf_dir not in _PQ_CB_CACHE:
        _PQ_CB_CACHE[sf_dir] = similarity.pq_train(
            table(spark, sf_dir, "embeddings"),
            subspaces=_PQ_M, k=_PQ_K16, iters=1,
        )
    return _PQ_CB_CACHE[sf_dir]


@query(
    "pq_codes",
    prewarm=True,
    section="LLM-similarity product quantization: per-subspace k-means "
    "TRAINED codebook + encode to bit-packed codes (64 floats → 16 bytes)",
    oracle=_PQ_TRAIN_CTES + """
SELECT vec_id,
  CAST(list_sum(list_transform(range(0,8), i -> codes[i+1]      << (4*i))) AS BIGINT) AS code_w0,
  CAST(list_sum(list_transform(range(0,8), i -> codes[8+i+1]  << (4*i))) AS BIGINT) AS code_w1,
  CAST(list_sum(list_transform(range(0,8), i -> codes[16+i+1] << (4*i))) AS BIGINT) AS code_w2,
  CAST(list_sum(list_transform(range(0,8), i -> codes[24+i+1] << (4*i))) AS BIGINT) AS code_w3
FROM codes
""",
)
def pq_codes(spark, sf_dir):
    """Train (distributed Lloyd — one assignment+update job per
    iteration, only the 32×16 centroid table reaches the driver) then
    encode map-only, packing the 32 4-bit codes into four longs: the
    16-byte-per-vector index that lets a 100 TB embedding corpus live in
    cluster memory. Exact-integer distances end-to-end → the oracle
    retrains and re-derives identical codes."""
    e = table(spark, sf_dir, "embeddings")
    cb = _pq_codebook(spark, sf_dir)
    codes = similarity.pq_encode(e, subspaces=_PQ_M, codebook=cb)
    packed = [
        F.aggregate(
            F.expr(f"transform(sequence(0, 7), i -> "
                   f"shiftleft(element_at(codes, {w * 8} + i + 1), 4 * i))"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias(f"code_w{w}")
        for w in range(4)
    ]
    return codes.select("vec_id", *packed)


_PQ_QUERY_IDS = (1, 7, 13)


# ADC suffix shared by the plain and rotated PQ entries: queries come
# from the SAME `q` CTE the codes trained on, so each variant's oracle
# is self-consistently end-to-end
_PQ_ADC_TAIL = f""",
sel AS (
  SELECT vec_id AS query_id, qv FROM q WHERE vec_id IN {_PQ_QUERY_IDS}
),
d AS (
  SELECT s.query_id, a.vec_id,
    SUM(list_sum(list_transform(range(0, {_PQ_SUB}), j ->
      (s.qv[a.m*{_PQ_SUB}+j+1] - c.cent[j+1])
      * (s.qv[a.m*{_PQ_SUB}+j+1] - c.cent[j+1])))) AS approx_dist
  FROM a2f a JOIN c1 c ON a.m = c.m AND a.code = c.c
  CROSS JOIN sel s
  GROUP BY s.query_id, a.vec_id
)
SELECT query_id, vec_id, CAST(approx_dist AS BIGINT) AS approx_dist,
  CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY approx_dist ASC, vec_id ASC) AS rank
  FROM d
) WHERE rank <= 10
"""


@query(
    "ann_pq_topk",
    prewarm=True,
    section="LLM-similarity ANN via PQ asymmetric distance (per-query "
    "lookup table over trained codes — compute ∝ codes, not vectors)",
    oracle=_PQ_TRAIN_CTES + _PQ_ADC_TAIL,
)
def ann_pq_topk(spark, sf_dir):
    """Compressed-domain top-k: each query precomputes its 32×16 exact
    distance table ONCE; candidates cost 32 lookups + adds each instead
    of a 64-float dot. The corpus side never touches raw vectors after
    encode. Exact integer distances → deterministic ranks (vec_id
    tiebreak), reproduced by the retraining oracle."""
    e = table(spark, sf_dir, "embeddings")
    cb = _pq_codebook(spark, sf_dir)
    out = similarity.pq_adc_topk(
        e, list(_PQ_QUERY_IDS), subspaces=_PQ_M, codebook=cb
    )
    return out.select(
        "query_id",
        "vec_id",
        F.col("approx_dist").cast("long"),
        F.col("rank").cast("long"),
    )


_RRPQ_CB_CACHE: dict[str, list] = {}


def _rrpq_rotated(spark, sf_dir):
    """The corpus in rotated quantized units — the map-only projection
    every rrpq stage (train, encode, query) shares."""
    return similarity.rotate_quantized(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", dim=64
    )


def _rrpq_codebook(spark, sf_dir):
    """PQ codebook trained on the ROTATED corpus (memoized per sf_dir
    like _pq_codebook — train-once/serve-many)."""
    if sf_dir not in _RRPQ_CB_CACHE:
        _RRPQ_CB_CACHE[sf_dir] = similarity.pq_train(
            _rrpq_rotated(spark, sf_dir), vec_col="embedding",
            subspaces=_PQ_M, k=_PQ_K16, iters=1, pre_quantized=True,
        )
    return _RRPQ_CB_CACHE[sf_dir]


@query(
    "ann_rrpq_topk",
    prewarm=True,
    section="LLM-similarity ANN via random-rotation PQ (FAISS "
    "RandomRotation/OPQ-lite: Walsh–Hadamard × sign-diagonal "
    "preconditioner balances variance across subspaces before "
    "quantization)",
    oracle=_RRPQ_HEAD + _PQ_TRAIN_TAIL + _PQ_ADC_TAIL,
)
def ann_rrpq_topk(spark, sf_dir):
    """PQ with FAISS's rotation preconditioner: the corpus (and each
    query) first passes through a fixed Walsh–Hadamard × md5-sign
    rotation (similarity.rotate_quantized — map-only, fuses into the
    scan), THEN trains/encodes/searches with the standard PQ machinery
    in the rotated space. Raw embeddings concentrate energy in leading
    dimensions, starving trailing subspace codebooks; the rotation
    spreads variance so every 4-bit code carries signal — the reason
    FAISS applies OPQ/RandomRotation before PQ at scale. Unnormalized
    (distances scale uniformly ×64 — rank-neutral) so every distance
    stays exact int64 and the oracle replays rotation + Lloyd + ADC
    bit-for-bit."""
    rot = _rrpq_rotated(spark, sf_dir)
    cb = _rrpq_codebook(spark, sf_dir)
    out = similarity.pq_adc_topk(
        rot, list(_PQ_QUERY_IDS), subspaces=_PQ_M, codebook=cb,
        pre_quantized=True,
    )
    return out.select(
        "query_id",
        "vec_id",
        F.col("approx_dist").cast("long"),
        F.col("rank").cast("long"),
    )


_PQ_RERANK_DOT = (
    "list_aggregate(list_transform(range(1, len({a}) + 1), "
    "i -> CAST(CAST({a}[i] AS DOUBLE) AS DECIMAL(18,6)) "
    "* CAST(CAST({b}[i] AS DOUBLE) AS DECIMAL(18,6))), 'sum')"
)


@query(
    "ann_pq_rerank_topk",
    prewarm=True,
    section="LLM-similarity PQ shortlist + exact re-rank (the production "
    "pipeline: recall@5 = 1.0 on the fixture vs 0.6 for raw ADC)",
    oracle=_PQ_TRAIN_CTES + f""",
sel AS (
  SELECT vec_id AS query_id, qv FROM q WHERE vec_id IN {_PQ_QUERY_IDS}
),
d AS (
  SELECT s.query_id, a.vec_id,
    SUM(list_sum(list_transform(range(0, {_PQ_SUB}), j ->
      (s.qv[a.m*{_PQ_SUB}+j+1] - c.cent[j+1])
      * (s.qv[a.m*{_PQ_SUB}+j+1] - c.cent[j+1])))) AS approx_dist
  FROM a2f a JOIN c1 c ON a.m = c.m AND a.code = c.c
  CROSS JOIN sel s
  GROUP BY s.query_id, a.vec_id
),
short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (
      PARTITION BY query_id ORDER BY approx_dist ASC, vec_id ASC) AS rn
    FROM d
  ) WHERE rn <= 50
),
scored AS (
  SELECT sh.query_id, sh.vec_id AS neighbor_id,
    round(CAST({_PQ_RERANK_DOT.format(a='qe.embedding', b='ne.embedding')} AS DOUBLE)
      / (sqrt(CAST({_PQ_RERANK_DOT.format(a='qe.embedding', b='qe.embedding')} AS DOUBLE))
         * sqrt(CAST({_PQ_RERANK_DOT.format(a='ne.embedding', b='ne.embedding')} AS DOUBLE))),
      6) AS sim
  FROM short sh
  JOIN embeddings ne ON ne.vec_id = sh.vec_id
  JOIN embeddings qe ON qe.vec_id = sh.query_id
  WHERE sh.vec_id <> sh.query_id
)
SELECT query_id, neighbor_id, sim, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def ann_pq_rerank_topk(spark, sf_dir):
    """ADC shortlist (50, over 16-byte codes) → exact cosine re-rank of
    the shortlist only. The exact pass touches 50×|queries| vectors
    instead of the corpus — at 100 TB that is the difference between a
    memory-resident search and a full scan, at measured recall 1.0."""
    e = table(spark, sf_dir, "embeddings")
    cb = _pq_codebook(spark, sf_dir)
    out = similarity.pq_topk_reranked(
        e, list(_PQ_QUERY_IDS), subspaces=_PQ_M, codebook=cb,
        shortlist=50, n_neighbors=5,
    )
    return out.select(
        "query_id", "neighbor_id", "sim", F.col("rank").cast("long")
    )


# ---------------------------------------------------------------------------
# corpus-level duplicate-passage suppression (C4/RefinedWeb line dedup)
# ---------------------------------------------------------------------------

@query(
    "boilerplate_chunk_removal",
    section="LLM-curation corpus-level duplicate-passage suppression "
    "(C4/RefinedWeb repeated-line removal over 8-token windows)",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
ch0 AS (
  SELECT doc_id, t,
    unnest(range(0, greatest(1, (len(t) + 7) // 8))) AS idx
  FROM tok
),
ch AS (
  SELECT doc_id, idx,
    array_to_string(t[idx*8+1 : idx*8+8], ' ') AS chunk
  FROM ch0
),
freq AS (SELECT chunk, count(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk)
SELECT ch.doc_id,
  coalesce(string_agg(CASE WHEN f.nd <= 1 THEN ch.chunk END, ' '
                      ORDER BY ch.idx), '') AS cleaned_text,
  COUNT(*) AS n_chunks,
  CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM ch JOIN freq f ON ch.chunk = f.chunk
GROUP BY ch.doc_id
""",
)
def boilerplate_chunk_removal(spark, sf_dir):
    """A chunk repeated across >1 distinct documents is boilerplate —
    dropped everywhere, documents reassembled in order (empty text kept,
    not vanished). One count shuffle + one keyed join + one regroup; see
    operators/text.py:suppress_duplicate_chunks for the 100 TB notes."""
    d = table(spark, sf_dir, "documents")
    return text.suppress_duplicate_chunks(
        d, "doc_id", "text", chunk_tokens=8, max_docs=1
    )


# ---------------------------------------------------------------------------
# robust-statistics outlier gate (median/MAD per stratum)
# ---------------------------------------------------------------------------

@query(
    "outlier_docs",
    section="LLM-curation robust outlier gate (per-source median/MAD on "
    "token counts — exact percentile, no approx)",
    oracle=f"""
WITH n AS (
  SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
med AS (
  SELECT source, percentile_cont(0.5) WITHIN GROUP (ORDER BY n_tokens) AS med
  FROM n GROUP BY source
),
dev AS (
  SELECT n.doc_id, n.source, n.n_tokens, m.med,
    abs(n.n_tokens - m.med) AS adev
  FROM n JOIN med m ON n.source = m.source
),
mad AS (
  SELECT source, percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
  FROM dev GROUP BY source
)
SELECT d.doc_id, d.source, d.n_tokens, d.med, m2.mad,
  (m2.mad > 0 AND abs(d.n_tokens - d.med) > 3.0 * m2.mad) AS is_outlier
FROM dev d JOIN mad m2 ON d.source = m2.source
""",
)
def outlier_docs(spark, sf_dir):
    """Per-source robust outlier detection on document length: flag docs
    whose token count deviates from the stratum MEDIAN by more than
    3×MAD — the quality gate that survives heavy-tailed length
    distributions where mean/stddev gates drown in the tail. Exact
    percentiles (never approx — the approx sketch would break oracle
    parity AND silently move the gate); two grouped aggregations over
    the stratum key and one broadcastable stats join — the per-stratum
    stats table is |sources| rows, tiny at any corpus scale. Median/MAD
    of integer counts are exact halves in both engines; the 3×MAD
    comparison multiplies identical doubles → deterministic booleans."""
    d = table(spark, sf_dir, "documents")
    n = d.select(
        "doc_id", "source",
        F.size(text.tokens("text")).cast("long").alias("n_tokens"),
    )
    med = n.groupBy("source").agg(
        F.percentile("n_tokens", F.lit(0.5)).alias("med")
    )
    dev = n.join(F.broadcast(med), on="source").withColumn(
        "adev", F.abs(F.col("n_tokens") - F.col("med"))
    )
    mad = dev.groupBy("source").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), on="source")
        .select(
            "doc_id", "source", "n_tokens", "med", "mad",
            (
                (F.col("mad") > 0)
                & (F.abs(F.col("n_tokens") - F.col("med"))
                   > F.lit(3.0) * F.col("mad"))
            ).alias("is_outlier"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic KMV cardinality sketch (engine-portable approx distinct)
# ---------------------------------------------------------------------------

@query(
    "kmv_distinct_sketch",
    section="LLM-corpus profiling (engine extra): deterministic KMV "
    "distinct-count sketch — the reproducible replacement for "
    "approx_count_distinct, merged two-phase so no reducer ever holds a "
    "hot group's raw distinct set",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT source, unnest({_TOKS}) AS tok FROM documents
),
hashed AS (
  SELECT DISTINCT source,
    list_sum(list_transform(range(0, 15), i ->
      CAST(strpos('0123456789abcdef', substr(md5(tok), i + 1, 1)) - 1
           AS BIGINT) << (4 * (14 - i)))) AS hv
  FROM items
),
ranked AS (
  SELECT source, hv,
    row_number() OVER (PARTITION BY source ORDER BY hv ASC) AS rn
  FROM hashed
),
mins AS (
  SELECT source,
    COUNT(*) AS n_mins,
    MAX(CASE WHEN rn = 64 THEN hv END) AS kth_min
  FROM ranked WHERE rn <= 64 GROUP BY source
),
exact AS (
  SELECT source, COUNT(DISTINCT tok) AS exact_distinct FROM items GROUP BY source
)
SELECT m.source,
  CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
  CAST(m.n_mins AS BIGINT) AS n_mins,
  CAST(m.kth_min AS BIGINT) AS kth_min,
  round(CASE WHEN m.n_mins < 64 THEN CAST(m.n_mins AS DOUBLE)
        ELSE 63.0 * 1152921504606846976.0 / CAST(m.kth_min AS DOUBLE)
        END, 4) AS kmv_estimate
FROM mins m JOIN exact e ON m.source = e.source
""",
)
def kmv_distinct_sketch(spark, sf_dir):
    """Distinct-token cardinality per source, estimated by a k-minimum-
    values sketch (k=64) built from md5 hashes — deterministic, so the
    oracle recomputes the IDENTICAL sketch and the hash gate proves the
    whole pipeline, which ``approx_count_distinct`` (HLL++, engine-
    private) never could. The operator
    (operators/sketches.py kmv_distinct) is the scale path: dedupe with
    map-side combine, then salted spill-safe window k-min, then a merge
    over a bounded (k × merge_buckets) payload per group — at 100 TB the
    shuffles carry sketch-sized rows, never the token stream. The exact
    COUNT(DISTINCT) column exists only to demonstrate the estimate's
    error in-row (±12% expected at k=64); a real run drops it."""
    from furchild_spark.operators import sketches

    d = table(spark, sf_dir, "documents")
    items = d.select(
        "source", F.explode(text.tokens("text")).alias("tok")
    ).distinct()
    sk = sketches.kmv_distinct(items, "source", "tok", k=64)
    exact = items.groupBy("source").agg(
        F.count_distinct("tok").cast("long").alias("exact_distinct")
    )
    return exact.join(sk, on="source").select(
        "source", "exact_distinct", "n_mins", "kth_min", "kmv_estimate"
    )


# ---------------------------------------------------------------------------
# capped inverted index (posting-list construction)
# ---------------------------------------------------------------------------

@query(
    "inverted_index",
    section="LLM-corpus tooling (engine extra): capped posting-list "
    "construction — token -> document frequency + first-k sorted doc ids",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents
)
SELECT tok AS token,
  CAST(COUNT(*) AS BIGINT) AS df,
  array_to_string(
    list_transform(
      list_slice(list(doc_id ORDER BY doc_id ASC), 1, 20),
      x -> CAST(x AS VARCHAR)),
    ',') AS postings
FROM items
GROUP BY tok
HAVING COUNT(*) >= 10
""",
)
def inverted_index(spark, sf_dir):
    """Token → (document frequency, first 20 doc ids) — the index you
    build to audit a corpus ("which documents contain this contaminated
    string?") without rescanning 100 TB per lookup. The posting cap is
    enforced BEFORE any list materializes: one exchange on the token
    key, a spill-safe window sort assigns ranks and the unbounded
    count-over-partition computes df on the same exchange, rows ranked
    past 20 are dropped, and only then does collect_list run — so a
    stop-word's aggregation buffer holds 20 ids, never its millions
    (a bare collect_list + slice would buffer the full hot-key list).
    The df >= 10 gate drops the hapax tail (most of the vocab) before
    the result ships."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    items = d.select(
        "doc_id", F.explode(text.tokens("text")).alias("tok")
    ).distinct()
    w_rank = Window.partitionBy("tok").orderBy(F.asc("doc_id"))
    w_all = Window.partitionBy("tok")
    capped = (
        items.withColumn("df", F.count(F.lit(1)).over(w_all))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter((F.col("rn") <= 20) & (F.col("df") >= 10))
    )
    return capped.groupBy(F.col("tok").alias("token")).agg(
        F.max("df").cast("long").alias("df"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
        ).alias("postings"),
    )


# ---------------------------------------------------------------------------
# LSH ANN, probe-radius operating points (the recall/cost dial)
# ---------------------------------------------------------------------------

@query(
    "ann_lsh_topk_probe0",
    section="LLM-similarity hyperplane-LSH ANN, radius-0 operating point "
    "(home bucket only — the cheap end of the multi-probe dial)",
    oracle=f"""
WITH c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv,
    CAST({_LSH_BUCKET_SQL} AS BIGINT) AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv,
    CAST({_LSH_BUCKET_SQL} AS BIGINT) AS bucket
  FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT query_id, q.bucket AS bucket, neighbor_id,
    round(CAST({_DOT.format(a='qv', b='cv')} AS DOUBLE)
          / (sqrt(CAST({_DOT.format(a='qv', b='qv')} AS DOUBLE))
             * sqrt(CAST({_DOT.format(a='cv', b='cv')} AS DOUBLE))), 6) AS sim
  FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
)
SELECT query_id, bucket, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM (
  SELECT query_id, bucket, neighbor_id, sim,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def ann_lsh_topk_probe0(spark, sf_dir):
    """The probe_radius=0 point of the multi-probe dial that ann_lsh_topk
    runs at radius 1: home bucket only, touching ~1/2^planes of the
    corpus per query instead of ~(1+planes)/2^planes — 1/5 the candidate
    work for the recall the radius-1 tripwire measures as 2.25× lower
    (tests/test_ann_recall.py). Registering both operating points makes
    the recall/cost trade a benchmarkable parameter instead of a code
    constant: BENCH_DETAIL.json carries one timing per point."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.lsh_bucketed_topk(
        emb, queries, "vec_id", "embedding", k=5, num_planes=4, seed=42,
        dim=64, probe_radius=0,
    )
    return out.select(
        "query_id",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        "sim",
    )


# ---------------------------------------------------------------------------
# KMV sketch algebra — intersection estimate (vocabulary overlap / join
# cardinality from two sketches, no corpus rescan)
# ---------------------------------------------------------------------------

@query(
    "kmv_vocab_overlap",
    section="LLM-corpus profiling (engine extra): KMV intersection "
    "estimate — vocabulary overlap of each language slice vs 'en' from "
    "two 64-hash sketches (the sketch algebra a planner prices joins with)",
    oracle=f"""
WITH items AS (
  SELECT DISTINCT lang, unnest({_TOKS}) AS tok FROM documents
),
hashed AS (
  SELECT DISTINCT lang,
    list_sum(list_transform(range(0, 15), i ->
      CAST(strpos('0123456789abcdef', substr(md5(tok), i + 1, 1)) - 1
           AS BIGINT) << (4 * (14 - i)))) AS hv
  FROM items
),
sk AS (
  SELECT lang, hv FROM (
    SELECT lang, hv,
      row_number() OVER (PARTITION BY lang ORDER BY hv ASC) AS rn
    FROM hashed
  ) WHERE rn <= 64
),
a AS (SELECT hv FROM sk WHERE lang = 'en'),
b AS (SELECT lang AS grp_b, hv FROM sk WHERE lang <> 'en'),
u AS (
  SELECT g.grp_b, a.hv, 1 AS in_a, 0 AS in_b
  FROM (SELECT DISTINCT grp_b FROM b) g CROSS JOIN a
  UNION ALL
  SELECT grp_b, hv, 0, 1 FROM b
),
m AS (
  SELECT grp_b, hv, MAX(in_a) AS in_a, MAX(in_b) AS in_b
  FROM u GROUP BY grp_b, hv
),
top AS (
  SELECT * FROM (
    SELECT m.*, row_number() OVER (PARTITION BY grp_b ORDER BY hv ASC) AS rn
    FROM m
  ) WHERE rn <= 64
),
est AS (
  SELECT grp_b, COUNT(*) AS n_l,
    MAX(CASE WHEN rn = 64 THEN hv END) AS h_k,
    SUM(in_a * in_b) AS k_inter
  FROM top GROUP BY grp_b
),
exact AS (
  SELECT bb.lang AS grp_b, COUNT(DISTINCT bb.tok) AS exact_overlap
  FROM items bb
  JOIN (SELECT DISTINCT tok FROM items WHERE lang = 'en') aa
    ON aa.tok = bb.tok
  WHERE bb.lang <> 'en' GROUP BY bb.lang
)
SELECT e.grp_b AS lang,
  CAST(x.exact_overlap AS BIGINT) AS exact_overlap,
  CAST(e.k_inter AS BIGINT) AS n_common_mins,
  round((CAST(e.k_inter AS DOUBLE) / CAST(e.n_l AS DOUBLE))
        * CASE WHEN e.n_l < 64 THEN CAST(e.n_l AS DOUBLE)
               ELSE 63.0 * 1152921504606846976.0 / CAST(e.h_k AS DOUBLE)
          END, 4) AS kmv_overlap_estimate
FROM est e JOIN exact x ON e.grp_b = x.grp_b
""",
)
def kmv_vocab_overlap(spark, sf_dir):
    """How much of each language slice's vocabulary is shared with the
    'en' slice — estimated from two 64-hash KMV sketches by the standard
    intersection algebra (merge the sketches, keep the k smallest of the
    union, scale the union estimate by the fraction present in both).
    At 100 TB this answers set-overlap questions (join cardinality,
    slice contamination, vocabulary drift between crawl snapshots) from
    kilobyte sketches, no second corpus scan: the only full-data work is
    building the per-group sketch once. The exact-overlap column exists
    to demonstrate the estimate's error in-row; a real run drops it.
    The base-sketch replication broadcasts the ≤64-row sketch against
    the ≤|groups|-row group list — a bounded-both-sides nested-loop
    broadcast in the whitelisted scalar class, never data-sized."""
    from furchild_spark.operators import sketches

    d = table(spark, sf_dir, "documents")
    items = d.select(
        "lang", F.explode(text.tokens("text")).alias("tok")
    ).distinct()
    sk = sketches.kmv_intersection(items, "lang", "tok", base_group="en", k=64)
    en_vocab = items.filter(F.col("lang") == "en").select("tok").distinct()
    exact = (
        items.filter(F.col("lang") != "en")
        .join(en_vocab, on="tok")
        .groupBy("lang")
        .agg(F.count_distinct("tok").cast("long").alias("exact_overlap"))
    )
    return exact.join(sk, on="lang").select(
        "lang", "exact_overlap", "n_common_mins", "kmv_overlap_estimate"
    )


# ---------------------------------------------------------------------------
# Gopher-style within-document repetition signals
# ---------------------------------------------------------------------------

@query(
    "repetition_stats",
    section="LLM-quality (engine extra): Gopher repetition gates — "
    "duplicate-bigram mass and top-bigram share per document (Rae et al. "
    "2021 Table A1), the standard loop/boilerplate filters",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
  FROM tok WHERE len(t) >= 2
),
counts AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY doc_id, gram),
stats AS (
  SELECT doc_id,
    CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
    CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
    CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_cnt
  FROM counts GROUP BY doc_id
),
top AS (
  SELECT doc_id, gram, cnt FROM (
    SELECT doc_id, gram, cnt,
      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT s.doc_id, s.n_bigrams, s.n_distinct_bigrams,
  CAST(s.dup_cnt AS DOUBLE) / CAST(s.n_bigrams AS DOUBLE) AS dup_bigram_frac,
  t.gram AS top_bigram,
  CAST(t.cnt AS DOUBLE) / CAST(s.n_bigrams AS DOUBLE) AS top_bigram_frac
FROM stats s JOIN top t ON s.doc_id = t.doc_id
""",
)
def repetition_stats(spark, sf_dir):
    """Per-document repetition gates (operators/text.py
    bigram_repetition): explode bigrams → one map-side-combined hash agg
    on (doc, gram) → doc-keyed windows for totals, duplicate mass, and
    the lexically-tiebroken top bigram. Every key carries the doc id, so
    the two exchanges stay skew-free at 100 TB; fractions are quotients
    of exact integers (hash-portable without rounding)."""
    d = table(spark, sf_dir, "documents")
    return text.bigram_repetition(d, "doc_id", "text")


# ---------------------------------------------------------------------------
# per-domain frequency cap (deterministic corpus downsampling)
# ---------------------------------------------------------------------------

@query(
    "domain_cap_sample",
    section="LLM-curation (engine extra): per-source frequency cap — keep "
    "at most N docs per domain, selected by md5 order (deterministic, "
    "seedless), the standard guard against one crawler domain dominating "
    "the training mix",
    oracle="""
SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM (
  SELECT source, doc_id,
    row_number() OVER (
      PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
  FROM documents
) WHERE rk <= 20
""",
)
def domain_cap_sample(spark, sf_dir):
    """Keep ≤20 documents per source, chosen by md5(doc_id) rank — a
    deterministic uniform draw (md5 order is independent of ingest
    order), replayable byte-for-byte with no RNG state. One exchange on
    the source key + a spill-safe ranked window; rows past the cap drop
    before anything downstream materializes. A pathologically hot domain
    makes one reducer sort-heavy — the window sort spills rather than
    buffers, and the established salting pattern (operators/skew.py)
    composes if a real corpus needs it."""
    d = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.asc(F.md5(F.col("doc_id").cast("string"))), F.asc("doc_id")
    )
    return (
        d.select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 20)
    )


# ---------------------------------------------------------------------------
# count-min sketch heavy hitters
# ---------------------------------------------------------------------------

_H60 = (
    "list_sum(list_transform(range(0, 15), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5({v}), i + 1, 1)) - 1 "
    "AS BIGINT) << (4 * (14 - i))))"
)
_CMS_BUCKET = "(" + _H60.format(v="CAST(r AS VARCHAR) || ':' || tok") + ") % 256"

@query(
    "heavy_hitters_cms",
    section="LLM-corpus profiling (engine extra): count-min-sketch "
    "frequency estimates for the top tokens — the 8 KB mergeable sketch "
    "that answers point-frequency queries without rescanning the stream "
    "(Cormode & Muthukrishnan 2005)",
    oracle=f"""
WITH toks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
rr AS (SELECT unnest(range(0, 4)) AS r),
pairs AS (
  SELECT r, {_CMS_BUCKET} AS bucket FROM toks CROSS JOIN rr
),
sketch AS (SELECT r, bucket, COUNT(*) AS cnt FROM pairs GROUP BY r, bucket),
exact AS (SELECT tok, COUNT(*) AS exact_count FROM toks GROUP BY tok),
cand AS (
  SELECT tok, exact_count FROM exact
  ORDER BY exact_count DESC, tok ASC LIMIT 20
),
probes AS (
  SELECT tok, r, {_CMS_BUCKET} AS bucket FROM cand CROSS JOIN rr
),
est AS (
  SELECT p.tok, MIN(s.cnt) AS cms_estimate
  FROM probes p JOIN sketch s ON p.r = s.r AND p.bucket = s.bucket
  GROUP BY p.tok
)
SELECT c.tok AS token, CAST(c.exact_count AS BIGINT) AS exact_count,
  CAST(e.cms_estimate AS BIGINT) AS cms_estimate
FROM cand c JOIN est e ON c.tok = e.tok
""",
)
def heavy_hitters_cms(spark, sf_dir):
    """Build a 4×256 count-min sketch of the token stream (one hash agg,
    map-side combined — the shuffle carries ≤1024 counter rows however
    big the corpus), then point-estimate the 20 exact-top tokens from
    the sketch: est = min over rows of the token's bucket counters,
    always ≥ the true count. The exact counts exist to show the sketch's
    error in-row; a production profile keeps only the sketch, merges
    shard sketches cell-wise, and prices membership/frequency queries
    against 8 KB instead of 100 TB. Deterministic md5 bucketing means
    the oracle rebuilds the IDENTICAL sketch — the green hash proves
    build + probe, which an engine-private sketch never could."""
    from furchild_spark.operators import sketches

    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(text.tokens("text")).alias("tok"))
    sk = sketches.cms_sketch(toks, "tok", depth=4, width=256)
    exact = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    cand = exact.orderBy(F.desc("exact_count"), F.asc("tok")).limit(20)
    est = sketches.cms_estimate(
        sk, cand.select("tok"), "tok", depth=4, width=256
    )
    return cand.join(est, on="tok").select(
        F.col("tok").alias("token"), "exact_count", "cms_estimate"
    )


# ---------------------------------------------------------------------------
# audio square-wave spectrum (integer-exact tone features)
# ---------------------------------------------------------------------------

@query(
    "multimodal_audio_spectrum",
    section="LLM-multimodal audio feature extraction: Walsh-style "
    "square-wave band correlations over REAL-decoded PCM — the "
    "integer-exact stand-in for a float DFT (which can't survive a "
    "cross-engine value-hash gate)",
    oracle="""
WITH p AS (
  SELECT doc_id, doc_id % 400 + 50 AS n FROM documents
),
kk AS (SELECT unnest([1, 2, 4, 8]) AS k),
c AS (
  SELECT doc_id, n, k,
    list_sum(list_transform(range(0, n), i ->
      ((doc_id*31 + i*17) % 4001 - 2000)
      * (CASE WHEN ((2*k*i) // n) % 2 = 0 THEN 1 ELSE -1 END))) AS corr
  FROM p CROSS JOIN kk
)
SELECT doc_id AS id, CAST(n AS BIGINT) AS n_frames,
  CAST(k AS BIGINT) AS k, CAST(corr AS BIGINT) AS corr
FROM c
""",
)
def multimodal_audio_spectrum(spark, sf_dir):
    """documents → synthesized PCM16 WAV bytes → REAL RIFF/WAVE decode →
    per-band ±1 square-wave correlations (k = 1,2,4,8 cycles), all in
    int64 so the oracle recomputes the identical values from the
    synthesis formula — decode + transform proven end-to-end by the hash
    gate. One Arrow mapInPandas stage, zero shuffles, 4 rows out per
    clip; at 100 TB the payload bytes never move off the scan partition
    and only the 32-byte feature rows ship."""
    d = table(spark, sf_dir, "documents")
    payloads = multimodal.synthesize_payloads(d, "doc_id", kind="audio")
    return multimodal.spectral_correlations(payloads)


# ---------------------------------------------------------------------------
# IVF-PQ ANN (coarse inverted lists + product-quantized residuals + ADC)
# ---------------------------------------------------------------------------

@query(
    "ann_ivfpq_topk",
    prewarm=True,
    section="LLM-similarity IVF-PQ ANN — the FAISS-style serving "
    "architecture: coarse inverted lists, product-quantized RESIDUALS "
    "(16 bytes/vector), asymmetric-distance ranking; build + probe both "
    "integer-exact so the oracle replays them bit-for-bit",
    oracle=f"""
WITH e AS ({_IVF_E}),
q AS (SELECT vec_id, {_QV_SQL} AS qv FROM embeddings),
cent AS (
  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm FROM e WHERE vec_id < 8
),
centq AS (SELECT vec_id AS cent_id, qv AS ccq FROM q WHERE vec_id < 8),
assign AS (
  SELECT cent_id, neighbor_id FROM (
    SELECT c.cent_id, x.vec_id AS neighbor_id,
      row_number() OVER (
        PARTITION BY x.vec_id
        ORDER BY round(CAST({_DOT.format(a='x.embedding', b='c.cvec')} AS DOUBLE)
                       / (x.nrm * c.cnrm), 6) DESC, c.cent_id ASC
      ) AS rn
    FROM e x CROSS JOIN cent c
  ) WHERE rn = 1
),
resid AS (
  SELECT a.cent_id, a.neighbor_id,
    list_transform(range(0, 64), i -> nq.qv[i+1] - cq.ccq[i+1]) AS rq
  FROM assign a
  JOIN q nq ON nq.vec_id = a.neighbor_id
  JOIN centq cq ON cq.cent_id = a.cent_id
),
sub AS (
  SELECT neighbor_id, cent_id, mm.m AS m, rq[mm.m*2+1 : mm.m*2+2] AS subq
  FROM resid, (SELECT unnest(range(0, 32)) AS m) mm
),
c0 AS (SELECT m, neighbor_id AS c, subq AS cent FROM sub WHERE neighbor_id < 16),
a1 AS (
  SELECT s.neighbor_id, s.m, cc.c,
    row_number() OVER (PARTITION BY s.neighbor_id, s.m ORDER BY
      (s.subq[1] - cc.cent[1]) * (s.subq[1] - cc.cent[1])
      + (s.subq[2] - cc.cent[2]) * (s.subq[2] - cc.cent[2]) ASC,
      cc.c ASC) AS rn
  FROM sub s JOIN c0 cc ON s.m = cc.m
),
a1f AS (SELECT neighbor_id, m, c AS code FROM a1 WHERE rn = 1),
u1 AS (
  SELECT s.m, a.code, jj.j,
    CAST(floor(CAST(SUM(s.subq[jj.j+1]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
  FROM sub s JOIN a1f a ON s.neighbor_id = a.neighbor_id AND s.m = a.m,
       (SELECT unnest(range(0, 2)) AS j) jj
  GROUP BY s.m, a.code, jj.j
),
g1 AS (SELECT m, code AS c, list(v ORDER BY j) AS cent FROM u1 GROUP BY m, code),
c1 AS (
  SELECT c0.m, c0.c, coalesce(g1.cent, c0.cent) AS cent
  FROM c0 LEFT JOIN g1 ON c0.m = g1.m AND c0.c = g1.c
),
acode AS (
  SELECT neighbor_id, cent_id, m, c AS code FROM (
    SELECT s.neighbor_id, s.cent_id, s.m, cc.c,
      row_number() OVER (PARTITION BY s.neighbor_id, s.m ORDER BY
        (s.subq[1] - cc.cent[1]) * (s.subq[1] - cc.cent[1])
        + (s.subq[2] - cc.cent[2]) * (s.subq[2] - cc.cent[2]) ASC,
        cc.c ASC) AS rn
    FROM sub s JOIN c1 cc ON s.m = cc.m
  ) WHERE rn = 1
),
qq AS (SELECT vec_id AS query_id, embedding AS qvec, nrm AS qnrm FROM e WHERE vec_id < 10),
probes AS (
  SELECT cent_id, query_id FROM (
    SELECT c.cent_id, qq.query_id,
      row_number() OVER (
        PARTITION BY qq.query_id
        ORDER BY round(CAST({_DOT.format(a='qq.qvec', b='c.cvec')} AS DOUBLE)
                       / (qq.qnrm * c.cnrm), 6) DESC, c.cent_id ASC
      ) AS rn
    FROM qq CROSS JOIN cent c
  ) WHERE rn <= 2
),
probe_res AS (
  SELECT p.cent_id, p.query_id,
    list_transform(range(0, 64), i -> pq.qv[i+1] - cq.ccq[i+1]) AS qrq
  FROM probes p
  JOIN q pq ON pq.vec_id = p.query_id
  JOIN centq cq ON cq.cent_id = p.cent_id
),
adc AS (
  SELECT pr.query_id, a.neighbor_id,
    CAST(SUM(
      (pr.qrq[a.m*2+1] - ct.cent[1]) * (pr.qrq[a.m*2+1] - ct.cent[1])
      + (pr.qrq[a.m*2+2] - ct.cent[2]) * (pr.qrq[a.m*2+2] - ct.cent[2])
    ) AS BIGINT) AS adc_dist
  FROM probe_res pr
  JOIN acode a ON pr.cent_id = a.cent_id
  JOIN c1 ct ON ct.m = a.m AND ct.c = a.code
  WHERE pr.query_id <> a.neighbor_id
  GROUP BY pr.query_id, a.neighbor_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc_dist FROM (
  SELECT query_id, neighbor_id, adc_dist,
    row_number() OVER (
      PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM adc
) WHERE rank <= 5
""",
)
def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composed end-to-end (operators/similarity.py ivfpq_topk):
    map-only coarse assignment against a broadcast centroid array,
    integer residuals (zip_with subtract in the quantized domain), a
    codebook TRAINED on those residuals (pq_train's deterministic Lloyd
    — fitting the residual distribution is what makes IVF-PQ usable,
    exactly as FAISS trains on residuals), numpy-exact encode, then
    probe-side ADC as one in-row fold over a constant-folded flat
    codebook literal. The oracle rebuilds the identical index
    relationally — coarse argmax, residuals, the Lloyd iteration
    (init/assign/floor-mean update), per-subspace argmin codes, ADC
    sums — so the green hash certifies train + build + serve.
    Candidates touched per query: ~nprobe/8 of the code table; the raw
    vectors are never read at query time."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.ivfpq_topk(
        emb, queries, "vec_id", "embedding",
        k=5, num_centroids=8, nprobe=2, dim=64, subspaces=32, kcodes=16,
        codebook=_ivfpq_codebook(spark, sf_dir),
    )
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"),
        "neighbor_id", "adc_dist",
    )


# ---------------------------------------------------------------------------
# BM25 retrieval (batch top-k per query over the corpus)
# ---------------------------------------------------------------------------

_BM25_QUERIES = [
    ("q_merge", "spark"), ("q_merge", "merge"), ("q_merge", "join"),
    ("q_stream", "window"), ("q_stream", "agg"), ("q_stream", "stream"),
    ("q_scan", "fast"), ("q_scan", "scan"), ("q_scan", "filter"),
]

_BM25_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)


@query(
    "bm25_topk",
    section="LLM-retrieval BM25 ranking (engine extra): batch top-k lexical "
    "search — the retrieval twin of the ANN family (Robertson/Walker Okapi "
    "BM25, Lucene idf; public-paper algorithm, no reference counterpart)",
    oracle=f"""
WITH q(query_id, term) AS (VALUES {_BM25_VALUES}),
tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
), tfr AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS token FROM tok)
  WHERE token IN (SELECT term FROM q)
  GROUP BY doc_id, token
), idf AS (
  SELECT token,
    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6) AS idf
  FROM (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tfr GROUP BY token)
  CROSS JOIN stats
), scored AS (
  SELECT q.query_id, tfr.doc_id,
    CAST(SUM(CAST(round(
      idf.idf * (CAST(tf AS DOUBLE) * 2.2)
      / (CAST(tf AS DOUBLE)
         + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))),
    6) AS DECIMAL(18,6))) AS DOUBLE) AS score
  FROM (SELECT DISTINCT query_id, term FROM q) q
  JOIN tfr ON q.term = tfr.token
  JOIN idf ON idf.token = tfr.token
  JOIN dl ON dl.doc_id = tfr.doc_id
  CROSS JOIN stats
  GROUP BY q.query_id, tfr.doc_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC
  ) AS rank FROM scored
) WHERE rank <= 10
""",
)
def bm25_topk(spark, sf_dir):
    """Batch lexical retrieval over the corpus: 3 fixed queries, top-10
    docs each. The corpus-side plan is ONE token explode semi-filtered to
    the (broadcast) query terms before the tf shuffle — at 100 TB the
    exchange carries only query-term hits, and dl comes from the same
    token projection; N/avgdl are a 1-row broadcast aggregate. See
    operators/curate.bm25_topk for the parity argument (integer tf/df/dl,
    6-dp-rounded idf and per-term scores, decimal sum)."""
    from furchild_spark.operators import curate

    d = table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    return curate.bm25_topk(d, "doc_id", "text", queries, k=10)


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-prune semantic dedup (paper: arXiv:2303.09540)
# ---------------------------------------------------------------------------

@query(
    "semdedup",
    section="LLM-dedup semantic (SemDeDup: k-cluster assignment, "
    "within-cluster cosine pruning, keep-lowest-id; public paper "
    "arXiv:2303.09540, no reference counterpart)",
    oracle=f"""
WITH e AS ({_IVF_E}),
nc AS (SELECT greatest(8, count(*) * 800 // 6000000) AS n FROM lineitem),
cent AS (
  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm FROM e
  WHERE vec_id < (SELECT n FROM nc)
),
assign AS (
  SELECT cent_id, vec_id, embedding, nrm FROM (
    SELECT c.cent_id, x.vec_id, x.embedding, x.nrm,
      row_number() OVER (
        PARTITION BY x.vec_id
        ORDER BY round(CAST({_DOT.format(a='x.embedding', b='c.cvec')} AS DOUBLE)
                       / (x.nrm * c.cnrm), 6) DESC, c.cent_id ASC
      ) AS rn
    FROM e x CROSS JOIN cent c
  ) WHERE rn = 1
),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE round(CAST({_DOT.format(a='a.embedding', b='b.embedding')} AS DOUBLE)
              / (a.nrm * b.nrm), 6) >= 0.3
)
SELECT a.vec_id, CAST(a.cent_id AS BIGINT) AS cent_id,
  (d.vec_id IS NOT NULL) AS is_dup
FROM assign a LEFT JOIN dup d ON d.vec_id = a.vec_id
""",
)
def semdedup(spark, sf_dir):
    """SemDeDup end-to-end (operators/similarity.semdedup): map-only
    nearest-centroid assignment against a broadcast centroid array (the
    ivf_assign shape — zero corpus exchanges), then ONE self-join keyed
    on cent_id whose candidate volume is bounded by Σ cluster_size² —
    num_centroids is the knob that keeps clusters bounded as the corpus
    grows, exactly like the LSH band count. A vector is a duplicate iff
    a lower-id vector in its cluster has rounded cosine ≥ 0.3; output is
    a per-vector keep/drop verdict ready for a pipeline filter. The
    oracle rebuilds assignment + within-cluster pruning relationally, so
    the green hash certifies the whole cluster→prune path.

    num_centroids SCALES WITH THE CORPUS (the paper's own prescription):
    pair volume is Σ cluster_size², so the centroid count grows linearly
    with sf to hold cluster size ≈ 60 constant — 8 at the sf0.01 oracle
    gate, 80 at the sf0.1 bench, 800 at the 10× scale probe. Derived
    from the sf_dir NAME, never a plan-time row probe (no Spark action
    during plan construction). The oracle derives the SAME count
    relationally — ``greatest(8, |lineitem|·800/6e6)``, and lineitem is
    exactly 6M·sf rows in every generated tree — so pointing
    SPARK_GRAFT_TEST_SF_DIR at any sf keeps Spark and DuckDB agreeing
    on the centroid set (round-8 advice fix; previously the SQL
    hardcoded ``vec_id < 8`` and only matched at sf0.01)."""
    import re as _re

    m = _re.search(r"sf([0-9.]+)", sf_dir or "")
    sf = float(m.group(1)) if m else 0.01
    emb = table(spark, sf_dir, "embeddings")
    out = similarity.semdedup(
        emb, "vec_id", "embedding", threshold=0.3,
        num_centroids=max(8, int(800 * sf)),
    )
    return out.select("vec_id", F.col("cent_id").cast("long").alias("cent_id"),
                      "is_dup")


# ---------------------------------------------------------------------------
# CCNet-style bigram LM quality scoring (paper: arXiv:1911.00359)
# ---------------------------------------------------------------------------

@query(
    "ngram_lm_score",
    section="LLM-quality bigram-LM cross-entropy scoring (CCNet's "
    "head/middle/tail axis, self-trained MLE model; public paper "
    "arXiv:1911.00359, no reference counterpart)",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
bg AS (
  SELECT doc_id,
    unnest(list_transform(
      range(1, CASE WHEN len(t) >= 2 THEN len(t) ELSE 1 END),
      i -> t[i] || ' ' || t[i+1])) AS bg
  FROM tok
),
model AS (SELECT bg, COUNT(*) AS cb FROM bg GROUP BY bg),
ctx AS (
  SELECT string_split(bg, ' ')[1] AS w1, SUM(cb) AS cu
  FROM model GROUP BY string_split(bg, ' ')[1]
),
lp AS (
  SELECT model.bg,
    round(ln(CAST(cu AS DOUBLE) / CAST(cb AS DOUBLE)), 6) AS logp
  FROM model JOIN ctx ON string_split(model.bg, ' ')[1] = ctx.w1
),
per_doc AS (
  SELECT g.doc_id,
    CAST(COUNT(*) AS BIGINT) AS n_bigrams,
    round(CAST(SUM(CAST(logp AS DECIMAL(18,6))) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE), 6) AS cross_entropy
  FROM bg g JOIN lp ON g.bg = lp.bg
  GROUP BY g.doc_id
)
SELECT d.doc_id,
  COALESCE(p.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
  p.cross_entropy
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
""",
)
def ngram_lm_score(spark, sf_dir):
    """Bigram-LM cross-entropy per document (operators/text.
    bigram_lm_score): the corpus trains its own MLE bigram model in one
    map-side-combined groupBy (model table bounded by distinct bigrams,
    ≪ corpus tokens), contexts roll up from the ALREADY-aggregated
    model, and docs join back to the model on the bigram string — no
    corpus-wide window, no driver state. ln(cu/cb) keeps P=1 at a
    positive zero (a -ln(cb/cu) formulation hash-diverges on -0.0);
    per-doc sums are exact decimal; short docs survive with
    n_bigrams=0. CCNet (arXiv:1911.00359) buckets corpora into
    head/middle/tail on exactly this statistic."""
    d = table(spark, sf_dir, "documents")
    return text.bigram_lm_score(d, "doc_id", "text")


# ---------------------------------------------------------------------------
# Retrieval evaluation: recall@k + MRR of the BM25 run against AND-semantics
# relevance judgments (trec_eval's two workhorse metrics)
# ---------------------------------------------------------------------------

@query(
    "retrieval_eval",
    section="LLM-retrieval evaluation (recall@k + MRR per query over the "
    "BM25 run; trec_eval semantics — judged queries only, empty run "
    "scores 0)",
    oracle=f"""
WITH q(query_id, term) AS (VALUES {_BM25_VALUES}),
tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
), tfr AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS token FROM tok)
  WHERE token IN (SELECT term FROM q)
  GROUP BY doc_id, token
), idf AS (
  SELECT token,
    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6) AS idf
  FROM (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tfr GROUP BY token)
  CROSS JOIN stats
), scored AS (
  SELECT q.query_id, tfr.doc_id,
    CAST(SUM(CAST(round(
      idf.idf * (CAST(tf AS DOUBLE) * 2.2)
      / (CAST(tf AS DOUBLE)
         + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))),
    6) AS DECIMAL(18,6))) AS DOUBLE) AS score
  FROM (SELECT DISTINCT query_id, term FROM q) q
  JOIN tfr ON q.term = tfr.token
  JOIN idf ON idf.token = tfr.token
  JOIN dl ON dl.doc_id = tfr.doc_id
  CROSS JOIN stats
  GROUP BY q.query_id, tfr.doc_id
), runs AS (
  SELECT query_id, rank, doc_id FROM (
    SELECT query_id, doc_id,
      row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 10
),
qd AS (SELECT DISTINCT query_id, term FROM q),
nt AS (SELECT query_id, COUNT(*) AS n_terms FROM qd GROUP BY query_id),
dtok AS (
  SELECT DISTINCT doc_id, token
  FROM (SELECT doc_id, unnest(t) AS token FROM tok)
  WHERE token IN (SELECT term FROM q)
),
qrels AS (
  SELECT m.query_id, m.doc_id FROM (
    SELECT qd.query_id, dt.doc_id, COUNT(*) AS n_hit
    FROM dtok dt JOIN qd ON dt.token = qd.term
    GROUP BY qd.query_id, dt.doc_id
  ) m JOIN nt ON nt.query_id = m.query_id AND m.n_hit = nt.n_terms
),
rel AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM qrels GROUP BY query_id
),
h AS (
  SELECT r.query_id, CAST(COUNT(*) AS BIGINT) AS hits,
    CAST(MIN(r.rank) AS BIGINT) AS first_rank
  FROM runs r JOIN qrels ON qrels.query_id = r.query_id AND qrels.doc_id = r.doc_id
  GROUP BY r.query_id
)
SELECT rel.query_id, rel.n_rel,
  COALESCE(h.hits, CAST(0 AS BIGINT)) AS hits,
  CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(rel.n_rel AS DOUBLE) AS recall_at_k,
  COALESCE(CAST(1 AS DOUBLE) / CAST(h.first_rank AS DOUBLE),
           CAST(0 AS DOUBLE)) AS mrr
FROM rel LEFT JOIN h ON h.query_id = rel.query_id
""",
)
def retrieval_eval(spark, sf_dir):
    """Evaluate the BM25 run against AND-semantics qrels (relevant =
    doc contains EVERY distinct term of the query). The qrels derive
    from the same semi-filtered token projection BM25 itself uses — at
    100 TB the corpus-side cost is the one query-term-filtered explode,
    and every evaluation-side table (qrels, per-query totals) is
    broadcast. recall@10 and MRR are single divisions of exact integers
    (operators/curate.retrieval_eval)."""
    from furchild_spark.operators import curate

    d = table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    runs = curate.bm25_topk(d, "doc_id", "text", queries, k=10).select(
        "query_id", "rank", "doc_id"
    )
    qd = queries.dropDuplicates(["query_id", "term"])
    n_terms = qd.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
    terms = qd.select(F.col("term").alias("token")).distinct()
    dtok = (
        d.select(F.col("doc_id"), F.explode(text.tokens("text")).alias("token"))
        .join(F.broadcast(terms), on="token", how="left_semi")
        .dropDuplicates(["doc_id", "token"])
    )
    qrels = (
        dtok.join(F.broadcast(qd), dtok.token == qd.term)
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .join(F.broadcast(n_terms), on="query_id")
        .filter(F.col("n_hit") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    return curate.retrieval_eval(runs, qrels, k=10).orderBy("query_id")


# ---------------------------------------------------------------------------
# Reciprocal Rank Fusion (hybrid retrieval; Cormack/Clarke/Büttcher 2009)
# ---------------------------------------------------------------------------

@query(
    "rrf_hybrid_topk",
    section="LLM-retrieval hybrid rank fusion (RRF of the BM25 run and a "
    "pure-tf run; rank-only fusion needs no score calibration — SIGIR 2009 "
    "public algorithm, no reference counterpart)",
    oracle=f"""
WITH q(query_id, term) AS (VALUES {_BM25_VALUES}),
tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
), tfr AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS token FROM tok)
  WHERE token IN (SELECT term FROM q)
  GROUP BY doc_id, token
), idf AS (
  SELECT token,
    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6) AS idf
  FROM (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tfr GROUP BY token)
  CROSS JOIN stats
), scored AS (
  SELECT q.query_id, tfr.doc_id,
    CAST(SUM(CAST(round(
      idf.idf * (CAST(tf AS DOUBLE) * 2.2)
      / (CAST(tf AS DOUBLE)
         + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))),
    6) AS DECIMAL(18,6))) AS DOUBLE) AS score
  FROM (SELECT DISTINCT query_id, term FROM q) q
  JOIN tfr ON q.term = tfr.token
  JOIN idf ON idf.token = tfr.token
  JOIN dl ON dl.doc_id = tfr.doc_id
  CROSS JOIN stats
  GROUP BY q.query_id, tfr.doc_id
),
runs_a AS (
  SELECT query_id, rank, doc_id FROM (
    SELECT query_id, doc_id,
      row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 10
),
tfq AS (
  SELECT q.query_id, tfr.doc_id, SUM(tfr.tf) AS tfsum
  FROM (SELECT DISTINCT query_id, term FROM q) q
  JOIN tfr ON q.term = tfr.token
  GROUP BY q.query_id, tfr.doc_id
),
runs_b AS (
  SELECT query_id, rank, doc_id FROM (
    SELECT query_id, doc_id,
      row_number() OVER (
        PARTITION BY query_id ORDER BY tfsum DESC, doc_id ASC) AS rank
    FROM tfq
  ) WHERE rank <= 10
),
u AS (
  SELECT query_id, doc_id, rank FROM runs_a
  UNION ALL
  SELECT query_id, doc_id, rank FROM runs_b
),
f AS (
  SELECT query_id, doc_id,
    CAST(SUM(CAST(round(CAST(1 AS DOUBLE) / CAST(60 + rank AS DOUBLE), 6)
                  AS DECIMAL(18,6))) AS DOUBLE) AS rrf_score
  FROM u GROUP BY query_id, doc_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf_score FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM f
) WHERE rank <= 10
""",
)
def rrf_hybrid_topk(spark, sf_dir):
    """Hybrid retrieval: fuse the BM25 run with a pure term-frequency
    run via RRF (operators/curate.rrf_fuse). Both runs derive from
    query-term-semi-filtered corpus explodes (the only distributed
    work); the fusion itself operates on top-k-sized runs — a
    unionByName + one tiny groupBy + a query-partitioned re-rank
    window. Rank-only fusion is what production hybrid search does
    when lexical and vector scores live on incomparable scales."""
    from pyspark.sql import Window

    from furchild_spark.operators import curate

    d = table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_BM25_QUERIES, "query_id string, term string")
    run_a = curate.bm25_topk(d, "doc_id", "text", queries, k=10).select(
        "query_id", "rank", "doc_id"
    )
    qd = queries.dropDuplicates(["query_id", "term"])
    qterms = qd.select(F.col("term").alias("token")).distinct()
    tf = (
        d.select(F.col("doc_id"), F.explode(text.tokens("text")).alias("token"))
        .join(F.broadcast(qterms), on="token", how="left_semi")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tfq = (
        tf.join(F.broadcast(qd), tf.token == qd.term)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("tf").alias("tfsum"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("tfsum"), F.asc("doc_id"))
    run_b = (
        tfq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "doc_id")
    )
    return curate.rrf_fuse([run_a, run_b], k=10, c=60)


# ---------------------------------------------------------------------------
# CCNet head/middle/tail bucketing (quality-gated corpus partitioning)
# ---------------------------------------------------------------------------

@query(
    "ccnet_buckets",
    section="LLM-quality CCNet corpus bucketing (head/middle/tail by "
    "LM cross-entropy quartiles — the composition of bigram_lm_score "
    "with exact percentile thresholds; arXiv:1911.00359 §4.3)",
    oracle=f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
bg AS (
  SELECT doc_id,
    unnest(list_transform(
      range(1, CASE WHEN len(t) >= 2 THEN len(t) ELSE 1 END),
      i -> t[i] || ' ' || t[i+1])) AS bg
  FROM tok
),
model AS (SELECT bg, COUNT(*) AS cb FROM bg GROUP BY bg),
ctx AS (
  SELECT string_split(bg, ' ')[1] AS w1, SUM(cb) AS cu
  FROM model GROUP BY string_split(bg, ' ')[1]
),
lp AS (
  SELECT model.bg,
    round(ln(CAST(cu AS DOUBLE) / CAST(cb AS DOUBLE)), 6) AS logp
  FROM model JOIN ctx ON string_split(model.bg, ' ')[1] = ctx.w1
),
per_doc AS (
  SELECT g.doc_id,
    round(CAST(SUM(CAST(logp AS DECIMAL(18,6))) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE), 6) AS cross_entropy
  FROM bg g JOIN lp ON g.bg = lp.bg
  GROUP BY g.doc_id
),
th AS (
  SELECT
    CAST(percentile_cont(0.25) WITHIN GROUP (ORDER BY cross_entropy) AS DOUBLE) AS t1,
    CAST(percentile_cont(0.75) WITHIN GROUP (ORDER BY cross_entropy) AS DOUBLE) AS t2
  FROM per_doc
)
SELECT d.doc_id, p.cross_entropy,
  CASE WHEN p.cross_entropy IS NULL THEN 'tail'
       WHEN p.cross_entropy <= th.t1 THEN 'head'
       WHEN p.cross_entropy <= th.t2 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM documents d
LEFT JOIN per_doc p ON p.doc_id = d.doc_id
CROSS JOIN th
""",
)
def ccnet_buckets(spark, sf_dir):
    """CCNet's corpus partitioning: score every doc with the bigram-LM
    cross-entropy (text.bigram_lm_score), then split head/middle/tail
    at the exact 25th/75th percentiles — low entropy = fluent = head,
    exactly the axis CCNet trains on. The thresholds are ONE exact
    percentile aggregate (1-row broadcast back onto the corpus — never
    a global sort or SinglePartition window); short docs without a
    score land in tail. Composition proof: the same operator output
    feeds a second statistic without re-tokenizing."""
    d = table(spark, sf_dir, "documents")
    scores = text.bigram_lm_score(d, "doc_id", "text")
    th = scores.filter(F.col("cross_entropy").isNotNull()).agg(
        F.percentile("cross_entropy", F.lit(0.25)).alias("t1"),
        F.percentile("cross_entropy", F.lit(0.75)).alias("t2"),
    )
    return scores.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "cross_entropy",
        F.when(F.col("cross_entropy").isNull(), "tail")
        .when(F.col("cross_entropy") <= F.col("t1"), "head")
        .when(F.col("cross_entropy") <= F.col("t2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# BPE merge training (paper: arXiv:1508.07909) — relational iteration
# ---------------------------------------------------------------------------

def _bpe_round_ctes(r: int) -> str:
    """One unrolled BPE round as DuckDB CTEs (mirrors the pagerank
    oracle's unrolled-iteration technique). words{r} -> b{r} (best pair)
    and words{r+1} (post-merge symbol arrays, positional greedy)."""
    return f"""
p{r} AS (
  SELECT pr.s1 AS s1, pr.s2 AS s2, SUM(freq) AS cnt FROM (
    SELECT freq, unnest(list_transform(range(1, len(syms)),
      i -> struct_pack(s1 := syms[i], s2 := syms[i+1]))) AS pr
    FROM words{r}
  ) GROUP BY pr.s1, pr.s2
),
b{r} AS MATERIALIZED (SELECT s1, s2, cnt FROM p{r} ORDER BY cnt DESC, s1 ASC, s2 ASC LIMIT 1),
pos{r} AS (
  SELECT word, freq, pr.i AS i, pr.s AS s
  FROM (SELECT word, freq,
        unnest(list_transform(range(1, len(syms)+1),
               i -> struct_pack(i := i, s := syms[i]))) AS pr
        FROM words{r})
),
mk{r} AS (
  SELECT word, freq, i, s,
    CASE WHEN s = (SELECT s1 FROM b{r})
          AND lead(s) OVER (PARTITION BY word ORDER BY i) = (SELECT s2 FROM b{r})
         THEN 1 ELSE 0 END AS m
  FROM pos{r}
),
isl{r} AS (
  SELECT *, i - row_number() OVER (PARTITION BY word, m ORDER BY i) AS grp
  FROM mk{r}
),
sel{r} AS (
  SELECT *, CASE WHEN m = 1
    AND (i - MIN(i) OVER (PARTITION BY word, m, grp)) % 2 = 0
    THEN 1 ELSE 0 END AS keep
  FROM isl{r}
),
ap{r} AS (
  SELECT word, freq, i, s, keep,
    lead(s) OVER (PARTITION BY word ORDER BY i) AS ns,
    lag(keep) OVER (PARTITION BY word ORDER BY i) AS pk
  FROM sel{r}
),
words{r+1} AS MATERIALIZED (
  SELECT word, freq,
    list(CASE WHEN keep = 1 THEN s || ns ELSE s END ORDER BY i)
      FILTER (WHERE pk IS NULL OR pk = 0) AS syms
  FROM ap{r} GROUP BY word, freq
)"""


_BPE_ROUNDS = 5

# the trainer CTE chain (tok → w0 → words1 → rounds 1..5, ending at
# words6 = every vocab word's post-merge symbol array), reused verbatim
# by the bpe_apply oracle so train→apply replays end-to-end
_BPE_CTES = (
    f"""
WITH tok AS (SELECT {_TOKS} AS t FROM documents),
w0 AS (
  SELECT word, COUNT(*) AS freq
  FROM (SELECT unnest(t) AS word FROM tok) GROUP BY word
),
words1 AS (
  SELECT word, freq,
    list_transform(range(1, len(word)+1), i -> word[i]) AS syms
  FROM w0
),"""
    + ",".join(_bpe_round_ctes(r) for r in range(1, _BPE_ROUNDS + 1))
)

_BPE_ORACLE = (
    _BPE_CTES
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, s1 AS p1, s2 AS p2,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM b{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
)


@query(
    "bpe_merges",
    section="LLM-tokenizer BPE merge training (arXiv:1508.07909) as "
    "relational iteration: corpus touched once, vocab-bounded rounds, "
    "deterministic tie-breaks; no reference counterpart",
    oracle=_BPE_ORACLE,
)
def bpe_merges(spark, sf_dir):
    """First 5 BPE merge rules learned over the documents corpus
    (operators/text.bpe_train). The corpus costs ONE token shuffle (the
    word-type count); each round then runs on the vocabulary table:
    in-row zip_with pair explode → map-side-combined count →
    TakeOrdered(1) best pair broadcast → in-row greedy fold applying
    the merge — localCheckpoint per round keeps the plan flat (the
    connected-components pattern). The oracle replays every round
    positionally (islands-and-parity greedy selection), so a diverged
    count, tie-break, or merge application anywhere in the trajectory
    breaks the hash."""
    d = table(spark, sf_dir, "documents")
    return text.bpe_train(d, "text", rounds=_BPE_ROUNDS)


# ---------------------------------------------------------------------------
# SQ8 scalar quantization (FAISS's SQ8 codec) — train / encode / ADC top-k
# ---------------------------------------------------------------------------

# shared oracle chain: quantized vectors -> per-dim min/max -> codec arrays
# -> clamped uint8 codes (mirrors similarity.sq8_train / sq8_encode)
_SQ8_CTES = f"""
WITH q AS (SELECT vec_id, {_QV_SQL} AS qv FROM embeddings),
dims AS (
  SELECT CAST(d.i AS BIGINT) AS dim, MIN(qv[d.i+1]) AS mn, MAX(qv[d.i+1]) AS mx
  FROM q, (SELECT unnest(range(0, 64)) AS i) d
  GROUP BY d.i
),
cdc AS (SELECT list(mn ORDER BY dim) AS mins, list(mx ORDER BY dim) AS maxs FROM dims),
codes AS (
  SELECT vec_id,
    list_transform(range(0, 64), i ->
      CASE WHEN maxs[i+1] > mins[i+1] THEN
        CAST(greatest(0.0, least(255.0,
          round(CAST(qv[i+1] - mins[i+1] AS DOUBLE) * 255.0
                / CAST(maxs[i+1] - mins[i+1] AS DOUBLE), 0))) AS BIGINT)
      ELSE 0 END) AS codes
  FROM q CROSS JOIN cdc
)"""


@query(
    "sq8_codec",
    section="LLM-similarity SQ8 scalar-quantization training: per-dimension "
    "min/max codec over the corpus (FAISS SQ8; no reference counterpart)",
    oracle=_SQ8_CTES + """
SELECT dim, mn, mx FROM dims
""",
)
def sq8_codec(spark, sf_dir):
    """The SQ8 training artifact (operators/similarity.sq8_train): 128
    exact-integer min/max aggregates over the quantized corpus in ONE
    map-side-combined pass — the whole codec is a single row, the thing
    you broadcast everywhere encode/serve happens. Unrolled here to 64
    (dim, mn, mx) rows for the scalar-schema hash gate."""
    e = table(spark, sf_dir, "embeddings")
    codec = similarity.sq8_train(e, "embedding", dim=64)
    return codec.select(
        F.posexplode(F.arrays_zip("mins", "maxs")).alias("dim", "mm")
    ).select(
        F.col("dim").cast("long").alias("dim"),
        F.col("mm.mins").alias("mn"),
        F.col("mm.maxs").alias("mx"),
    )


@query(
    "sq8_codes",
    section="LLM-similarity SQ8 encode: map-only clamped uint8 codes "
    "against the broadcast codec (8x smaller search payload)",
    oracle=_SQ8_CTES + """
SELECT vec_id,
  lower(array_to_string(list_transform(codes, c -> lpad(to_hex(c), 2, '0')), ''))
    AS codes_hex
FROM codes
""",
)
def sq8_codes(spark, sf_dir):
    """Corpus encode (operators/similarity.sq8_encode): one broadcast
    join against the 1-row codec, then a pure in-row transform — zero
    corpus exchanges, exactly the shape that fuses into the scan at
    100 TB. Codes are clamped to [0, 255] (FAISS semantics), so even an
    out-of-range vector stays int8. The 64 codes serialize as one
    128-char hex string: full-fidelity scalar output for the hash gate."""
    e = table(spark, sf_dir, "embeddings")
    codec = similarity.sq8_train(e, "embedding", dim=64)
    codes = similarity.sq8_encode(e, codec, "vec_id", "embedding")
    return codes.select(
        "vec_id",
        F.lower(
            F.concat_ws(
                "", F.transform("codes", lambda c: F.lpad(F.hex(c), 2, "0"))
            )
        ).alias("codes_hex"),
    )


_SQ8_QUERY_IDS = (1, 7, 13)


@query(
    "ann_sq8_topk",
    section="LLM-similarity ANN via SQ8 asymmetric distance: both sides "
    "reconstruct from codes in-row, exact-integer dot, per-query top-k",
    oracle=_SQ8_CTES + f""",
rec AS (
  SELECT c.vec_id,
    list_transform(range(0, 64), i ->
      255 * mins[i+1] + c.codes[i+1] * (maxs[i+1] - mins[i+1])) AS r
  FROM codes c CROSS JOIN cdc
),
sel AS (SELECT vec_id AS query_id, r AS rq FROM rec WHERE vec_id IN {_SQ8_QUERY_IDS}),
scored AS (
  SELECT s.query_id, c.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, 65),
      i -> CAST(s.rq[i] AS HUGEINT) * c.r[i])) AS BIGINT) AS adc_dot_scaled
  FROM sel s CROSS JOIN rec c
  WHERE c.vec_id <> s.query_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc_dot_scaled
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adc_dot_scaled DESC, neighbor_id ASC
  ) AS rank FROM scored
) WHERE rank <= 5
""",
)
def ann_sq8_topk(spark, sf_dir):
    """SQ8 serving (operators/similarity.sq8_topk): train + encode as
    above, then ADC — both sides reconstruct ``r_i = 255·mn_i +
    code_i·span_i`` (exact longs, 255× the decoded value) and rank by
    the integer dot of reconstructions, decimal(38,0)-accumulated so the
    ranking is bit-reproducible in any engine. Query codes broadcast
    (queries ≪ corpus); the corpus side is map-only; the only exchange
    is the per-query top-k window. The oracle re-derives codec, codes,
    reconstructions, and ranks relationally — a diverged clamp, round,
    or tie-break anywhere breaks the hash."""
    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id").isin(*_SQ8_QUERY_IDS))
    out = similarity.sq8_topk(
        e, queries, "vec_id", "embedding", k=5, dim=64
    )
    return out.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        "adc_dot_scaled",
    )


# ---------------------------------------------------------------------------
# BPE apply — the serving half of bpe_merges (arXiv:1508.07909)
# ---------------------------------------------------------------------------

_BPE_RULES_CACHE: dict[str, list] = {}


def _bpe_rules(spark, sf_dir):
    """Train once per sf_dir and collect the 5-rule merge list — the
    tokenizer model artifact (≤vocab-sized, like the PQ codebook cache
    above); deterministic, so memoizing is safe."""
    if sf_dir not in _BPE_RULES_CACHE:
        rows = text.bpe_train(
            table(spark, sf_dir, "documents"), "text", rounds=_BPE_ROUNDS
        ).collect()
        rows.sort(key=lambda r: r["round"])
        _BPE_RULES_CACHE[sf_dir] = [(r["p1"], r["p2"]) for r in rows]
    return _BPE_RULES_CACHE[sf_dir]


@query(
    "bpe_apply",
    prewarm=True,
    section="LLM-tokenizer BPE apply: learned merge rules replayed over "
    "every document — vocab-factored serving path (fold once per "
    "DISTINCT word, join occurrences back; bit-for-bit the map-only "
    "fold's output)",
    oracle=_BPE_CTES + f""",
dtok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tok_pos AS (
  SELECT doc_id, u.i AS i, u.w AS w
  FROM (SELECT doc_id,
          unnest(list_transform(range(1, len(t)+1),
                 i -> struct_pack(i := i, w := t[i]))) AS u
        FROM dtok)
),
sub AS (
  SELECT tp.doc_id, tp.i, w6.syms
  FROM tok_pos tp JOIN words{_BPE_ROUNDS + 1} w6 ON w6.word = tp.w
),
per_doc AS (
  SELECT doc_id, flatten(list(syms ORDER BY i)) AS toks
  FROM sub GROUP BY doc_id
)
SELECT d.doc_id,
  coalesce(array_to_string(p.toks, ' '), '') AS bpe_text,
  CAST(coalesce(len(p.toks), 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
""",
)
def bpe_apply(spark, sf_dir):
    """Tokenize every document with the rules bpe_merges learned
    (operators/text.bpe_apply_by_vocab): the merge list is the collected
    5-row model artifact; the greedy rule fold — the expensive part —
    runs once per DISTINCT word (guide §2.3 "shuffle fewer bytes" /
    SURVEY §4 dedup-before-expensive-work), then the token→word join
    maps every occurrence to its precomputed subwords and a per-document
    regroup reassembles the stream. Output is bit-for-bit the map-only
    fold's (shared `_bpe_word_subwords`; r11 measured ~3× on the bench
    corpus — tokens/vocab ≈ 35×). The oracle replays the ENTIRE
    train→apply path: it re-derives the merge rules with the trainer CTE
    chain (islands-and-parity greedy — proven fold-equivalent by the
    green bpe_merges entry) and maps each document's token stream
    through the post-merge vocabulary, so a diverged rule OR a diverged
    application anywhere breaks the hash. Subword stream serializes as a
    space-joined string (tokens are whitespace-split, so ' ' cannot
    occur inside a subword)."""
    d = table(spark, sf_dir, "documents")
    out = text.bpe_apply_by_vocab(d, _bpe_rules(spark, sf_dir), "doc_id", "text")
    return out.select(
        "doc_id",
        F.concat_ws(" ", "bpe_tokens").alias("bpe_text"),
        "n_tokens",
    )


# ---------------------------------------------------------------------------
# exact substring dedup (Lee et al. 2022 ExactSubstr, arXiv:2107.06499)
# ---------------------------------------------------------------------------

_ESS_MIN = 8  # anchor-window length at the fixture scale (paper uses 50)

# shared CTE chain: tokens -> sliding md5 window fingerprints -> fingerprints
# duplicated across >= 2 docs (with each fp's keeper = lowest doc_id)
_ESS_CTES = f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
win AS (
  SELECT doc_id, CAST(u.i AS INT) AS pos,
         md5(array_to_string(t[u.i+1:u.i+{_ESS_MIN}], ' ')) AS fp
  FROM tok, unnest(range(0, greatest(len(t) - {_ESS_MIN} + 1, 0))) AS u(i)
  WHERE len(t) >= {_ESS_MIN}
),
dup AS (
  SELECT fp, MIN(doc_id) AS keeper
  FROM win GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
)"""


def _ess_span_sql(keep_first: bool) -> str:
    """Gaps-and-islands span merge over the duplicated window positions
    (p merges into the open span iff p - prev < window length — exactly
    the fold in operators/dedup.exact_substring_spans)."""
    keeper_filter = "WHERE w.doc_id <> d.keeper" if keep_first else ""
    return f""",
dw AS (
  SELECT w.doc_id, w.pos FROM win w JOIN dup d USING (fp) {keeper_filter}
),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
              < {_ESS_MIN} THEN 0 ELSE 1 END AS brk
  FROM dw
),
grp AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM isl
),
spans AS (
  SELECT doc_id, CAST(min(pos) AS INT) AS span_start,
         CAST(max(pos) + {_ESS_MIN} AS INT) AS span_end
  FROM grp GROUP BY doc_id, g
)"""


@query(
    "exact_substring_spans",
    section="LLM-dedup exact-substring detection (Lee et al. 2022 "
    "ExactSubstr via anchor windows: sliding md5 fingerprints, one "
    "distinct-doc groupBy, islands merge to maximal spans; "
    "arXiv:2107.06499, no reference counterpart)",
    oracle=_ESS_CTES + _ess_span_sql(keep_first=False) + """
SELECT doc_id, span_start, span_end,
       span_end - span_start AS span_tokens
FROM spans
""",
)
def exact_substring_spans(spark, sf_dir):
    """Maximal cross-document duplicate substrings ≥ 8 tokens
    (operators/dedup.exact_substring_spans). The plan is the honest
    sub-quadratic shape: map-only window fingerprints, ONE
    partial-aggregated groupBy(fp), one keyed join back, one groupBy(doc)
    with an in-row interval-merge fold — no suffix array, no sort of the
    corpus, no candidate pair list. The oracle re-derives windows,
    duplicated fingerprints, and the islands merge relationally — a
    diverged tokenization, window hash, or merge boundary breaks the
    hash."""
    # widen_scan: the O(tokens x window) fingerprint map otherwise runs
    # on the single unsplittable input split (guide §2.5); span math is
    # partition-order-free (exact fingerprint aggregates)
    d = widen_scan(spark, table(spark, sf_dir, "documents"))
    return dedup.exact_substring_spans(d, "doc_id", "text",
                                       min_tokens=_ESS_MIN)


@query(
    "exact_substring_dedup",
    section="LLM-dedup exact-substring removal (the serving half: "
    "duplicated passages removed everywhere but one canonical keeper "
    "document; Lee et al. 2022 pre-training cleanup)",
    oracle=_ESS_CTES + _ess_span_sql(keep_first=True) + """,
tok_pos AS (
  SELECT doc_id, u.i AS i, u.w AS w
  FROM (SELECT doc_id,
          unnest(list_transform(range(0, len(t)),
                 i -> struct_pack(i := i, w := t[i+1]))) AS u
        FROM tok)
),
kept AS (
  SELECT tp.doc_id, tp.i, tp.w
  FROM tok_pos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tp.doc_id AND tp.i >= s.span_start AND tp.i < s.span_end
  )
),
agg AS (
  SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS clean_text
  FROM kept GROUP BY doc_id
),
removed AS (
  SELECT doc_id, SUM(span_end - span_start) AS n_removed FROM spans
  GROUP BY doc_id
)
SELECT t.doc_id,
  coalesce(a.clean_text, '') AS clean_text,
  CAST(len(t.t) AS BIGINT) AS n_tokens,
  CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed_tokens
FROM tok t
LEFT JOIN agg a ON a.doc_id = t.doc_id
LEFT JOIN removed r ON r.doc_id = t.doc_id
""",
)
def exact_substring_dedup(spark, sf_dir):
    """Documents rewritten with duplicated ≥8-token passages removed,
    one canonical copy kept corpus-wide (keeper = the fingerprint's
    lowest doc_id; operators/dedup.exact_substring_dedup). One extra
    left join over the span table + an in-row indexed filter — the
    corpus is re-read exactly once. The oracle replays span detection
    WITH the keeper rule and the positional token filter, so clean_text
    is compared verbatim."""
    d = widen_scan(spark, table(spark, sf_dir, "documents"))
    return dedup.exact_substring_dedup(d, "doc_id", "text",
                                       min_tokens=_ESS_MIN)


@query(
    "semdedup_ivf",
    section="LLM-dedup semantic, two-level assignment (SemDeDup with the "
    "IVF coarse->fine centroid argmax: assignment O(rows*sqrt(k)) instead "
    "of rows*k when k scales with the corpus; arXiv:2303.09540 + the "
    "FAISS IndexIVF coarse-quantizer pattern)",
    oracle=f"""
WITH e AS ({_IVF_E}),
nc AS (SELECT greatest(8, count(*) * 800 // 6000000) AS n FROM lineitem),
nco AS (SELECT greatest(3, CAST(ceil(sqrt(n)) AS BIGINT)) AS n2 FROM nc),
cent AS (
  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm FROM e
  WHERE vec_id < (SELECT n FROM nc)
),
coarse AS (
  SELECT vec_id AS coarse_id, embedding AS gvec, nrm AS gnrm FROM e
  WHERE vec_id < (SELECT n2 FROM nco)
),
centc AS (
  SELECT cent_id, cvec, cnrm, coarse_id FROM (
    SELECT f.cent_id, f.cvec, f.cnrm, g.coarse_id,
      row_number() OVER (
        PARTITION BY f.cent_id
        ORDER BY round(CAST({_DOT.format(a='f.cvec', b='g.gvec')} AS DOUBLE)
                       / (f.cnrm * g.gnrm), 6) DESC, g.coarse_id ASC
      ) AS rn
    FROM cent f CROSS JOIN coarse g
  ) WHERE rn = 1
),
rowc AS (
  SELECT vec_id, embedding, nrm, coarse_id FROM (
    SELECT x.vec_id, x.embedding, x.nrm, g.coarse_id,
      row_number() OVER (
        PARTITION BY x.vec_id
        ORDER BY round(CAST({_DOT.format(a='x.embedding', b='g.gvec')} AS DOUBLE)
                       / (x.nrm * g.gnrm), 6) DESC, g.coarse_id ASC
      ) AS rn
    FROM e x CROSS JOIN coarse g
  ) WHERE rn = 1
),
assign AS (
  -- in-cell candidates win when the cell is non-empty (the coarse-match
  -- DESC key); an EMPTY cell (rounded-tie coarse self-assignment, see
  -- two_level_assign) falls back to the flat fine argmax — the same
  -- coalesce the Spark side applies
  SELECT cent_id, vec_id, embedding, nrm FROM (
    SELECT c.cent_id, x.vec_id, x.embedding, x.nrm,
      row_number() OVER (
        PARTITION BY x.vec_id
        ORDER BY (c.coarse_id = x.coarse_id) DESC,
                 round(CAST({_DOT.format(a='x.embedding', b='c.cvec')} AS DOUBLE)
                       / (x.nrm * c.cnrm), 6) DESC, c.cent_id ASC
      ) AS rn
    FROM rowc x CROSS JOIN centc c
  ) WHERE rn = 1
),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE round(CAST({_DOT.format(a='a.embedding', b='b.embedding')} AS DOUBLE)
              / (a.nrm * b.nrm), 6) >= 0.3
)
SELECT a.vec_id, CAST(a.cent_id AS BIGINT) AS cent_id,
  (d.vec_id IS NOT NULL) AS is_dup
FROM assign a LEFT JOIN dup d ON d.vec_id = a.vec_id
""",
)
def semdedup_ivf(spark, sf_dir):
    """SemDeDup with the two-level coarse->fine assignment
    (operators/similarity.semdedup_ivf) — the scale path SF1.md's
    distinct-corpus probe demanded: flat assignment is rows x k dots and
    k scales with the corpus (paper prescription), making assignment
    quadratic-in-sf; routing through ceil(sqrt(k)) coarse cells makes it
    O(rows*sqrt(k)) with every stage still map-only against broadcast
    1-row centroid arrays. Cluster membership may differ from `semdedup`
    at coarse-cell boundaries (standard IVF approximation); the pruning
    rule is identical. The oracle replays BOTH argmax levels (fine->
    coarse, row->coarse, row->fine-within-cell) and the within-cluster
    prune relationally — same rounded-cosine and id-asc tie-breaks."""
    import math as _math
    import re as _re

    m = _re.search(r"sf([0-9.]+)", sf_dir or "")
    sf = float(m.group(1)) if m else 0.01
    k = max(8, int(800 * sf))
    emb = table(spark, sf_dir, "embeddings")
    out = similarity.semdedup_ivf(
        emb, "vec_id", "embedding", threshold=0.3,
        num_centroids=k, num_coarse=max(3, _math.ceil(_math.sqrt(k))),
    )
    return out.select("vec_id", F.col("cent_id").cast("long").alias("cent_id"),
                      "is_dup")


@query(
    "semdedup_incremental",
    section="LLM-dedup semantic INCREMENTAL (a new batch deduped against "
    "the existing corpus on its frozen centroid/assignment tables — the "
    "daily-ingest mirror of semdedup, completing the incremental family "
    "with exact_dedup_incremental and minhash_neardup_incremental; "
    "two-level O(rows*sqrt(k)) assignment shared by both sides)",
    oracle=f"""
WITH e AS ({_IVF_E}),
nc AS (SELECT greatest(8, count(*) * 800 // 6000000) AS n FROM lineitem),
nco AS (SELECT greatest(3, CAST(ceil(sqrt(n)) AS BIGINT)) AS n2 FROM nc),
corpus AS (SELECT * FROM e WHERE vec_id % 4 <> 0),
batch AS (SELECT * FROM e WHERE vec_id % 4 = 0),
cent AS (
  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm FROM corpus
  WHERE vec_id < (SELECT n FROM nc)
),
coarse AS (
  SELECT vec_id AS coarse_id, embedding AS gvec, nrm AS gnrm FROM corpus
  WHERE vec_id < (SELECT n2 FROM nco)
),
centc AS (
  SELECT cent_id, cvec, cnrm, coarse_id FROM (
    SELECT f.cent_id, f.cvec, f.cnrm, g.coarse_id,
      row_number() OVER (
        PARTITION BY f.cent_id
        ORDER BY round(CAST({_DOT.format(a='f.cvec', b='g.gvec')} AS DOUBLE)
                       / (f.cnrm * g.gnrm), 6) DESC, g.coarse_id ASC
      ) AS rn
    FROM cent f CROSS JOIN coarse g
  ) WHERE rn = 1
),
rowc AS (
  SELECT vec_id, embedding, nrm, coarse_id FROM (
    SELECT x.vec_id, x.embedding, x.nrm, g.coarse_id,
      row_number() OVER (
        PARTITION BY x.vec_id
        ORDER BY round(CAST({_DOT.format(a='x.embedding', b='g.gvec')} AS DOUBLE)
                       / (x.nrm * g.gnrm), 6) DESC, g.coarse_id ASC
      ) AS rn
    FROM e x CROSS JOIN coarse g
  ) WHERE rn = 1
),
assign AS (
  -- fine argmax restricted to the row's coarse cell, flat fallback on
  -- an empty cell — identical to the semdedup_ivf oracle; computed for
  -- ALL vectors, then split corpus/batch below (both sides share one
  -- centroid artifact, so the argmax is the same expression)
  SELECT cent_id, vec_id, embedding, nrm FROM (
    SELECT c.cent_id, x.vec_id, x.embedding, x.nrm,
      row_number() OVER (
        PARTITION BY x.vec_id
        ORDER BY (c.coarse_id = x.coarse_id) DESC,
                 round(CAST({_DOT.format(a='x.embedding', b='c.cvec')} AS DOUBLE)
                       / (x.nrm * c.cnrm), 6) DESC, c.cent_id ASC
      ) AS rn
    FROM rowc x CROSS JOIN centc c
  ) WHERE rn = 1
),
cassign AS (SELECT * FROM assign WHERE vec_id % 4 <> 0),
bassign AS (SELECT * FROM assign WHERE vec_id % 4 = 0),
dup AS (
  -- corpus always wins (no id ordering) ...
  SELECT DISTINCT b.vec_id
  FROM bassign b JOIN cassign a ON a.cent_id = b.cent_id
  WHERE round(CAST({_DOT.format(a='a.embedding', b='b.embedding')} AS DOUBLE)
              / (a.nrm * b.nrm), 6) >= 0.3
  UNION
  -- ... plus the standard lower-id rule within the batch
  SELECT DISTINCT b.vec_id
  FROM bassign b JOIN bassign a
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE round(CAST({_DOT.format(a='a.embedding', b='b.embedding')} AS DOUBLE)
              / (a.nrm * b.nrm), 6) >= 0.3
)
SELECT b.vec_id, CAST(b.cent_id AS BIGINT) AS cent_id,
  (d.vec_id IS NOT NULL) AS is_dup
FROM bassign b LEFT JOIN dup d ON d.vec_id = b.vec_id
""",
)
def semdedup_incremental(spark, sf_dir):
    """Incremental SemDeDup (operators/similarity.semdedup_incremental):
    the embeddings table splits into an existing corpus (vec_id % 4 != 0)
    and today's batch (% 4 == 0); the batch is assigned map-only to the
    CORPUS's frozen centroid array and pruned against (a) same-cluster
    corpus vectors — the corpus always wins, no id ordering — and (b)
    lower-id same-cluster batch vectors. The corpus is never reassigned
    or rewritten: at 100 TB its centroid + assignment tables are
    maintained at ingest (the ivf_assign recompute stands in for reading
    them), and both prune joins are keyed on cent_id with the small
    batch side broadcast. The oracle replays both argmaxes and both
    prune rules relationally. num_centroids scales with the corpus
    exactly as the semdedup entry documents, and assignment routes
    through the two-level coarse→fine artifact (one artifact SHARED by
    corpus and batch, so membership agrees across the boundary) —
    O(rows·√k) like semdedup_ivf, so the entry stays linear-ish when k
    grows with the corpus."""
    import math as _math
    import re as _re

    m = _re.search(r"sf([0-9.]+)", sf_dir or "")
    sf = float(m.group(1)) if m else 0.01
    k = max(8, int(800 * sf))
    emb = table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    out = similarity.semdedup_incremental(
        batch, corpus, "vec_id", "embedding",
        threshold=0.3, num_centroids=k,
        num_coarse=max(3, _math.ceil(_math.sqrt(k))),
    )
    return out.select(
        "vec_id", F.col("cent_id").cast("long").alias("cent_id"), "is_dup"
    )


# ---------------------------------------------------------------------------
# END-TO-END tokenizer serving pipeline: exact-substring dedup -> length
# gate -> BPE train on the CLEANED corpus -> BPE apply -> sequence packing
# ---------------------------------------------------------------------------

_TPP_MIN_TOKENS = 5     # post-dedup length gate
_TPP_BUDGET = 128       # pack budget (BPE tokens)

_TPP_RULES_CACHE: dict[str, list] = {}


def _tpp_kept(spark, sf_dir):
    """The pipeline's shared front half: duplicated passages removed
    (keep-one, anchor window 8), then the post-removal length gate."""
    # widen_scan: the same O(tokens x window) fingerprint map the
    # standalone exact_substring entries widen (r11 change #5) — without
    # it the pipeline's whole dedup front half serializes on the single
    # scan split. Downstream is partition-order-free: per-doc span rows,
    # doc_id-keyed regroups, and the packer re-orders by md5(doc_id).
    d = widen_scan(spark, table(spark, sf_dir, "documents"))
    cleaned = dedup.exact_substring_dedup(d, "doc_id", "text",
                                          min_tokens=_ESS_MIN)
    return cleaned.filter(
        (F.col("n_tokens") - F.col("n_removed_tokens")) >= _TPP_MIN_TOKENS
    )


@query(
    "tokenize_pack_pipeline",
    prewarm=True,
    section="LLM-pipeline END-TO-END tokenizer serving composition: "
    "exact-substring dedup (keep-one) -> post-removal length gate -> BPE "
    "trained on the CLEANED corpus -> map-only BPE apply -> zero-padding "
    "sequence packing, with a pipeline-level (not per-operator) oracle",
    oracle=_ESS_CTES + _ess_span_sql(keep_first=True) + f""",
tok_pos AS (
  SELECT doc_id, u.i AS i, u.w AS w
  FROM (SELECT doc_id,
          unnest(list_transform(range(1, len(t)+1),
                 i -> struct_pack(i := i, w := t[i]))) AS u
        FROM tok)
),
kept0 AS (
  SELECT tp.doc_id, tp.i, tp.w
  FROM tok_pos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tp.doc_id AND tp.i >= s.span_start AND tp.i < s.span_end
  )
),
clean AS (SELECT doc_id, list(w ORDER BY i) AS ct FROM kept0 GROUP BY doc_id),
kept AS MATERIALIZED (
  -- MATERIALIZED is load-bearing: the 5 trainer rounds below reference
  -- their predecessors with fan-out, and DuckDB's default CTE inlining
  -- would re-evaluate the whole dedup front half (windows -> spans ->
  -- NOT EXISTS removal) an exponential number of times — measured as a
  -- >10 min oracle at sf0.01 vs seconds with the boundary pinned.
  SELECT doc_id, ct FROM clean WHERE len(ct) >= {_TPP_MIN_TOKENS}
),
w0 AS (
  SELECT word, COUNT(*) AS freq
  FROM (SELECT unnest(ct) AS word FROM kept) GROUP BY word
),
words1 AS (
  SELECT word, freq,
    list_transform(range(1, len(word)+1), i -> word[i]) AS syms
  FROM w0
),""" + ",".join(_bpe_round_ctes(r) for r in range(1, _BPE_ROUNDS + 1)) + f""",
dtok_pos AS (
  SELECT doc_id, u.i AS i, u.w AS w
  FROM (SELECT doc_id,
          unnest(list_transform(range(1, len(ct)+1),
                 i -> struct_pack(i := i, w := ct[i]))) AS u
        FROM kept)
),
sub AS (
  SELECT dp.doc_id, dp.i, wv.syms
  FROM dtok_pos dp JOIN words{_BPE_ROUNDS + 1} wv ON wv.word = dp.w
),
nbpe AS (
  SELECT doc_id, CAST(SUM(len(syms)) AS BIGINT) AS n
  FROM sub GROUP BY doc_id
),
cum AS (
  SELECT doc_id, n,
    CAST(COALESCE(SUM(n) OVER (
      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS g0
  FROM nbpe WHERE n > 0
),
seg AS (
  SELECT doc_id, g0, g0 + n AS g1,
    unnest(range(g0 // {_TPP_BUDGET}, (g0 + n - 1) // {_TPP_BUDGET} + 1)) AS p
  FROM cum
)
SELECT doc_id,
  CAST(p AS BIGINT) AS pack_id,
  CAST(greatest(g0, p * {_TPP_BUDGET}) - p * {_TPP_BUDGET} AS BIGINT) AS pack_pos,
  CAST(greatest(g0, p * {_TPP_BUDGET}) - g0 AS BIGINT) AS doc_offset,
  CAST(least(g1, (p + 1) * {_TPP_BUDGET})
       - greatest(g0, p * {_TPP_BUDGET}) AS BIGINT) AS seg_len
FROM seg
""",
)
def tokenize_pack_pipeline(spark, sf_dir):
    """The serving half of a pretraining data pipeline as ONE composed
    flow: exact_substring_dedup (keep-one canonical copy, window 8) ->
    drop documents left with < 5 tokens -> train BPE merges ON THE
    CLEANED corpus (rules differ from the raw-corpus bpe_merges rules
    whenever dedup removed a dominant pair — the composition is what is
    being certified) -> map-only bpe_apply -> pack the BPE token counts
    into 128-token training sequences (concatenate-and-chop, zero
    padding). The oracle replays the ENTIRE chain relationally: span
    detection with the keeper rule, positional removal, the length
    gate, all 5 trainer rounds over the cleaned corpus, vocabulary
    substitution, and the deterministic md5-ordered prefix-sum packing
    — a divergence in ANY stage breaks the hash. Like bpe_apply, the
    trained rule list (a ≤5-row model artifact) is collected once per
    sf_dir and memoized."""
    # one checkpoint per invocation: the dedup front half feeds BOTH the
    # trainer (a collect at construction time, like bpe_apply's rule
    # memoization) and the serve plan — without it the expensive
    # span-removal subtree executes twice per run
    kept = _tpp_kept(spark, sf_dir).localCheckpoint(eager=True)
    if sf_dir not in _TPP_RULES_CACHE:
        rows = text.bpe_train(kept, "clean_text", rounds=_BPE_ROUNDS).collect()
        rows.sort(key=lambda r: r["round"])
        _TPP_RULES_CACHE[sf_dir] = [(r["p1"], r["p2"]) for r in rows]
    # vocab-factored apply: the rule fold runs |vocab| times, not
    # |tokens| times — measured ~3x on this entry (the pipeline already
    # shuffles, so the regroup is not a new cost class)
    applied = text.bpe_apply_by_vocab(
        kept, _TPP_RULES_CACHE[sf_dir], "doc_id", "clean_text"
    )
    from furchild_spark.operators.batching import pack_sequences

    return pack_sequences(applied, "doc_id", "n_tokens", budget=_TPP_BUDGET)


@query(
    "training_shards_e2e",
    section=(
        "LLM-batching final mile: packed 512-token sequences assigned "
        "round-robin to 8 training shards and WRITTEN as a "
        "shard-partitioned parquet layout (one dir per shard = one "
        "reader stream per data-loader rank); returns the per-shard "
        "manifest read back from the files on disk, proving layout and "
        "token accounting survive the write path"
    ),
    oracle="""
WITH tok AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n,
    md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents WHERE length(text) > 0
),
cum AS (
  SELECT doc_id, n,
    CAST(COALESCE(SUM(n) OVER (ORDER BY h ASC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS g0
  FROM tok
),
seg AS (
  SELECT doc_id, g0, g0 + n AS g1,
    unnest(range(g0 // 512, (g0 + n - 1) // 512 + 1)) AS p
  FROM cum
)
SELECT CAST(p % 8 AS BIGINT) AS shard,
  CAST(COUNT(DISTINCT p) AS BIGINT) AS n_packs,
  CAST(COUNT(*) AS BIGINT) AS n_segments,
  CAST(SUM(least(g1, (p + 1) * 512) - greatest(g0, p * 512)) AS BIGINT)
    AS n_tokens
FROM seg GROUP BY 1
""",
)
def training_shards_e2e(spark, sf_dir):
    """The step after packing: distribute packs across 8 shards by
    ``pack_id % 8`` (round-robin over CONSECUTIVE pack ids — each shard
    gets an equal share of every corpus region, and a data-loader rank
    streams exactly one dir), write the layout with a real partitioned
    parquet write, and rebuild the manifest FROM DISK. Round-robin, not
    hash: pack ids are already a dense deterministic sequence, so the
    modulus is free, perfectly balanced (max-min ≤ 1 pack), and
    preserves within-shard pack order for sequential reads. At 100 TB
    the same write is ``partitionBy(shard)`` into object storage; the
    manifest agg reads footers' worth of data, not the corpus."""
    import tempfile as _tf

    from furchild_spark.operators.batching import pack_sequences

    d = table(spark, sf_dir, "documents").withColumn(
        "doc_len", F.length("text").cast("long")
    )
    packs = pack_sequences(d, "doc_id", "doc_len", budget=512)
    sharded = packs.withColumn(
        "shard", (F.col("pack_id") % F.lit(8)).cast("long")
    )
    out = _tf.mkdtemp(prefix="furchild_shards_e2e_") + "/shards"
    sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy("shard")
        .agg(
            F.countDistinct("pack_id").cast("long").alias("n_packs"),
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("seg_len").cast("long").alias("n_tokens"),
        )
        .select(F.col("shard").cast("long").alias("shard"),
                "n_packs", "n_segments", "n_tokens")
    )


@query(
    "wordpiece_tokenize",
    section=(
        "LLM-tokenizer WordPiece family (Wu et al. 2016, "
        "arXiv:1609.08144 §4.1): frequency-thresholded piece vocabulary "
        "+ greedy longest-match-first segmentation — the BERT-style "
        "counterpart to the BPE pair-merge family; vocab bounded by "
        "construction (a piece needs 1/500 of occurrence mass), apply "
        "map-only via an in-row fold against per-length broadcast "
        "arrays"
    ),
    oracle=f"""
WITH RECURSIVE tok AS (
  SELECT unnest({_TOKS}) AS word FROM documents
),
wc AS (SELECT word, COUNT(*) AS wc FROM tok GROUP BY word),
tot AS (SELECT SUM(wc) AS total FROM wc),
pos AS (
  SELECT word, wc, unnest(range(1, length(word) + 1)) AS i FROM wc
),
sub AS (
  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
         SUM(wc) AS cnt
  FROM pos, (VALUES (1), (2), (3), (4)) ll(l)
  WHERE i + l - 1 <= length(word)
  GROUP BY 1
),
vocab AS (
  SELECT piece FROM sub CROSS JOIN tot
  WHERE length(piece) = 1 OR cnt * 500 >= total
),
words AS (SELECT word, wc FROM wc ORDER BY wc DESC, word ASC LIMIT 100),
seg(word, pos, ps) AS (
  SELECT word, 0, CAST([] AS VARCHAR[]) FROM words
  UNION ALL
  SELECT word, pos + length(pc), list_append(ps, pc) FROM (
    SELECT word, pos, ps,
      CASE WHEN substr(word, pos + 1, 4) IN
             (SELECT piece FROM vocab WHERE length(piece) = 4)
           THEN substr(word, pos + 1, 4)
           WHEN substr(word, pos + 1, 3) IN
             (SELECT piece FROM vocab WHERE length(piece) = 3)
           THEN substr(word, pos + 1, 3)
           WHEN substr(word, pos + 1, 2) IN
             (SELECT piece FROM vocab WHERE length(piece) = 2)
           THEN substr(word, pos + 1, 2)
           ELSE substr(word, pos + 1, 1) END AS pc
    FROM seg WHERE pos < length(word)
  ) s
)
SELECT w.word, CAST(w.wc AS BIGINT) AS wc,
  CAST(len(s.ps) AS BIGINT) AS n_pieces,
  array_to_string(s.ps, '+') AS seg
FROM words w JOIN seg s ON s.word = w.word AND s.pos = length(w.word)
""",
)
def wordpiece_tokenize(spark, sf_dir):
    """Tokenize the 100 most frequent word types with a corpus-derived
    WordPiece vocabulary (operators/text.wordpiece_vocab + _apply):
    vocabulary = every substring of length ≤ 4 holding ≥ 1/500 of total
    word-occurrence mass, plus all single characters (segmentation can
    never get stuck — no tie-break is needed anywhere because each
    (position, length) has exactly ONE candidate substring). The Spark
    walk is an in-row aggregate fold per word type against per-length
    broadcast vocab arrays; the oracle replays vocabulary induction
    relationally and the greedy walk as a recursive CTE, one step per
    emitted piece."""
    from furchild_spark.operators.text import (
        tokens, wordpiece_apply, wordpiece_vocab,
    )

    d = table(spark, sf_dir, "documents")
    vocab = wordpiece_vocab(d, "text", max_piece_len=4, min_frac=1 / 500)
    wc = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    top = wc.orderBy(F.desc("wc"), F.asc("word")).limit(100)
    out = wordpiece_apply(top, vocab.select("piece"), "word")
    return out.select(
        "word",
        F.col("wc").cast("long").alias("wc"),
        "n_pieces",
        F.array_join("pieces", "+").alias("seg"),
    )


@query(
    "unigram_tokenize",
    section=(
        "LLM-tokenizer Unigram-LM family (Kudo 2018, arXiv:1804.10959 / "
        "SentencePiece): exact Viterbi segmentation under piece "
        "log-probabilities — completes the tokenizer trio with BPE "
        "(merge rules) and WordPiece (greedy longest-match); the DP "
        "carries a ROLLING window of the last 4 (dp, path) states, so "
        "Spark runs it as one in-row fold and the oracle as a "
        "single-row-per-word recursive CTE"
    ),
    oracle=f"""
WITH RECURSIVE tok AS (
  SELECT unnest({_TOKS}) AS word FROM documents
),
wc AS (SELECT word, COUNT(*) AS wc FROM tok GROUP BY word),
tot AS (SELECT SUM(wc) AS total FROM wc),
pos AS (
  SELECT word, wc, unnest(range(1, length(word) + 1)) AS i FROM wc
),
sub AS (
  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
         SUM(wc) AS cnt
  FROM pos, (VALUES (1), (2), (3), (4)) ll(l)
  WHERE i + l - 1 <= length(word)
  GROUP BY 1
),
vocab AS (
  SELECT piece, cnt FROM sub CROSS JOIN tot
  WHERE length(piece) = 1 OR cnt * 500 >= total
),
tm AS (SELECT SUM(cnt) AS tm FROM vocab),
vp AS (
  SELECT piece,
    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(tm AS DOUBLE)), 6)
         AS DECIMAL(18,6)) AS score
  FROM vocab CROSS JOIN tm
),
words AS (SELECT word, wc FROM wc ORDER BY wc DESC, word ASC LIMIT 100),
seg(word, i, d1, d2, d3, d4, s1, s2, s3, s4) AS (
  SELECT word, 0,
    CAST(0 AS DECIMAL(18,6)), CAST(NULL AS DECIMAL(18,6)),
    CAST(NULL AS DECIMAL(18,6)), CAST(NULL AS DECIMAL(18,6)),
    '', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
    CAST(NULL AS VARCHAR)
  FROM words
  UNION ALL
  SELECT word, i + 1,
    CAST(CASE lbest WHEN 4 THEN c4 WHEN 3 THEN c3 WHEN 2 THEN c2
         ELSE c1 END AS DECIMAL(18,6)),
    d1, d2, d3,
    CASE lbest WHEN 4 THEN g4 WHEN 3 THEN g3 WHEN 2 THEN g2 ELSE g1 END,
    s1, s2, s3
  FROM (
    SELECT *,
      CASE WHEN c4 IS NOT NULL AND (c3 IS NULL OR c4 >= c3)
                AND (c2 IS NULL OR c4 >= c2) AND c4 >= c1 THEN 4
           WHEN c3 IS NOT NULL AND (c2 IS NULL OR c3 >= c2)
                AND c3 >= c1 THEN 3
           WHEN c2 IS NOT NULL AND c2 >= c1 THEN 2
           ELSE 1 END AS lbest
    FROM (
      SELECT word, i, d1, d2, d3, d4, s1, s2, s3, s4,
        d1 + (SELECT score FROM vp
              WHERE piece = substr(word, i + 1, 1)) AS c1,
        CASE WHEN d2 IS NOT NULL THEN d2 + (SELECT score FROM vp
             WHERE piece = substr(word, i, 2)) END AS c2,
        CASE WHEN d3 IS NOT NULL THEN d3 + (SELECT score FROM vp
             WHERE piece = substr(word, i - 1, 3)) END AS c3,
        CASE WHEN d4 IS NOT NULL THEN d4 + (SELECT score FROM vp
             WHERE piece = substr(word, i - 2, 4)) END AS c4,
        CASE WHEN s1 = '' THEN substr(word, i + 1, 1)
             ELSE s1 || chr(31) || substr(word, i + 1, 1) END AS g1,
        CASE WHEN s2 = '' THEN substr(word, i, 2)
             ELSE s2 || chr(31) || substr(word, i, 2) END AS g2,
        CASE WHEN s3 = '' THEN substr(word, i - 1, 3)
             ELSE s3 || chr(31) || substr(word, i - 1, 3) END AS g3,
        CASE WHEN s4 = '' THEN substr(word, i - 2, 4)
             ELSE s4 || chr(31) || substr(word, i - 2, 4) END AS g4
      FROM seg WHERE i < length(word)
    ) x
  ) y
)
SELECT w.word, CAST(w.wc AS BIGINT) AS wc,
  CAST(len(string_split(s.s1, chr(31))) AS BIGINT) AS n_pieces,
  array_to_string(string_split(s.s1, chr(31)), '+') AS seg,
  CAST(s.d1 AS DOUBLE) AS logp
FROM words w JOIN seg s ON s.word = w.word AND s.i = length(w.word)
""",
)
def unigram_tokenize(spark, sf_dir):
    """Viterbi-tokenize the 100 most frequent word types under the
    corpus-derived unigram piece model (operators/text.unigram_scores +
    unigram_apply): the piece sequence maximizing summed exact-decimal
    log-probability, ties to the longer last piece. Same vocabulary
    inventory as wordpiece_tokenize, so the two entries together show
    where likelihood decoding and greedy decoding disagree. The oracle
    carries the DP's rolling 4-state window as recursive-CTE columns —
    one row per (word, position), no per-cell table."""
    from furchild_spark.operators.text import (
        tokens, unigram_apply, unigram_scores,
    )

    d = table(spark, sf_dir, "documents")
    sc = unigram_scores(d, "text", max_piece_len=4, min_frac=1 / 500)
    wc = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    top = wc.orderBy(F.desc("wc"), F.asc("word")).limit(100)
    out = unigram_apply(top, sc, "word")
    return out.select(
        "word",
        F.col("wc").cast("long").alias("wc"),
        "n_pieces",
        F.array_join("pieces", "+").alias("seg"),
        "logp",
    )


def _power_round(k: int) -> str:
    """One power-iteration round: exact integer mat-vec twice, then the
    signed-pivot L∞ renormalization at scale 3."""
    # u{k} is referenced twice (pivot + renormalize) and w{k+1} feeds the
    # whole next round: MATERIALIZED stops DuckDB's CTE inlining from
    # re-evaluating the entire prefix chain per reference (2^rounds
    # blowup without it)
    return f"""
s{k} AS MATERIALIZED (
  SELECT e.vec_id, SUM(e.q[w.d] * w.w) AS s
  FROM emb_q e CROSS JOIN w{k} w GROUP BY e.vec_id
),
u{k} AS MATERIALIZED (
  SELECT dm.d, SUM(e.q[dm.d] * s.s) AS u
  FROM s{k} s JOIN emb_q e USING (vec_id) CROSS JOIN dims dm
  GROUP BY dm.d
),
p{k} AS MATERIALIZED (
  SELECT u AS up FROM u{k} ORDER BY abs(u) DESC, d ASC LIMIT 1
),
w{k + 1} AS MATERIALIZED (
  SELECT d, CAST(round(CAST(u AS DOUBLE) / CAST((SELECT up FROM p{k}) AS DOUBLE)
                 * 1000.0, 0) AS BIGINT) AS w
  FROM u{k}
)"""


_POWER_ROUNDS = 8
_POWER_PREFIX = (
    """
WITH emb_q AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,3)) * 1000 AS BIGINT)
    ) AS q
  FROM embeddings
),
dims AS (SELECT unnest(range(1, 65)) AS d),
w0 AS (SELECT d, CASE WHEN d = 1 THEN 1000 ELSE 0 END AS w FROM dims),"""
    + ",".join(_power_round(k) for k in range(_POWER_ROUNDS))
)
_POWER_ORACLE = _POWER_PREFIX + f"""
SELECT CAST(d AS BIGINT) AS dim,
  round(CAST(u AS DOUBLE)
        / CAST((SELECT up FROM p{_POWER_ROUNDS - 1}) AS DOUBLE), 6) AS loading
FROM u{_POWER_ROUNDS - 1}
"""


@query(
    "embedding_pca_direction",
    section=(
        "LLM-embedding spectral diagnostics: dominant direction of the "
        "corpus second-moment matrix (uncentered PCA) by 8 power-"
        "iteration rounds — the anisotropy/common-direction statistic "
        "of 'all-but-the-top' embedding post-processing "
        "(arXiv:1702.01417); exact integer mat-vecs on scale-3 "
        "quantized longs, signed-pivot L-inf renormalization, so a "
        "SPECTRAL op survives the value-hash gate"
    ),
    oracle=_POWER_ORACLE,
)
def embedding_pca_direction(spark, sf_dir):
    """8 rounds of power iteration over the embeddings table
    (operators/similarity.power_iteration_top_direction): per round one
    map-only in-row dot + one 64-group aggregate; the direction vector
    is the 64-long driver artifact (k-means-centroid pattern). The
    oracle unrolls all 8 rounds relationally — both mat-vec sums are
    exact integers, the one division per round is doubles-from-exact-
    longs, so every engine computes the identical iterate."""
    from furchild_spark.operators.similarity import (
        power_iteration_top_direction,
    )

    emb = table(spark, sf_dir, "embeddings")
    return power_iteration_top_direction(
        emb, "vec_id", "embedding", rounds=8
    )


_DEBIAS_ORACLE = _POWER_PREFIX + f"""
, v AS MATERIALIZED (
  SELECT d,
    CAST(round(CAST(u AS DOUBLE)
               / CAST((SELECT up FROM p{_POWER_ROUNDS - 1}) AS DOUBLE), 6)
         AS DECIMAL(18,6)) AS vd
  FROM u{_POWER_ROUNDS - 1}
),
gsum AS MATERIALIZED (SELECT SUM(vd * vd) AS g FROM v),
pv AS (
  SELECT e.vec_id,
    SUM(e.q[v.d] * v.vd) AS a,
    SUM(e.q[v.d] * e.q[v.d]) AS qq
  FROM emb_q e CROSS JOIN v GROUP BY e.vec_id
)
SELECT vec_id,
  round(CAST(a AS DOUBLE) / 1000.0 / CAST(g AS DOUBLE), 6) AS proj_coef,
  round(1.0 - (CAST(a AS DOUBLE) / 1000.0 / CAST(g AS DOUBLE))
              * (2.0 * CAST(a AS DOUBLE) / 1000.0
                 - (CAST(a AS DOUBLE) / 1000.0 / CAST(g AS DOUBLE))
                   * CAST(g AS DOUBLE))
              / (CAST(qq AS DOUBLE) / 1000000.0), 6) AS retained
FROM pv CROSS JOIN gsum
"""


@query(
    "embedding_debias_report",
    section=(
        "LLM-embedding 'all-but-the-top' common-direction removal "
        "(arXiv:1702.01417) APPLIED: per-vector projection coefficient "
        "onto the power-iteration dominant direction and the energy "
        "retained after removal — map-only against a driver-held "
        "direction (the centroid pattern), exact decimal/long "
        "accumulations under one fixed IEEE expression"
    ),
    oracle=_DEBIAS_ORACLE,
)
def embedding_debias_report(spark, sf_dir):
    """Compute the dominant direction (8 power rounds, the
    embedding_pca_direction artifact), then report x' = x − c·v per
    vector: ``proj_coef = (x·v)/(v·v)`` and ``retained = ‖x'‖²/‖x‖²``.
    An anisotropic corpus shows mean retained ≪ 1 — the diagnostic that
    motivates removing the common direction before cosine retrieval.
    The oracle replays the full iteration chain and the report's exact
    accumulations in one statement."""
    from furchild_spark.operators.similarity import (
        power_iteration_top_direction,
        remove_top_direction_report,
    )

    emb = table(spark, sf_dir, "embeddings")
    v = power_iteration_top_direction(
        emb, "vec_id", "embedding", rounds=8
    ).orderBy("dim").collect()
    loadings = [r["loading"] for r in v]
    return remove_top_direction_report(emb, loadings, "vec_id", "embedding")


def _useg(seg: str, words: str, vp: str) -> str:
    """The Viterbi recursive-CTE fragment, parametrized by (seg CTE name,
    words CTE to seed from, score CTE to decode under) so the EM entry
    can run it twice — E-step over every word type under the seed scores,
    then the final decode under the re-estimated pruned scores."""
    return f"""{seg}(word, i, d1, d2, d3, d4, s1, s2, s3, s4) AS (
  SELECT word, 0,
    CAST(0 AS DECIMAL(18,6)), CAST(NULL AS DECIMAL(18,6)),
    CAST(NULL AS DECIMAL(18,6)), CAST(NULL AS DECIMAL(18,6)),
    '', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
    CAST(NULL AS VARCHAR)
  FROM {words}
  UNION ALL
  SELECT word, i + 1,
    CAST(CASE lbest WHEN 4 THEN c4 WHEN 3 THEN c3 WHEN 2 THEN c2
         ELSE c1 END AS DECIMAL(18,6)),
    d1, d2, d3,
    CASE lbest WHEN 4 THEN g4 WHEN 3 THEN g3 WHEN 2 THEN g2 ELSE g1 END,
    s1, s2, s3
  FROM (
    SELECT *,
      CASE WHEN c4 IS NOT NULL AND (c3 IS NULL OR c4 >= c3)
                AND (c2 IS NULL OR c4 >= c2) AND c4 >= c1 THEN 4
           WHEN c3 IS NOT NULL AND (c2 IS NULL OR c3 >= c2)
                AND c3 >= c1 THEN 3
           WHEN c2 IS NOT NULL AND c2 >= c1 THEN 2
           ELSE 1 END AS lbest
    FROM (
      SELECT word, i, d1, d2, d3, d4, s1, s2, s3, s4,
        d1 + (SELECT score FROM {vp}
              WHERE piece = substr(word, i + 1, 1)) AS c1,
        CASE WHEN d2 IS NOT NULL THEN d2 + (SELECT score FROM {vp}
             WHERE piece = substr(word, i, 2)) END AS c2,
        CASE WHEN d3 IS NOT NULL THEN d3 + (SELECT score FROM {vp}
             WHERE piece = substr(word, i - 1, 3)) END AS c3,
        CASE WHEN d4 IS NOT NULL THEN d4 + (SELECT score FROM {vp}
             WHERE piece = substr(word, i - 2, 4)) END AS c4,
        CASE WHEN s1 = '' THEN substr(word, i + 1, 1)
             ELSE s1 || chr(31) || substr(word, i + 1, 1) END AS g1,
        CASE WHEN s2 = '' THEN substr(word, i, 2)
             ELSE s2 || chr(31) || substr(word, i, 2) END AS g2,
        CASE WHEN s3 = '' THEN substr(word, i - 1, 3)
             ELSE s3 || chr(31) || substr(word, i - 1, 3) END AS g3,
        CASE WHEN s4 = '' THEN substr(word, i - 2, 4)
             ELSE s4 || chr(31) || substr(word, i - 2, 4) END AS g4
      FROM {seg} WHERE i < length(word)
    ) x
  ) y
)"""


def _useg_join(seg: str, words: str, vp: str) -> str:
    """The Viterbi fragment with the four piece-score lookups as LEFT
    JOINs instead of correlated scalar subqueries. Needed when ``vp``
    sits on a DEEP CTE chain (e.g. it is itself derived from a previous
    Viterbi pass): DuckDB re-evaluates a correlated subquery's whole
    chain per row per recursion step — two chained EM rounds nest that
    re-evaluation exponentially — and marking the chain MATERIALIZED
    makes the correlated lookups silently mis-resolve inside the
    recursion (observed on 1.x: seg decodes to all-singles). Joins
    against MATERIALIZED inputs are both correct and O(rows)."""
    return f"""{seg}(word, i, d1, d2, d3, d4, s1, s2, s3, s4) AS (
  SELECT word, 0,
    CAST(0 AS DECIMAL(18,6)), CAST(NULL AS DECIMAL(18,6)),
    CAST(NULL AS DECIMAL(18,6)), CAST(NULL AS DECIMAL(18,6)),
    '', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
    CAST(NULL AS VARCHAR)
  FROM {words}
  UNION ALL
  SELECT word, i + 1,
    CAST(CASE lbest WHEN 4 THEN c4 WHEN 3 THEN c3 WHEN 2 THEN c2
         ELSE c1 END AS DECIMAL(18,6)),
    d1, d2, d3,
    CASE lbest WHEN 4 THEN g4 WHEN 3 THEN g3 WHEN 2 THEN g2 ELSE g1 END,
    s1, s2, s3
  FROM (
    SELECT *,
      CASE WHEN c4 IS NOT NULL AND (c3 IS NULL OR c4 >= c3)
                AND (c2 IS NULL OR c4 >= c2) AND c4 >= c1 THEN 4
           WHEN c3 IS NOT NULL AND (c2 IS NULL OR c3 >= c2)
                AND c3 >= c1 THEN 3
           WHEN c2 IS NOT NULL AND c2 >= c1 THEN 2
           ELSE 1 END AS lbest
    FROM (
      SELECT t.word, t.i, t.d1, t.d2, t.d3, t.d4,
        t.s1, t.s2, t.s3, t.s4,
        t.d1 + p1.score AS c1,
        CASE WHEN t.d2 IS NOT NULL THEN t.d2 + p2.score END AS c2,
        CASE WHEN t.d3 IS NOT NULL THEN t.d3 + p3.score END AS c3,
        CASE WHEN t.d4 IS NOT NULL THEN t.d4 + p4.score END AS c4,
        CASE WHEN t.s1 = '' THEN substr(t.word, t.i + 1, 1)
             ELSE t.s1 || chr(31) || substr(t.word, t.i + 1, 1) END AS g1,
        CASE WHEN t.s2 = '' THEN substr(t.word, t.i, 2)
             ELSE t.s2 || chr(31) || substr(t.word, t.i, 2) END AS g2,
        CASE WHEN t.s3 = '' THEN substr(t.word, t.i - 1, 3)
             ELSE t.s3 || chr(31) || substr(t.word, t.i - 1, 3) END AS g3,
        CASE WHEN t.s4 = '' THEN substr(t.word, t.i - 2, 4)
             ELSE t.s4 || chr(31) || substr(t.word, t.i - 2, 4) END AS g4
      FROM {seg} t
      LEFT JOIN {vp} p1 ON p1.piece = substr(t.word, t.i + 1, 1)
      LEFT JOIN {vp} p2 ON p2.piece = substr(t.word, t.i, 2)
      LEFT JOIN {vp} p3 ON p3.piece = substr(t.word, t.i - 1, 3)
      LEFT JOIN {vp} p4 ON p4.piece = substr(t.word, t.i - 2, 4)
      WHERE t.i < length(t.word)
    ) x
  ) y
)"""


@query(
    "unigram_tokenize_em",
    section=(
        "LLM-tokenizer Unigram-LM EM pruning round (Kudo 2018, "
        "arXiv:1804.10959 §3.2): hard-EM over the frequency-seeded vocab "
        "— Viterbi usage counts weighted by word-type frequency, piece "
        "probs re-estimated from the counts, bottom 20% of multi-char "
        "pieces pruned (single chars floored at usage 1) — then the "
        "top-100 word types decoded under the NEW scores; the oracle "
        "replays the full round with TWO recursive-CTE Viterbi passes"
    ),
    oracle=f"""
WITH RECURSIVE tok AS (
  SELECT unnest({_TOKS}) AS word FROM documents
),
wc AS (SELECT word, COUNT(*) AS wc FROM tok GROUP BY word),
tot AS (SELECT SUM(wc) AS total FROM wc),
pos AS (
  SELECT word, wc, unnest(range(1, length(word) + 1)) AS i FROM wc
),
sub AS (
  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
         SUM(wc) AS cnt
  FROM pos, (VALUES (1), (2), (3), (4)) ll(l)
  WHERE i + l - 1 <= length(word)
  GROUP BY 1
),
vocab AS (
  SELECT piece, cnt FROM sub CROSS JOIN tot
  WHERE length(piece) = 1 OR cnt * 500 >= total
),
tm AS (SELECT SUM(cnt) AS tm FROM vocab),
vp AS (
  SELECT piece,
    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(tm AS DOUBLE)), 6)
         AS DECIMAL(18,6)) AS score
  FROM vocab CROSS JOIN tm
),
{_useg("seg0", "wc", "vp")},
used AS (
  SELECT piece, SUM(wc) AS cnt FROM (
    SELECT w.wc, unnest(string_split(s.s1, chr(31))) AS piece
    FROM wc w JOIN seg0 s ON s.word = w.word AND s.i = length(w.word)
  ) GROUP BY 1
),
base AS (
  SELECT v.piece, COALESCE(u.cnt, 0) AS cnt
  FROM vocab v LEFT JOIN used u USING (piece)
),
singles AS (
  SELECT piece, GREATEST(cnt, 1) AS cnt FROM base WHERE length(piece) = 1
),
multis AS (
  SELECT piece, cnt,
    ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rn,
    COUNT(*) OVER () AS n
  FROM base WHERE length(piece) > 1 AND cnt > 0
),
vocab1 AS (
  SELECT piece, cnt FROM singles
  UNION ALL
  SELECT piece, cnt FROM multis WHERE rn * 100 <= n * 80
),
tm1 AS (SELECT SUM(cnt) AS tm FROM vocab1),
vp1 AS (
  SELECT piece,
    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(tm AS DOUBLE)), 6)
         AS DECIMAL(18,6)) AS score
  FROM vocab1 CROSS JOIN tm1
),
nvoc AS (SELECT COUNT(*) AS n_vocab FROM vocab1),
words AS (SELECT word, wc FROM wc ORDER BY wc DESC, word ASC LIMIT 100),
{_useg("seg1", "words", "vp1")}
SELECT w.word, CAST(w.wc AS BIGINT) AS wc,
  CAST(len(string_split(s.s1, chr(31))) AS BIGINT) AS n_pieces,
  array_to_string(string_split(s.s1, chr(31)), '+') AS seg,
  CAST(s.d1 AS DOUBLE) AS logp,
  CAST(nvoc.n_vocab AS BIGINT) AS n_vocab
FROM words w
JOIN seg1 s ON s.word = w.word AND s.i = length(w.word)
CROSS JOIN nvoc
""",
)
def unigram_tokenize_em(spark, sf_dir):
    """One hard-EM pruning round over the frequency-seeded unigram vocab
    (operators/text.unigram_em_round), then Viterbi-decode the 100 most
    frequent word types under the RE-ESTIMATED pruned scores. ``n_vocab``
    (constant column) pins the surviving vocabulary size into the hash,
    so the oracle proves the prune itself, not just the decode."""
    from furchild_spark.operators.text import (
        tokens, unigram_apply, unigram_em_round,
    )

    d = table(spark, sf_dir, "documents")
    s1 = unigram_em_round(d, "text", max_piece_len=4, min_frac=1 / 500,
                          keep_frac=0.8)
    nvoc = s1.agg(F.count(F.lit(1)).cast("long").alias("n_vocab"))
    wc = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    top = wc.orderBy(F.desc("wc"), F.asc("word")).limit(100)
    out = unigram_apply(top, s1, "word")
    return out.crossJoin(F.broadcast(nvoc)).select(
        "word",
        F.col("wc").cast("long").alias("wc"),
        "n_pieces",
        F.array_join("pieces", "+").alias("seg"),
        "logp",
        "n_vocab",
    )


@query(
    "ann_ivf_incremental",
    section=(
        "LLM-similarity MAINTAINED IVF index (FAISS train-once/add-many): "
        "build on the first half of the corpus, APPEND the second half by "
        "assigning only the batch against the FROZEN centroid artifact "
        "(O(batch), no retrain/reassign), search the maintained lists, "
        "and run the drift-triggered retrain hook; the oracle replays the "
        "batch assignment against the frozen centroids, the drift "
        "decision, and a brute-force recall tripwire per result row"
    ),
    oracle=f"""
WITH e AS ({_IVF_E}),
cent AS (
  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm
  FROM e WHERE vec_id < 8
),
asg AS (
  SELECT cent_id, neighbor_id, nvec, nnrm, sim AS cent_sim FROM (
    SELECT c.cent_id, x.vec_id AS neighbor_id, x.embedding AS nvec,
      x.nrm AS nnrm,
      round(CAST({_DOT.format(a='x.embedding', b='c.cvec')} AS DOUBLE)
            / (x.nrm * c.cnrm), 6) AS sim,
      row_number() OVER (
        PARTITION BY x.vec_id
        ORDER BY round(CAST({_DOT.format(a='x.embedding', b='c.cvec')} AS DOUBLE)
                       / (x.nrm * c.cnrm), 6) DESC, c.cent_id ASC
      ) AS rn
    FROM e x CROSS JOIN cent c
  ) WHERE rn = 1
),
-- the maintained lists are base-assign ∪ batch-assign against the SAME
-- frozen centroids (centroids come from vec_id < 8, all in the base half)
drift AS (
  SELECT COUNT(*) AS n_batch,
    SUM(CASE WHEN cent_sim < 0.5 THEN 1 ELSE 0 END) AS n_low
  FROM asg WHERE neighbor_id >= 250
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec, nrm AS qnrm
  FROM e WHERE vec_id < 10
),
probes AS (
  SELECT cent_id, query_id, qvec, qnrm FROM (
    SELECT c.cent_id, q.query_id, q.qvec, q.qnrm,
      row_number() OVER (
        PARTITION BY q.query_id
        ORDER BY round(CAST({_DOT.format(a='q.qvec', b='c.cvec')} AS DOUBLE)
                       / (q.qnrm * c.cnrm), 6) DESC, c.cent_id ASC
      ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.neighbor_id,
    round(CAST({_DOT.format(a='p.qvec', b='a.nvec')} AS DOUBLE)
          / (p.qnrm * a.nnrm), 6) AS sim
  FROM probes p JOIN asg a ON p.cent_id = a.cent_id
  WHERE p.query_id <> a.neighbor_id
),
ivf AS (
  SELECT query_id, rank, neighbor_id, sim FROM (
    SELECT query_id, neighbor_id, sim,
      row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
      ) AS rank
    FROM scored
  ) WHERE rank <= 5
),
bf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
      row_number() OVER (
        PARTITION BY q.query_id
        ORDER BY round(CAST({_DOT.format(a='q.qvec', b='c.embedding')} AS DOUBLE)
                       / (q.qnrm * c.nrm), 6) DESC, c.vec_id ASC
      ) AS rank
    FROM q CROSS JOIN e c WHERE q.query_id <> c.vec_id
  ) WHERE rank <= 5
)
SELECT i.query_id, CAST(i.rank AS BIGINT) AS rank, i.neighbor_id, i.sim,
  i.neighbor_id >= 250 AS from_batch,
  (b.neighbor_id IS NOT NULL) AS hit_exact,
  round(CAST(d.n_low AS DOUBLE) / CAST(d.n_batch AS DOUBLE), 6) AS low_frac,
  CAST(d.n_low AS DOUBLE) > CAST(d.n_batch AS DOUBLE) * 0.2 AS needs_retrain
FROM ivf i
LEFT JOIN bf b ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
CROSS JOIN drift d
""",
)
def ann_ivf_incremental(spark, sf_dir):
    """Maintained-IVF lifecycle (operators/similarity.index_* with
    ivf_flat_codec): build on vec_id < 250, index_append the rest
    (batch-only assignment against the frozen on-disk centroid artifact —
    the FAISS add() pattern, mirror of semdedup_incremental), search the
    persisted lists with the SAME probe plan as ann_ivf_topk, and
    evaluate the drift monitor on the batch's assignment sims.
    ``hit_exact`` is the brute-force recall tripwire per result row;
    ``low_frac``/``needs_retrain`` pin the drift decision into the
    hash."""
    import tempfile as _tf

    from furchild_spark.operators.similarity import (
        cosine_topk_bruteforce, index_append, index_build, index_drift,
        index_search, ivf_flat_codec,
    )

    emb = table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 250)
    batch = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 10)
    path = _tf.mkdtemp(prefix="ann_ivf_incr_") + "/ivf"

    codec = ivf_flat_codec(num_centroids=8, min_sim=0.5)
    index_build(spark, base, path, codec)
    index_append(spark, batch, path, codec)
    drift = index_drift(spark, batch, path, codec, max_frac=0.2)
    res = index_search(spark, queries, path, codec, k=5, nprobe=2)
    bf = cosine_topk_bruteforce(emb, queries, "vec_id", "embedding", k=5)
    hits = bf.select("query_id", "neighbor_id", F.lit(True).alias("__hit"))
    return (
        res.join(hits, on=["query_id", "neighbor_id"], how="left")
        .crossJoin(F.broadcast(drift.select(
            F.col("frac").alias("low_frac"), "needs_retrain"
        )))
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            "sim",
            (F.col("neighbor_id") >= 250).alias("from_batch"),
            F.coalesce(F.col("__hit"), F.lit(False)).alias("hit_exact"),
            "low_frac",
            "needs_retrain",
        )
    )


@query(
    "ann_ivfpq_incremental",
    section=(
        "LLM-similarity MAINTAINED IVF-PQ index (FAISS train-once/"
        "add-many for the PQ family): build on the first half persists "
        "frozen coarse centroids + the trained residual codebook + the "
        "codes table; APPEND residual-encodes ONLY the batch against the "
        "frozen artifacts (O(batch), no retrain/re-encode); ADC search "
        "over the maintained codes shares the serve plan with "
        "ann_ivfpq_topk — the oracle replays coarse assign, the Lloyd "
        "round on BASE residuals only, frozen-codebook batch encode, and "
        "the ADC ranking"
    ),
    oracle=f"""
WITH e AS ({_IVF_E}),
q AS (SELECT vec_id, {_QV_SQL} AS qv FROM embeddings),
cent AS (
  SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm FROM e WHERE vec_id < 8
),
centq AS (SELECT vec_id AS cent_id, qv AS ccq FROM q WHERE vec_id < 8),
assign AS (
  SELECT cent_id, neighbor_id FROM (
    SELECT c.cent_id, x.vec_id AS neighbor_id,
      row_number() OVER (
        PARTITION BY x.vec_id
        ORDER BY round(CAST({_DOT.format(a='x.embedding', b='c.cvec')} AS DOUBLE)
                       / (x.nrm * c.cnrm), 6) DESC, c.cent_id ASC
      ) AS rn
    FROM e x CROSS JOIN cent c
  ) WHERE rn = 1
),
resid AS (
  SELECT a.cent_id, a.neighbor_id,
    list_transform(range(0, 64), i -> nq.qv[i+1] - cq.ccq[i+1]) AS rq
  FROM assign a
  JOIN q nq ON nq.vec_id = a.neighbor_id
  JOIN centq cq ON cq.cent_id = a.cent_id
),
sub AS (
  SELECT neighbor_id, cent_id, mm.m AS m, rq[mm.m*2+1 : mm.m*2+2] AS subq
  FROM resid, (SELECT unnest(range(0, 32)) AS m) mm
),
-- TRAINING sees only the BASE half (the maintained index's frozen
-- codebook was fitted before the batch existed); ENCODE covers all rows
sub_train AS (SELECT * FROM sub WHERE neighbor_id < 250),
c0 AS (SELECT m, neighbor_id AS c, subq AS cent FROM sub_train WHERE neighbor_id < 16),
a1 AS (
  SELECT s.neighbor_id, s.m, cc.c,
    row_number() OVER (PARTITION BY s.neighbor_id, s.m ORDER BY
      (s.subq[1] - cc.cent[1]) * (s.subq[1] - cc.cent[1])
      + (s.subq[2] - cc.cent[2]) * (s.subq[2] - cc.cent[2]) ASC,
      cc.c ASC) AS rn
  FROM sub_train s JOIN c0 cc ON s.m = cc.m
),
a1f AS (SELECT neighbor_id, m, c AS code FROM a1 WHERE rn = 1),
u1 AS (
  SELECT s.m, a.code, jj.j,
    CAST(floor(CAST(SUM(s.subq[jj.j+1]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
  FROM sub_train s JOIN a1f a ON s.neighbor_id = a.neighbor_id AND s.m = a.m,
       (SELECT unnest(range(0, 2)) AS j) jj
  GROUP BY s.m, a.code, jj.j
),
g1 AS (SELECT m, code AS c, list(v ORDER BY j) AS cent FROM u1 GROUP BY m, code),
c1 AS (
  SELECT c0.m, c0.c, coalesce(g1.cent, c0.cent) AS cent
  FROM c0 LEFT JOIN g1 ON c0.m = g1.m AND c0.c = g1.c
),
acode AS (
  SELECT neighbor_id, cent_id, m, c AS code FROM (
    SELECT s.neighbor_id, s.cent_id, s.m, cc.c,
      row_number() OVER (PARTITION BY s.neighbor_id, s.m ORDER BY
        (s.subq[1] - cc.cent[1]) * (s.subq[1] - cc.cent[1])
        + (s.subq[2] - cc.cent[2]) * (s.subq[2] - cc.cent[2]) ASC,
        cc.c ASC) AS rn
    FROM sub s JOIN c1 cc ON s.m = cc.m
  ) WHERE rn = 1
),
qq AS (SELECT vec_id AS query_id, embedding AS qvec, nrm AS qnrm FROM e WHERE vec_id < 10),
probes AS (
  SELECT cent_id, query_id FROM (
    SELECT c.cent_id, qq.query_id,
      row_number() OVER (
        PARTITION BY qq.query_id
        ORDER BY round(CAST({_DOT.format(a='qq.qvec', b='c.cvec')} AS DOUBLE)
                       / (qq.qnrm * c.cnrm), 6) DESC, c.cent_id ASC
      ) AS rn
    FROM qq CROSS JOIN cent c
  ) WHERE rn <= 2
),
probe_res AS (
  SELECT p.cent_id, p.query_id,
    list_transform(range(0, 64), i -> pq.qv[i+1] - cq.ccq[i+1]) AS qrq
  FROM probes p
  JOIN q pq ON pq.vec_id = p.query_id
  JOIN centq cq ON cq.cent_id = p.cent_id
),
adc AS (
  SELECT pr.query_id, a.neighbor_id,
    CAST(SUM(
      (pr.qrq[a.m*2+1] - ct.cent[1]) * (pr.qrq[a.m*2+1] - ct.cent[1])
      + (pr.qrq[a.m*2+2] - ct.cent[2]) * (pr.qrq[a.m*2+2] - ct.cent[2])
    ) AS BIGINT) AS adc_dist
  FROM probe_res pr
  JOIN acode a ON pr.cent_id = a.cent_id
  JOIN c1 ct ON ct.m = a.m AND ct.c = a.code
  WHERE pr.query_id <> a.neighbor_id
  GROUP BY pr.query_id, a.neighbor_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc_dist,
  neighbor_id >= 250 AS from_batch
FROM (
  SELECT query_id, neighbor_id, adc_dist,
    row_number() OVER (
      PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
  FROM adc
) WHERE rank <= 5
""",
)
def ann_ivfpq_incremental(spark, sf_dir):
    """Maintained-IVF-PQ lifecycle (operators/similarity.index_* with
    ivfpq_codec): build on vec_id < 250 (frozen coarse centroids +
    residual codebook trained on BASE residuals only + base codes),
    index_append the rest (batch-only assign + residual encode against
    the frozen on-disk artifacts — FAISS add() for the PQ family), then
    ADC-search the maintained codes with ann_ivfpq_topk's exact serve
    plan. ``from_batch`` pins appended rows appearing in results into
    the hash."""
    import tempfile as _tf

    from furchild_spark.operators.similarity import (
        index_append, index_build, index_search, ivfpq_codec,
    )

    emb = table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 250)
    batch = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 10)
    path = _tf.mkdtemp(prefix="ann_ivfpq_incr_") + "/ivfpq"

    codec = ivfpq_codec(num_centroids=8, dim=64, subspaces=32, kcodes=16)
    index_build(spark, base, path, codec)
    index_append(spark, batch, path, codec)
    res = index_search(spark, queries, path, codec, k=5, nprobe=2)
    return res.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "neighbor_id",
        "adc_dist",
        (F.col("neighbor_id") >= 250).alias("from_batch"),
    )


@query(
    "ann_sq8_incremental",
    section=(
        "LLM-similarity MAINTAINED SQ8 index: per-dimension min/max "
        "codec trained on the first half and FROZEN on disk; APPEND "
        "encodes only the batch (out-of-range components CLAMP — FAISS "
        "SQ8 saturation); ADC search over the maintained codes shares "
        "the serve plan with ann_sq8_topk; the saturation-drift decision "
        "is pinned in the hash — completes the maintained-index family "
        "(IVF-flat, IVF-PQ, SQ8)"
    ),
    oracle=f"""
WITH q AS (SELECT vec_id, {_QV_SQL} AS qv FROM embeddings),
dims AS (
  SELECT CAST(d.i AS BIGINT) AS dim, MIN(qv[d.i+1]) AS mn, MAX(qv[d.i+1]) AS mx
  FROM q, (SELECT unnest(range(0, 64)) AS i) d
  WHERE vec_id < 250
  GROUP BY d.i
),
cdc AS (SELECT list(mn ORDER BY dim) AS mins, list(mx ORDER BY dim) AS maxs FROM dims),
codes AS (
  SELECT vec_id,
    list_transform(range(0, 64), i ->
      CASE WHEN maxs[i+1] > mins[i+1] THEN
        CAST(greatest(0.0, least(255.0,
          round(CAST(qv[i+1] - mins[i+1] AS DOUBLE) * 255.0
                / CAST(maxs[i+1] - mins[i+1] AS DOUBLE), 0))) AS BIGINT)
      ELSE 0 END) AS codes
  FROM q CROSS JOIN cdc
),
drift AS (
  SELECT COUNT(*) AS n_batch,
    SUM(CASE WHEN len(list_filter(range(0, 64),
          i -> qv[i+1] < mins[i+1] OR qv[i+1] > maxs[i+1])) > 0
        THEN 1 ELSE 0 END) AS n_saturated
  FROM q CROSS JOIN cdc WHERE vec_id >= 250
),
rec AS (
  SELECT c.vec_id,
    list_transform(range(0, 64), i ->
      255 * mins[i+1] + c.codes[i+1] * (maxs[i+1] - mins[i+1])) AS r
  FROM codes c CROSS JOIN cdc
),
sel AS (SELECT vec_id AS query_id, r AS rq FROM rec WHERE vec_id IN {_SQ8_QUERY_IDS}),
scored AS (
  SELECT s.query_id, c.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, 65),
      i -> CAST(s.rq[i] AS HUGEINT) * c.r[i])) AS BIGINT) AS adc_dot_scaled
  FROM sel s CROSS JOIN rec c
  WHERE c.vec_id <> s.query_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc_dot_scaled,
  neighbor_id >= 250 AS from_batch,
  round(CAST(d.n_saturated AS DOUBLE) / CAST(d.n_batch AS DOUBLE), 6) AS sat_frac,
  CAST(d.n_saturated AS DOUBLE) > CAST(d.n_batch AS DOUBLE) * 0.2 AS needs_retrain
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adc_dot_scaled DESC, neighbor_id ASC
  ) AS rank FROM scored
) CROSS JOIN drift d
WHERE rank <= 5
""",
)
def ann_sq8_incremental(spark, sf_dir):
    """Maintained-SQ8 lifecycle (operators/similarity.index_* with
    sq8_codec): build on vec_id < 250 (frozen per-dimension min/max
    codec + base codes), index_append the rest (batch-only encode
    against the frozen on-disk codec, out-of-range components clamping
    to the rails), ADC-search the maintained codes with ann_sq8_topk's
    exact serve plan, and pin the saturation-drift decision
    (index_drift) into the hash."""
    import tempfile as _tf

    from furchild_spark.operators.similarity import (
        index_append, index_build, index_drift, index_search, sq8_codec,
    )

    e = table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") < 250)
    batch = e.filter(F.col("vec_id") >= 250)
    queries = e.filter(F.col("vec_id").isin(*_SQ8_QUERY_IDS))
    path = _tf.mkdtemp(prefix="ann_sq8_incr_") + "/sq8"

    codec = sq8_codec(dim=64)
    index_build(spark, base, path, codec)
    index_append(spark, batch, path, codec)
    drift = index_drift(spark, batch, path, codec, max_frac=0.2)
    res = index_search(spark, queries, path, codec, k=5)
    return (
        res.crossJoin(F.broadcast(drift.select(
            F.col("frac").alias("sat_frac"), "needs_retrain"
        )))
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            "adc_dot_scaled",
            (F.col("neighbor_id") >= 250).alias("from_batch"),
            "sat_frac",
            "needs_retrain",
        )
    )


@query(
    "ann_sq8_retrain_e2e",
    section=(
        "LLM-similarity DRIFT→RETRAIN→SWAP (r10 VERDICT #4 — the "
        "monitor's needs_retrain decision wired to an action): a 10×- "
        "scaled batch saturates the frozen SQ8 rails (drift fires), "
        "index_retrain rebuilds codec+codes from the accumulated "
        "corpus and swaps them atomically, the re-checked monitor "
        "reports clean, and the post-retrain ADC search — hash-pinned "
        "here — is bit-for-bit a fresh rebuild's (pytest proves the "
        "artifact equality; recall restoration in test_ann_recall)"
    ),
    oracle=f"""
WITH raw AS (
  SELECT vec_id,
    CASE WHEN vec_id >= 250
      THEN list_transform(embedding, x -> CAST(x AS DOUBLE) * 10.0)
      ELSE list_transform(embedding, x -> CAST(x AS DOUBLE)) END AS emb
  FROM embeddings
),
q AS (
  SELECT vec_id, list_transform(emb, x ->
    CAST(CAST(x AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS qv
  FROM raw
),
-- pre-retrain codec: trained on the UNSCALED base only
dims0 AS (
  SELECT CAST(d.i AS BIGINT) AS dim, MIN(qv[d.i+1]) AS mn, MAX(qv[d.i+1]) AS mx
  FROM q, (SELECT unnest(range(0, 64)) AS i) d
  WHERE vec_id < 250 GROUP BY d.i
),
cdc0 AS (SELECT list(mn ORDER BY dim) AS mins, list(mx ORDER BY dim) AS maxs FROM dims0),
drift0 AS (
  SELECT COUNT(*) AS n_batch,
    SUM(CASE WHEN len(list_filter(range(0, 64),
          i -> qv[i+1] < mins[i+1] OR qv[i+1] > maxs[i+1])) > 0
        THEN 1 ELSE 0 END) AS n_saturated
  FROM q CROSS JOIN cdc0 WHERE vec_id >= 250
),
-- post-retrain codec: trained on the FULL accumulated corpus
dims AS (
  SELECT CAST(d.i AS BIGINT) AS dim, MIN(qv[d.i+1]) AS mn, MAX(qv[d.i+1]) AS mx
  FROM q, (SELECT unnest(range(0, 64)) AS i) d
  GROUP BY d.i
),
cdc AS (SELECT list(mn ORDER BY dim) AS mins, list(mx ORDER BY dim) AS maxs FROM dims),
codes AS (
  SELECT vec_id,
    list_transform(range(0, 64), i ->
      CASE WHEN maxs[i+1] > mins[i+1] THEN
        CAST(greatest(0.0, least(255.0,
          round(CAST(qv[i+1] - mins[i+1] AS DOUBLE) * 255.0
                / CAST(maxs[i+1] - mins[i+1] AS DOUBLE), 0))) AS BIGINT)
      ELSE 0 END) AS codes
  FROM q CROSS JOIN cdc
),
drift1 AS (
  SELECT COUNT(*) AS n_batch,
    SUM(CASE WHEN len(list_filter(range(0, 64),
          i -> qv[i+1] < mins[i+1] OR qv[i+1] > maxs[i+1])) > 0
        THEN 1 ELSE 0 END) AS n_saturated
  FROM q CROSS JOIN cdc WHERE vec_id >= 250
),
rec AS (
  SELECT c.vec_id,
    list_transform(range(0, 64), i ->
      255 * mins[i+1] + c.codes[i+1] * (maxs[i+1] - mins[i+1])) AS r
  FROM codes c CROSS JOIN cdc
),
sel AS (SELECT vec_id AS query_id, r AS rq FROM rec WHERE vec_id IN (251, 257, 263)),
scored AS (
  SELECT s.query_id, c.vec_id AS neighbor_id,
    CAST(list_sum(list_transform(range(1, 65),
      i -> CAST(s.rq[i] AS HUGEINT) * c.r[i])) AS BIGINT) AS adc_dot_scaled
  FROM sel s CROSS JOIN rec c
  WHERE c.vec_id <> s.query_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc_dot_scaled,
  d0.n_saturated > d0.n_batch * 0.2 AS retrain_fired,
  round(CAST(d1.n_saturated AS DOUBLE) / CAST(d1.n_batch AS DOUBLE), 6)
    AS sat_frac_after,
  d1.n_saturated > d1.n_batch * 0.2 AS needs_retrain_after
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adc_dot_scaled DESC, neighbor_id ASC
  ) AS rank FROM scored
) CROSS JOIN drift0 d0 CROSS JOIN drift1 d1
WHERE rank <= 5
""",
)
def ann_sq8_retrain_e2e(spark, sf_dir):
    """The complete drift lifecycle (operators/similarity.index_* with
    sq8_codec):
    build the codec on the unscaled base, append a 10×-scaled batch
    (heavy saturation — the distribution escaped the rails), let the
    MONITOR's decision gate the RETRAIN (codec+codes rebuilt over the
    accumulated corpus, staged-and-swapped), re-check the monitor, and
    hash-pin the post-retrain search plus both decisions."""
    import tempfile as _tf

    from furchild_spark.operators.similarity import (
        index_append, index_build, index_drift, index_retrain,
        index_search, sq8_codec,
    )

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = e.filter(F.col("vec_id") < 250)
    batch = e.filter(F.col("vec_id") >= 250).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(10.0)).alias("embedding"),
    )
    corpus = base.unionByName(batch)
    queries = batch.filter(F.col("vec_id").isin(251, 257, 263))
    path = _tf.mkdtemp(prefix="ann_sq8_retrain_") + "/sq8"

    codec = sq8_codec(dim=64)
    index_build(spark, base, path, codec)
    index_append(spark, batch, path, codec)
    fired = index_drift(
        spark, batch, path, codec, max_frac=0.2
    ).first()["needs_retrain"]
    if fired:  # the monitor's decision GATES the action
        index_retrain(spark, corpus, path, codec)
    after = index_drift(spark, batch, path, codec, max_frac=0.2)
    res = index_search(spark, queries, path, codec, k=5)
    return (
        res.crossJoin(F.broadcast(after.select(
            F.col("frac").alias("sat_frac_after"),
            F.col("needs_retrain").alias("needs_retrain_after"),
        )))
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            "adc_dot_scaled",
            F.lit(bool(fired)).alias("retrain_fired"),
            "sat_frac_after",
            "needs_retrain_after",
        )
    )


@query(
    "unigram_em_target_vocab",
    section=(
        "LLM-tokenizer Unigram-LM FULL training loop (Kudo 2018 "
        "arXiv:1804.10959 §3.2, r10 VERDICT #7): EM-prune rounds repeat "
        "until the vocabulary reaches the pinned target (48 here — two "
        "rounds on this corpus), each round keeping the top "
        "max(floor(n·0.8), target−n_singles) multi-char pieces by "
        "Viterbi usage so the loop never overshoots below target; the "
        "oracle replays BOTH EM rounds (three recursive-CTE Viterbi "
        "passes) and the final decode, exact-decimal discipline kept"
    ),
    oracle=f"""
WITH RECURSIVE tok AS (
  SELECT unnest({_TOKS}) AS word FROM documents
),
wc AS MATERIALIZED (SELECT word, COUNT(*) AS wc FROM tok GROUP BY word),
tot AS MATERIALIZED (SELECT SUM(wc) AS total FROM wc),
pos AS MATERIALIZED (
  SELECT word, wc, unnest(range(1, length(word) + 1)) AS i FROM wc
),
sub AS MATERIALIZED (
  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
         SUM(wc) AS cnt
  FROM pos, (VALUES (1), (2), (3), (4)) ll(l)
  WHERE i + l - 1 <= length(word)
  GROUP BY 1
),
vocab AS MATERIALIZED (
  SELECT piece, cnt FROM sub CROSS JOIN tot
  WHERE length(piece) = 1 OR cnt * 500 >= total
),
nsing AS MATERIALIZED (SELECT COUNT(*) AS ns FROM vocab WHERE length(piece) = 1),
tm AS MATERIALIZED (SELECT SUM(cnt) AS tm FROM vocab),
vp AS MATERIALIZED (
  SELECT piece,
    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(tm AS DOUBLE)), 6)
         AS DECIMAL(18,6)) AS score
  FROM vocab CROSS JOIN tm
),
{{_USEG_R0}},
used AS MATERIALIZED (
  SELECT piece, SUM(wc) AS cnt FROM (
    SELECT w.wc, unnest(string_split(s.s1, chr(31))) AS piece
    FROM wc w JOIN seg0 s ON s.word = w.word AND s.i = length(w.word)
  ) GROUP BY 1
),
base AS MATERIALIZED (
  SELECT v.piece, COALESCE(u.cnt, 0) AS cnt
  FROM vocab v LEFT JOIN used u USING (piece)
),
singles AS MATERIALIZED (
  SELECT piece, GREATEST(cnt, 1) AS cnt FROM base WHERE length(piece) = 1
),
multis AS MATERIALIZED (
  SELECT piece, cnt,
    ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rn,
    COUNT(*) OVER () AS n
  FROM base WHERE length(piece) > 1 AND cnt > 0
),
vocab1 AS MATERIALIZED (
  SELECT piece, cnt FROM singles
  UNION ALL
  SELECT piece, cnt FROM multis CROSS JOIN nsing
  WHERE rn * 100 <= n * 80 OR rn <= 48 - ns
),
tm1 AS MATERIALIZED (SELECT SUM(cnt) AS tm FROM vocab1),
vp1 AS MATERIALIZED (
  SELECT piece,
    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(tm AS DOUBLE)), 6)
         AS DECIMAL(18,6)) AS score
  FROM vocab1 CROSS JOIN tm1
),
{{_USEG_R1}},
used2 AS MATERIALIZED (
  SELECT piece, SUM(wc) AS cnt FROM (
    SELECT w.wc, unnest(string_split(s.s1, chr(31))) AS piece
    FROM wc w JOIN seg1 s ON s.word = w.word AND s.i = length(w.word)
  ) GROUP BY 1
),
base2 AS MATERIALIZED (
  SELECT v.piece, COALESCE(u.cnt, 0) AS cnt
  FROM vocab1 v LEFT JOIN used2 u USING (piece)
),
singles2 AS MATERIALIZED (
  SELECT piece, GREATEST(cnt, 1) AS cnt FROM base2 WHERE length(piece) = 1
),
multis2 AS MATERIALIZED (
  SELECT piece, cnt,
    ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rn,
    COUNT(*) OVER () AS n
  FROM base2 WHERE length(piece) > 1 AND cnt > 0
),
vocab2 AS MATERIALIZED (
  SELECT piece, cnt FROM singles2
  UNION ALL
  SELECT piece, cnt FROM multis2 CROSS JOIN nsing
  WHERE rn * 100 <= n * 80 OR rn <= 48 - ns
),
tm2 AS MATERIALIZED (SELECT SUM(cnt) AS tm FROM vocab2),
vp2 AS MATERIALIZED (
  SELECT piece,
    CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(tm AS DOUBLE)), 6)
         AS DECIMAL(18,6)) AS score
  FROM vocab2 CROSS JOIN tm2
),
nvoc AS (SELECT COUNT(*) AS n_vocab FROM vocab2),
words AS (SELECT word, wc FROM wc ORDER BY wc DESC, word ASC LIMIT 50),
{{_USEG_R2}}
SELECT w.word, CAST(w.wc AS BIGINT) AS wc,
  CAST(len(string_split(s.s1, chr(31))) AS BIGINT) AS n_pieces,
  array_to_string(string_split(s.s1, chr(31)), '+') AS seg,
  CAST(s.d1 AS DOUBLE) AS logp,
  CAST(nvoc.n_vocab AS BIGINT) AS n_vocab
FROM words w
JOIN seg2 s ON s.word = w.word AND s.i = length(w.word)
CROSS JOIN nvoc
""".replace("{_USEG_R0}", _useg_join("seg0", "wc", "vp"))
   .replace("{_USEG_R1}", _useg_join("seg1", "wc", "vp1"))
   .replace("{_USEG_R2}", _useg_join("seg2", "words", "vp2")),
)
def unigram_em_target_vocab(spark, sf_dir):
    """The full Kudo training loop (operators/text.unigram_em_train):
    EM-prune until the vocab reaches target_vocab=48 (two rounds on
    sf0.01: 226 seed → 52 → 48, the second round clamped by the
    never-overshoot budget), then Viterbi-decode the 50 most frequent
    word types under the FINAL scores; n_vocab pins the reached size."""
    from furchild_spark.operators.text import (
        tokens, unigram_apply, unigram_em_train,
    )

    d = table(spark, sf_dir, "documents")
    final = unigram_em_train(d, "text", max_piece_len=4, min_frac=1 / 500,
                             keep_frac=0.8, target_vocab=48)
    nvoc = final.agg(F.count(F.lit(1)).cast("long").alias("n_vocab"))
    wc = (
        d.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    top = wc.orderBy(F.desc("wc"), F.asc("word")).limit(50)
    out = unigram_apply(top, final, "word")
    return out.crossJoin(F.broadcast(nvoc)).select(
        "word",
        F.col("wc").cast("long").alias("wc"),
        "n_pieces",
        F.array_join("pieces", "+").alias("seg"),
        "logp",
        "n_vocab",
    )
