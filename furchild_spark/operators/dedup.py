"""Corpus deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

Scale notes (the design constraint is ~100 TB of documents on a 1000-executor
cluster):

- **Never all-pairs.** Candidate generation is always a *grouping* problem:
  exact → groupBy(fingerprint); MinHash → groupBy(band, band_signature);
  Jaccard → self-join restricted to a bucket key. Each is one shuffle on a
  high-cardinality key; AQE handles skewed buckets.
- **No Python UDFs.** Hashing is md5/xxhash64 builtins; shingling is
  higher-order array functions — the whole pipeline stays in whole-stage
  codegen until the final (tiny) candidate-pair verification join.
- md5-over-string is used (not xxhash64) wherever a DuckDB oracle needs to
  reproduce the value; xxhash64 variants exist for pure-Spark speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import normalize_text, shingles, tokens
from .util import fanout


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def fingerprint(text_col: str):
    """The exact-dedup key of a document: md5 of its normalized text.

    NULL text canonicalizes to '' so NULL/empty documents share one
    NON-NULL fingerprint: a groupBy and an anti-join on it then agree (a
    NULL key would group in one but never match a join in the other).
    Batch, incremental and streaming exact dedup all key on this column."""
    return F.md5(F.coalesce(normalize_text(text_col), F.lit("")))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct normalized text with
    the survivor id (min id) and the duplicate count. Single shuffle on the
    128-bit fingerprint; partial aggregation makes the map side do the heavy
    lifting at scale."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Return the deduplicated corpus (survivor row per fingerprint)."""
    groups = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(groups, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, __sh) with __sh = the DISTINCT k-shingle array of the document.

    The set representation is built entirely per-row — tokenize → shingle →
    ``array_distinct`` — so it is a map-only transform with NO shuffle.
    (A ``explode + distinct`` formulation shuffles every (id, shingle) pair
    across the cluster; at 100 TB that is a full-corpus exchange doing work
    ``array_distinct`` does locally, since shingle sets never span rows.)
    Tokens are staged through their own projection (see text.with_text_stats
    perf note)."""
    staged = fanout(df).select(F.col(id_col), tokens(text_col).alias("__toks"))
    return staged.select(
        F.col(id_col), F.array_distinct(shingles("__toks", k)).alias("__sh")
    )


def minhash_signatures(
    sets: DataFrame, id_col: str, num_perm: int = 16, hash_fn: str = "md5"
) -> DataFrame:
    """Wide MinHash signature: one row per id, columns ``mh0..mh{n-1}``,
    computed from the per-row shingle-set arrays of :func:`shingle_sets`.

    Permutation i is simulated by hashing ``i ':' shingle``; signature i is
    the minimum hash over the document's shingle set — here
    ``array_min(transform(__sh, hash_i))``, a pure projection with NO
    shuffle and no row expansion. (The naive formulation — explode shingles
    × permutations, groupBy(id, perm), plus a second shuffle to re-assemble
    bands — moves 16× the shingle data through two exchanges to compute
    per-document minima that never needed to leave the row.) ``md5`` keeps
    values reproducible in ANSI SQL oracles; ``xxhash64`` is the faster
    pure-Spark variant.

    Documents with an empty shingle set (< k tokens) are dropped, matching
    the row-form semantics (no shingles → no signature → never banded).
    """
    if hash_fn not in ("md5", "xxhash64"):
        # a typo'd name silently falling back to md5 would make batch
        # signatures unjoinable against an xxhash64-built corpus table —
        # zero matches, no error (total recall collapse)
        raise ValueError(f"unknown hash_fn {hash_fn!r} (md5|xxhash64)")

    def h(i: int):
        if hash_fn == "xxhash64":
            return lambda s: F.xxhash64(F.lit(i), s)
        return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))

    return sets.filter(F.size("__sh") > 0).select(
        F.col(id_col),
        *[
            F.array_min(F.transform("__sh", h(i))).alias(f"mh{i}")
            for i in range(num_perm)
        ],
    )


def lsh_band_signatures(
    sigs: DataFrame, id_col: str, rows_per_band: int = 4
) -> DataFrame:
    """(id, band, band_sig) rows from the wide signature — a projection plus
    a generator explode, NO shuffle. Band b's signature is the md5 of the
    comma-joined minhashes mh[b*r .. (b+1)*r-1], i.e. exactly the
    perm-ordered concatenation the row-form computed with
    sort_array(collect_list(...))."""
    import re as _re

    mh_cols = [c for c in sigs.columns if _re.fullmatch(r"mh\d+", c)]
    if len(mh_cols) % rows_per_band:
        raise ValueError(
            f"{len(mh_cols)} minhash columns do not band evenly into "
            f"rows_per_band={rows_per_band}; trailing permutations would "
            "be silently dropped (choose num_perm divisible by rows_per_band)"
        )
    num_bands = len(mh_cols) // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{i}").cast("string")
                            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                        ],
                    )
                ).alias("band_sig"),
            )
            for b in range(num_bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(bands).alias("__b")).select(
        id_col,
        F.col("__b.band").alias("band"),
        F.col("__b.band_sig").alias("band_sig"),
    )


def band_signatures(
    sets: DataFrame,
    id_col: str,
    num_perm: int = 16,
    rows_per_band: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, band, band_sig) rows straight from the shingle-set arrays of
    :func:`shingle_sets`: :func:`minhash_signatures` then
    :func:`lsh_band_signatures`, both per-row projections, so the chain
    stays map-only."""
    return lsh_band_signatures(
        minhash_signatures(sets, id_col, num_perm, hash_fn), id_col, rows_per_band
    )


def lsh_candidate_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any band signature.
    Self-join on (band, band_sig) — a key-partitioned equi join, NOT a
    cartesian product; bucket sizes are small by construction."""
    a = banded.select(
        F.col("band"), F.col("band_sig"), F.col(id_col).alias("id_a")
    )
    b = banded.select(
        F.col("band"), F.col("band_sig"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, on=["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify_cross(
    sets_new: DataFrame,
    sets_old: DataFrame,
    pairs: DataFrame,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over (id_new, id_old) candidate pairs via shingle-set
    joins — runs only on the (small) candidate set, so the expensive
    exactness is bounded by LSH recall, not corpus size. The two sides'
    per-row set representations (:func:`shingle_sets`) may come from
    different corpora (incremental and streaming dedup) or be the same
    frame passed twice (a self-join, :func:`minhash_near_duplicates`).
    Set sizes are ``F.size`` (map-only, no groupBy shuffle) and the
    exploded rows for the intersection join are generated in place."""
    sh_new = sets_new.select(
        F.col(id_col).alias("id_new"), F.explode("__sh").alias("shingle")
    )
    sh_old = sets_old.select(
        F.col(id_col).alias("id_old"), F.explode("__sh").alias("shingle")
    )
    sz_new = sets_new.select(
        F.col(id_col).alias("id_new"), F.size("__sh").alias("sz_new")
    )
    sz_old = sets_old.select(
        F.col(id_col).alias("id_old"), F.size("__sh").alias("sz_old")
    )
    # shingle is part of the second join key → stays an equi join (hash
    # partitioned on (id_old, shingle)), never a filter over a wide product.
    inter = (
        pairs.join(sh_new, on="id_new")
        .join(sh_old, on=["id_old", "shingle"])
        .groupBy("id_new", "id_old")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sz_new, on="id_new")
        .join(sz_old, on="id_old")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("sz_new") + F.col("sz_old") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_new", "id_old", "n_inter", "jaccard")
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """End-to-end banded MinHash-LSH near-dup detection:
    shingle → minhash → band → bucket-join candidates → exact-Jaccard verify.

    Shuffle budget: the ONLY exchanges are the candidate-pair self-join and
    the verification joins over the (small) candidate set. Shingling,
    set-building, all 16 minhashes, and band signatures are per-row
    projections — at 100 TB they stream through the scan with no exchange.
    """
    # The shingle-set arrays feed four subtrees (signatures, pair sizes, and
    # both sides of the intersection join); persisting turns four
    # tokenize+shingle recomputes into one — the same
    # materialize-the-set-representation step a 100 TB run would write to
    # intermediate storage.
    sets = shingle_sets(df, id_col, text_col, shingle_k).persist()
    banded = band_signatures(sets, id_col, num_perm, rows_per_band, hash_fn)
    pairs = lsh_candidate_pairs(banded, id_col).toDF("id_new", "id_old")
    return jaccard_verify_cross(sets, sets, pairs, id_col, threshold).toDF(
        "id_a", "id_b", "n_inter", "jaccard"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash from md5 hex nibbles, exact-integer end to end.

    Documents with no tokens (empty/NULL text) produce NO signature row —
    the same contract as minhash_signatures (no shingles → no signature);
    join survivors back with a left join if every id must appear.

    Bit j of a token's hash = 1 iff hex digit j of md5(token) is in [8..f].
    The document SimHash sets bit j when the (+1/-1) vote sum over all token
    *occurrences* is positive.

    All 16 bit-vote sums are independent ``sum()`` aggregates in ONE
    groupBy(id) — a single shuffle of one partially-aggregated row per
    (partition, id), with no 16× row expansion (the explode-by-bit form
    shuffles 16× the token rows and needs a second groupBy to fold bits
    back into one value). The final bit-pack is a pure projection.
    """
    toks = tokens(text_col)
    tok_rows = fanout(df).select(F.col(id_col), F.explode(toks).alias("tok"))
    hashed = tok_rows.select(F.col(id_col), F.md5(F.col("tok")).alias("h"))
    votes = [
        F.sum(
            F.when(F.substring(F.col("h"), j, 1).isin(*"89abcdef"), 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(1, 17)
    ]
    wide = hashed.groupBy(id_col).agg(*votes)
    packed = None
    for j in range(1, 17):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << (j - 1))).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return wide.select(F.col(id_col), packed.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# bucketed n-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_prefix_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_col: str,
    threshold: float,
    hot_cap: int = 64,
) -> DataFrame:
    """Per-document token structures for the prefix-filtered Jaccard join
    (AllPairs/PPJoin, Bayardo et al. WWW'07; Xiao et al. ICDE'08).

    For Jaccard >= t, two sets must share at least one token within their
    first ``s - ceil(t*s) + 1`` tokens under ANY per-bucket total order,
    so only that *prefix* participates in candidate generation and each
    document's ``ceil(t*s) - 1`` last-ordered tokens never enter the
    self-join. The order used here puts each bucket's ``hot_cap``
    highest-document-frequency tokens LAST (hottest absolutely last) and
    everything else first in hash order. That is exactly the de-skew
    property: a stop-word-like token shared by k documents in a bucket -
    the k^2 join-blowup profile of a naive token self-join - is the first
    token every document drops.

    Representation, chosen so the whole operator stays in whole-stage
    codegen with fixed-width values:

    - tokens are ``xxhash64`` longs (|A n B| over hashes equals the token
      count absent a 64-bit cross-collision within one pair - vanishing,
      the same trade MinHash makes);
    - the hot set is <= ``hot_cap`` <= 64 rows per bucket, so it
      BROADCASTS, and a document's hot membership packs into ONE long
      ``mask`` (bit i = bucket's i-th hottest token present) - pair-level
      hot intersections become ``bit_count(mask_a & mask_b)``, O(1);
    - ``cold`` holds the document's non-hot token hashes, sorted - the
      only per-pair array work left in verification;
    - ``prefix`` is the first ``s - ceil(t*s) + 1`` tokens of
      (sorted cold ++ doc's hot members least-hot-first) - a pure in-row
      expression: no corpus-wide dfreq join, no collect_list
      re-aggregation shuffle.

    Returns (bucket, id, sz, mask, cold, prefix); exact, no candidates
    lost.
    """
    if hot_cap > 64:
        raise ValueError(
            f"hot_cap={hot_cap} exceeds the 64-bit membership mask; "
            "shiftleft wraps modulo 64 and would silently corrupt "
            "intersection counts"
        )
    # persisted: scanned twice (dfreq aggregation + the hot broadcast
    # join), and the barrier keeps the tokenize+hash projection parallel
    # instead of collapsed below fanout's repartition into the one-task
    # scan stage (the contamination_check lesson)
    base = fanout(df).select(
        F.col(bucket_col).alias("bucket"),
        F.col(id_col),
        F.array_distinct(
            F.transform(tokens(text_col), lambda t: F.xxhash64(t))
        ).alias("toks"),
    ).persist()
    # per-bucket top-`hot_cap` tokens by document frequency: one token-row
    # aggregation, a tiny per-bucket top-k, then one array row per bucket.
    dfreq = (
        base.select("bucket", F.explode("toks").alias("tok"))
        .groupBy("bucket", "tok")
        .agg(F.count(F.lit(1)).alias("dfreq"))
    )
    w = Window.partitionBy("bucket").orderBy(F.desc("dfreq"), F.asc("tok"))
    hot = (
        dfreq.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= hot_cap)
        .groupBy("bucket")
        # __hot[0] = hottest; (dfreq desc, tok) order for determinism
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__rk", "tok"))),
                lambda x: x["tok"],
            ).alias("__hot")
        )
    )
    with_hot = base.join(F.broadcast(hot), on="bucket", how="left").withColumn(
        "__hot", F.coalesce("__hot", F.array().cast("array<bigint>"))
    )
    # canonical per-bucket order, computed in-row: cold tokens first (by
    # hash value), hot tokens last, hottest very last. The key depends
    # only on (bucket, token) => consistent across documents => prefix
    # filtering stays exact.
    cold = F.sort_array(F.array_except("toks", "__hot"))
    hot_members = F.reverse(
        F.filter("__hot", lambda h: F.array_contains("toks", h))
    )
    ordered = F.concat(cold, hot_members)
    mask = F.expr(
        "IF(size(__hot) = 0, 0L,"
        " aggregate(sequence(0, size(__hot) - 1), 0L,"
        "  (acc, i) -> IF(array_contains(toks, __hot[i]),"
        "               acc | shiftleft(1L, i), acc)))"
    )
    # p = s - ceil(t*s) + 1; the epsilon guards the exactness-critical
    # direction: fp noise may only ever LENGTHEN the prefix.
    prefix_len = (
        F.col("sz")
        - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
        + F.lit(1)
    ).cast("int")
    return (
        with_hot.withColumn("sz", F.size("toks"))
        .withColumn("mask", mask)
        .withColumn("cold", cold)
        .withColumn("prefix", F.slice(ordered, 1, prefix_len))
        .select("bucket", id_col, "sz", "mask", "cold", "prefix")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_col: str,
    threshold: float = 0.1,
    strategy: str = "prefix",
) -> DataFrame:
    """Token-set Jaccard for pairs *within a bucket* (e.g. same source /
    same LSH band) - the bucketing keeps the self-join keyed, never O(n^2)
    over the corpus.

    ``strategy="prefix"`` (default): candidate generation is
    prefix-filtered (see :func:`ngram_prefix_docs`): the self-join runs
    on (bucket, prefix-token) only, so hot tokens - the
    sum-of-count(tok)^2 skew profile of a naive token self-join - are
    excluded from the join by every document that can afford to drop
    them. Candidate rows stay NARROW - (bucket, id_a, id_b) - through the
    dedup shuffle; survivors are verified exactly with
    ``bit_count(mask_a & mask_b)`` for the hot part plus
    ``array_intersect`` over the (small) cold arrays. Exact end-to-end:
    prefix filtering is lossless for Jaccard >= t under any per-bucket
    total token order.

    ``strategy="count"``: the relational formulation (full token
    self-join + per-pair shared count, no verify step). ~25% faster on
    dense corpora at LOW thresholds where ~every pair genuinely
    qualifies and nothing is prunable - but its join row count is
    sum-of-count(tok)^2 with NO skew bound, so a bucket-universal token
    costs k^2 rows (measured quadratic blowup: tools/skew_bench.py).
    Opt in only when the token-frequency profile is known to be flat.
    Identical results either way.
    """
    if strategy == "count":
        return _ngram_jaccard_pairs_count(df, id_col, text_col, bucket_col, threshold)
    if strategy != "prefix":
        raise ValueError(f"unknown strategy {strategy!r} (prefix|count)")
    per_doc = ngram_prefix_docs(
        df, id_col, text_col, bucket_col, threshold
    ).persist()
    pref = per_doc.select(
        "bucket", F.col(id_col), F.explode("prefix").alias("tok")
    )
    a = pref.select("bucket", F.col(id_col).alias("id_a"), "tok")
    b = pref.select("bucket", F.col(id_col).alias("id_b"), "tok")
    cand = (
        a.join(b, on=["bucket", "tok"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("bucket", "id_a", "id_b")
        .distinct()
    )
    docs_a = per_doc.select(
        "bucket",
        F.col(id_col).alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("mask").alias("mask_a"),
        F.col("cold").alias("cold_a"),
    )
    docs_b = per_doc.select(
        "bucket",
        F.col(id_col).alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("mask").alias("mask_b"),
        F.col("cold").alias("cold_b"),
    )
    n_inter = F.expr("bit_count(mask_a & mask_b)") + F.size(
        F.array_intersect("cold_a", "cold_b")
    )
    return (
        cand.join(docs_a, on=["bucket", "id_a"])
        .join(docs_b, on=["bucket", "id_b"])
        .withColumn(
            "jaccard",
            n_inter.cast("double")
            / (F.col("sz_a") + F.col("sz_b") - n_inter).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("bucket", "id_a", "id_b", "jaccard")
    )



def _ngram_jaccard_pairs_count(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_col: str,
    threshold: float,
) -> DataFrame:
    """Relational-count strategy: full (bucket, token) self-join with a
    partially-aggregated shared-token count per pair. Optimal when ~every
    within-bucket pair is a genuine candidate; UNBOUNDED under hot-token
    skew — see :func:`ngram_jaccard_pairs` for when to pick it."""
    tok_rows = (
        fanout(df)
        .select(
            F.col(bucket_col).alias("bucket"),
            F.col(id_col),
            tokens(text_col).alias("__toks"),
        )
        .select(
            "bucket", F.col(id_col), F.explode(F.array_distinct("__toks")).alias("tok")
        )
        .persist()
    )
    sizes = tok_rows.groupBy("bucket", id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = tok_rows.select("bucket", F.col(id_col).alias("id_a"), "tok")
    b = tok_rows.select("bucket", F.col(id_col).alias("id_b"), "tok")
    inter = (
        a.join(b, on=["bucket", "tok"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("bucket", "id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_a = sizes.select("bucket", F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select("bucket", F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, on=["bucket", "id_a"])
        .join(sz_b, on=["bucket", "id_b"])
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("bucket", "id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# incremental (cross-corpus) dedup — dedupe a NEW batch against an existing
# corpus without recomputing the corpus
# ---------------------------------------------------------------------------

def exact_dedup_incremental(
    new_df: DataFrame, corpus_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Rows of ``new_df`` that survive exact dedup against BOTH the
    existing corpus and the batch itself (min-id survivor within the
    batch) — the daily-ingest operation of a training-data pipeline.

    Scale shape: the corpus side reduces to its DISTINCT fingerprints (in
    production that is a maintained fingerprint table, not a rescan — the
    projection here is what such a table materializes), so the dominant
    cost is one anti-join keyed on the 128-bit fingerprint, map-side
    combined on the batch side. Nothing about the corpus is rewritten.
    """
    corpus_fps = corpus_df.select(
        fingerprint(text_col).alias("fingerprint")
    ).distinct()
    intra = exact_dedup_groups(new_df, id_col, text_col)
    survivors = intra.join(corpus_fps, on="fingerprint", how="left_anti")
    return new_df.join(
        survivors.select(F.col("keep_id").alias(id_col)), on=id_col, how="left_semi"
    )


def minhash_neardup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id_new, id_old, n_inter, jaccard) for NEW docs that are near-dups
    of CORPUS docs: band signatures on both sides, candidates from the
    banded new×corpus equi-join (never new×corpus all-pairs), exact
    verify on the candidates only.

    Scale shape: at 100 TB the corpus band signatures are a maintained
    table (~num_bands rows per doc, written once at ingest) — the
    signature recompute here stands in for reading it. The join is keyed
    on (band, band_sig) with the NEW side small, so it broadcasts or
    shuffles only the batch; corpus data files are never rewritten.
    """
    sets_new = shingle_sets(new_df, id_col, text_col, shingle_k).persist()
    sets_old = shingle_sets(corpus_df, id_col, text_col, shingle_k).persist()
    bands_new = band_signatures(
        sets_new, id_col, num_perm, rows_per_band, hash_fn
    ).select(F.col(id_col).alias("id_new"), "band", "band_sig")
    bands_old = band_signatures(
        sets_old, id_col, num_perm, rows_per_band, hash_fn
    ).select(F.col(id_col).alias("id_old"), "band", "band_sig")
    pairs = (
        bands_new.join(bands_old, on=["band", "band_sig"])
        .select("id_new", "id_old")
        .distinct()
    )
    return jaccard_verify_cross(sets_new, sets_old, pairs, id_col, threshold)


# ---------------------------------------------------------------------------
# benchmark-contamination check — eval-set n-gram containment in the corpus
# ---------------------------------------------------------------------------

def contamination_check(
    corpus_df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    ngram_k: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """(corpus_id, eval_id, n_hits): corpus documents sharing at least
    ``min_hits`` distinct ``ngram_k``-gram shingles with an eval document
    — the decontamination sweep run before training so benchmark text is
    excluded from the corpus. Asymmetric containment, NOT symmetric
    near-dup: a 50-token eval question embedded verbatim in a 10k-token
    web page is a hit that Jaccard-style dedup would score near zero.

    Scale shape: eval benchmarks are tiny relative to the corpus, so the
    eval shingle set is BROADCAST and the corpus side stays a map-only
    scan → explode; the only exchange is the per-(corpus, eval) hit
    count. Longer shingles (k ≥ 5 here, 8-13 in common practice) make
    incidental n-gram collisions rare so hits mean real containment.
    """
    # Persist the SET form before exploding (as minhash_near_duplicates
    # does): without the materialization barrier, Catalyst collapses the
    # staged projections and pushes the whole tokenize+shingle+explode
    # expression below fanout's repartition — the tokenizer re-inlines
    # into every shingle element AND the entire fan-out serializes into
    # the single-task scan stage (measured 60× slower at sf0.1).
    corpus_sets = shingle_sets(corpus_df, id_col, text_col, ngram_k).persist()
    eval_sets = shingle_sets(eval_df, id_col, text_col, ngram_k).persist()
    corpus_sh = corpus_sets.select(
        F.col(id_col).alias("corpus_id"), F.explode("__sh").alias("shingle")
    )
    eval_sh = eval_sets.select(
        F.col(id_col).alias("eval_id"), F.explode("__sh").alias("shingle")
    )
    return (
        corpus_sh.join(F.broadcast(eval_sh), on="shingle")
        .groupBy("corpus_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .filter(F.col("n_hits") >= F.lit(min_hits))
    )


# ---------------------------------------------------------------------------
# exact substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better" — the ExactSubstr operator)
# ---------------------------------------------------------------------------

def exact_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
    min_docs: int = 2,
    keep_first: bool = False,
) -> DataFrame:
    """Maximal cross-document exact-substring spans of ≥ ``min_tokens``
    whitespace tokens — the relational re-expression of Lee et al. 2022's
    suffix-array ExactSubstr dedup (arXiv:2107.06499; they use byte-level
    suffix arrays, we use the anchor-window approximation: the dedup unit
    is the ``min_tokens``-token window, and a reported span is the union
    of overlapping duplicated windows, so every reported span IS an exact
    corpus-duplicate substring and any duplicate substring of length
    ≥ 2·min_tokens−1 tokens is guaranteed found; duplicates in
    [min_tokens, 2·min_tokens−2] are found iff window-aligned).

    Shape (never O(n²), never a suffix array's global sort):
      1. map-only: every ``min_tokens``-token sliding window fingerprints
         to md5 of its space-joined tokens (tokens are whitespace-split,
         so ' ' is an unambiguous joiner);
      2. ONE shuffle: groupBy(fingerprint) with a partial-aggregated
         distinct-doc count — windows seen in ≥ ``min_docs`` docs are
         duplicated (associative agg, hot boilerplate windows are safe);
      3. ONE shuffle join back on fingerprint to mark positions;
      4. ONE shuffle: groupBy(doc) collects the (bounded: ≤ tokens/doc)
         sorted duplicate positions, and an in-row fold merges
         overlapping windows into maximal spans.

    ``keep_first=True`` skips marking each fingerprint's occurrences in
    its lowest-id document — the corpus keeps one canonical copy of every
    duplicated passage (the paper's keep-one semantics, canonicalized by
    document id; all occurrences inside that keeper doc survive).

    Output: one row per maximal span —
    ``(doc_id, span_start, span_end, span_tokens)`` with token-index
    bounds, start inclusive / end exclusive.

    Reference has no counterpart (SURVEY §2 LLM-pipeline extension).
    """
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    win = (
        df.select(F.col(id_col), toks.alias("__t"))
        .filter(F.size("__t") >= min_tokens)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("__t") - min_tokens),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice("__t", i + 1, min_tokens))
                    ),
                )
            ).alias("pos", "fp"),
        )
    )
    dup = (
        win.groupBy("fp")
        .agg(
            F.countDistinct(id_col).alias("__nd"),
            F.min(id_col).alias("__keeper"),
        )
        .filter(F.col("__nd") >= min_docs)
        .select("fp", "__keeper")
    )
    marked = win.join(dup, on="fp")
    if keep_first:
        marked = marked.filter(F.col(id_col) != F.col("__keeper"))
    # in-row islands merge: positions are sorted and every interval has
    # the same fixed length, so a strictly-overlapping successor always
    # extends the open span to p + min_tokens (touching spans stay split,
    # matching the windowed gaps-and-islands oracle)
    empty_spans = F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
    merged = F.aggregate(
        F.col("__ps"),
        empty_spans,
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (p < F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        (p + min_tokens).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(F.struct(p.alias("s"), (p + min_tokens).alias("e"))),
            )
        ),
    )
    return (
        marked.groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("__ps"))
        .select(id_col, F.explode(merged).alias("__sp"))
        .select(
            id_col,
            F.col("__sp.s").alias("span_start"),
            F.col("__sp.e").alias("span_end"),
            (F.col("__sp.e") - F.col("__sp.s")).alias("span_tokens"),
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
    min_docs: int = 2,
) -> DataFrame:
    """The serving half of :func:`exact_substring_spans`: rewrite every
    document with its duplicated spans REMOVED, keeping one canonical
    copy corpus-wide (``keep_first`` semantics — the lowest-id document
    holding a duplicated passage keeps it; every other document loses
    it). This is the operator Lee et al. 2022 apply before LM training.

    The span side arrives pre-merged and small (spans per doc ≤
    tokens/doc ÷ 1), so the rewrite is one left join on ``id_col`` plus
    an in-row indexed filter — the document table is touched exactly
    once more, and untouched documents pass through with
    ``n_removed_tokens = 0``.

    Output: ``(id_col, clean_text, n_tokens, n_removed_tokens)`` —
    ``clean_text`` is the surviving tokens re-joined with single spaces
    (the same canonical whitespace form every dedup operator here keys
    on).
    """
    spans = (
        exact_substring_spans(
            df, id_col, text_col,
            min_tokens=min_tokens, min_docs=min_docs, keep_first=True,
        )
        .groupBy(id_col)
        .agg(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    F.col("span_end").alias("e"),
                )
            ).alias("__spans"),
            F.sum("span_tokens").alias("__n_removed"),
        )
    )
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    base = df.select(F.col(id_col), toks.alias("__t"))
    joined = base.join(spans, on=id_col, how="left").select(
        id_col,
        "__t",
        F.coalesce("__spans", F.expr(
            "CAST(array() AS array<struct<s:int,e:int>>)"
        )).alias("__spans"),
        F.coalesce("__n_removed", F.lit(0)).cast("long").alias(
            "n_removed_tokens"
        ),
    )
    survive = F.filter(
        "__t",
        lambda x, i: ~F.exists(
            "__spans", lambda sp: (i >= sp["s"]) & (i < sp["e"])
        ),
    )
    return joined.select(
        id_col,
        F.concat_ws(" ", survive).alias("clean_text"),
        F.size("__t").cast("long").alias("n_tokens"),
        "n_removed_tokens",
    )
