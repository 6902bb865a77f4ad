"""Retrieval-quality tests for the approximate ANN paths.

The catalog oracles prove IVF/LSH compute their OWN semantics exactly
(hash parity with DuckDB), but say nothing about whether the pruned
search still finds the true neighbors. These tests measure recall@k of
each approximate strategy against the exact brute-force baseline on the
deterministic fixture — a drop below the floor means a real retrieval
regression (broken centroid assignment, over-aggressive pruning), not a
formatting change.

Floors are intentionally loose: tiny fixture, 4-bit LSH / 8-centroid IVF.
The point is a tripwire, not a benchmark.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from furchild_spark.operators import similarity
from furchild_spark.queries import table

SF = "/root/testdata/sf0.01"
K = 5


@pytest.fixture(scope="module")
def truth(spark):
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk_bruteforce(emb, queries, "vec_id", "embedding", k=K)
    out = {}
    for r in exact.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert len(out) == 10
    return out


def _recall(approx_df, truth):
    got = {}
    for r in approx_df.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    return hits / sum(len(t) for t in truth.values())


def test_ivf_recall_floor(spark, truth):
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    approx = similarity.ivf_topk(
        emb, queries, "vec_id", "embedding", k=K, num_centroids=8, nprobe=2
    )
    r = _recall(approx, truth)
    assert r >= 0.5, f"IVF recall@{K} collapsed to {r:.2f}"


def test_ivf_recall_improves_with_nprobe(spark, truth):
    """More probes may only help — a monotonicity break means the probe
    selection is wrong, not just unlucky."""
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    recalls = []
    for nprobe in (1, 4, 8):
        approx = similarity.ivf_topk(
            emb, queries, "vec_id", "embedding", k=K, num_centroids=8, nprobe=nprobe
        )
        recalls.append(_recall(approx, truth))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0  # nprobe = num_centroids is exhaustive ⇒ exact


def test_lsh_recall_floor(spark, truth):
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    approx = similarity.lsh_bucketed_topk(
        emb, queries, "vec_id", "embedding", k=K, num_planes=4, seed=42, dim=64
    )
    r = _recall(approx, truth)
    assert r >= 0.3, f"LSH recall@{K} collapsed to {r:.2f}"


@pytest.fixture(scope="module")
def pq_codebook(spark):
    emb = table(spark, SF, "embeddings")
    return similarity.pq_train(emb, subspaces=32, k=16, iters=1)


def test_pq_adc_recall_floor(spark, truth, pq_codebook):
    """Raw ADC ranks over trained 16-byte codes (no re-rank)."""
    emb = table(spark, SF, "embeddings")
    approx = similarity.pq_adc_topk(
        emb, list(range(10)), subspaces=32, codebook=pq_codebook,
        n_neighbors=K + 1,
    )
    got = {}
    for r in approx.collect():
        if r["vec_id"] != r["query_id"]:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    recall = hits / sum(len(t) for t in truth.values())
    assert recall >= 0.4, f"PQ ADC recall collapsed: {recall}"


def test_rrpq_recall_floor_and_rotation_invariants(spark, truth):
    """Random-rotation PQ (rotate_quantized → train/encode/ADC in the
    rotated space): recall must hold a floor at least as good as plain
    ADC's tripwire, and the rotation itself must be norm-preserving up
    to the documented uniform ×dim scale (Hadamard×sign is orthogonal
    — a broken H or sign table shows up as a norm mismatch long before
    it shows up as bad recall)."""
    emb = table(spark, SF, "embeddings")
    rot = similarity.rotate_quantized(emb, "vec_id", "embedding", dim=64)
    # orthogonality: ||Rx||² == 64 · ||x||² exactly (integer domain)
    q = emb.selectExpr(
        "vec_id",
        f"{similarity._pq_quantize_sql('embedding')} AS qv",
    )
    chk = (
        q.join(rot, on="vec_id")
        .selectExpr(
            "aggregate(embedding, 0L, (a, x) -> a + x * x) AS rn",
            "aggregate(qv, 0L, (a, x) -> a + x * x) * 64 AS n64",
        )
        .filter("rn <> n64")
        .count()
    )
    assert chk == 0, "Hadamard×sign rotation lost orthogonality"

    cb = similarity.pq_train(
        rot, vec_col="embedding", subspaces=32, k=16, iters=1,
        pre_quantized=True,
    )
    approx = similarity.pq_adc_topk(
        rot, list(range(10)), vec_col="embedding", subspaces=32,
        codebook=cb, n_neighbors=K + 1, pre_quantized=True,
    )
    got = {}
    for r in approx.collect():
        if r["vec_id"] != r["query_id"]:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(got.get(q_, set()) & t) for q_, t in truth.items())
    recall = hits / sum(len(t) for t in truth.values())
    assert recall >= 0.4, f"rotated-PQ ADC recall collapsed: {recall}"


def test_pq_rerank_recall_floor(spark, truth, pq_codebook):
    """ADC shortlist + exact cosine re-rank — the production pipeline
    must recover ~the exact ranking (measured 1.0 on this fixture)."""
    emb = table(spark, SF, "embeddings")
    out = similarity.pq_topk_reranked(
        emb, list(range(10)), subspaces=32, codebook=pq_codebook,
        shortlist=50, n_neighbors=K,
    )
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    recall = hits / sum(len(t) for t in truth.values())
    assert recall >= 0.9, f"PQ re-rank recall collapsed: {recall}"


def test_ivfpq_recall_floor(spark, truth):
    """IVF-PQ stacks two lossy stages (coarse pruning + 0.3-step residual
    quantization) — the floor is below IVF-flat's by design, but a
    collapse means broken residuals or a mis-keyed candidate join."""
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    approx = similarity.ivfpq_topk(
        emb, queries, "vec_id", "embedding",
        k=K, num_centroids=8, nprobe=2, dim=64, subspaces=32, kcodes=16,
    )
    r = _recall(approx, truth)
    assert r >= 0.3, f"IVF-PQ recall@{K} collapsed to {r:.2f}"


def test_ivfpq_nprobe_exhaustive_matches_ivf_candidates(spark, truth):
    """At nprobe = num_centroids the coarse stage prunes nothing, so any
    remaining recall loss is purely the PQ quantization — it must be at
    least as good as the pruned configuration."""
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    pruned = similarity.ivfpq_topk(
        emb, queries, "vec_id", "embedding", k=K, num_centroids=8, nprobe=2
    )
    full = similarity.ivfpq_topk(
        emb, queries, "vec_id", "embedding", k=K, num_centroids=8, nprobe=8
    )
    assert _recall(full, truth) >= _recall(pruned, truth)


def test_two_level_assign_self_when_every_vector_is_a_centroid(spark):
    """k = n: each vector's nearest fine centroid is itself (cosine 1,
    id tiebreak), whatever coarse cell routing happened — the identity
    that pins both argmax levels at once."""
    import random

    from furchild_spark.operators import similarity as S

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = S.two_level_assign(df, num_centroids=12, num_coarse=4).collect()
    assert len(out) == 12
    assert all(r.cent_id == r.neighbor_id for r in out)


def test_semdedup_ivf_agrees_with_flat_on_tight_twins(spark):
    """Exact duplicate vectors land in the SAME cell under any
    assignment (identical argmax inputs), so twin pairs are found by
    both the flat and the two-level variant; the keep-lowest-id rule
    marks exactly the higher twin."""
    import random

    from furchild_spark.operators import similarity as S

    rng = random.Random(11)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(6)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows += [(100 + i, v) for i, v in enumerate(base[:3])]  # 3 exact twins
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    for fn in (
        lambda: S.semdedup(df, threshold=0.999, num_centroids=3),
        lambda: S.semdedup_ivf(df, threshold=0.999, num_centroids=3,
                               num_coarse=2),
    ):
        out = {r.vec_id: r.is_dup for r in fn().collect()}
        assert {k for k, v in out.items() if v} == {100, 101, 102}


def test_maintained_ivf_equals_rebuild_and_append_is_batch_only(spark, tmp_path):
    """The maintained index (build + append) must return EXACTLY what a
    from-scratch rebuild over base∪batch returns (frozen centroids =
    rebuild centroids since both are the first 8 vectors), and the append
    must be O(batch): the base's list files survive untouched."""
    import os

    from pyspark.sql import functions as F

    from furchild_spark.operators.similarity import (
        index_append, index_build, index_drift, index_search,
        ivf_flat_codec, ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 250)
    batch = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf")

    codec = ivf_flat_codec(num_centroids=8, min_sim=0.5)
    index_build(spark, base, path, codec)
    files_before = set(os.listdir(f"{path}__lists"))
    index_append(spark, batch, path, codec)
    files_after = set(os.listdir(f"{path}__lists"))
    assert files_before <= files_after  # base files carried, not rewritten
    assert files_after - files_before   # batch landed as new files

    got = index_search(spark, queries, path, codec, k=5, nprobe=2)
    want = ivf_topk(emb, queries, "vec_id", "embedding", k=5,
                    num_centroids=8, nprobe=2)
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w  # recall tripwire: maintained ≡ rebuild, exactly

    d = index_drift(spark, batch, path, codec, max_frac=0.2).first()
    assert d["n_batch"] == batch.count()
    assert 0.0 <= d["frac"] <= 1.0

    # r10 ADVICE: an EMPTY append batch must deterministically report no
    # drift — (0, 0, 0.0, False), never NULLs a boolean gate skips over
    d0 = index_drift(spark, batch.limit(0), path, codec).first()
    assert (d0["n_batch"], d0["n_flagged"]) == (0, 0)
    assert d0["frac"] == 0.0 and d0["needs_retrain"] is False


def test_maintained_ivfpq_equals_frozen_codebook_rebuild(spark, tmp_path):
    """Maintained IVF-PQ (build on base + append batch) must return
    EXACTLY what ivfpq_topk over the full corpus returns when given the
    SAME frozen codebook (same artifact => same serving), and the append
    must carry the base's code files untouched."""
    import os

    from pyspark.sql import functions as F

    from furchild_spark.operators.similarity import (
        index_append, index_build, index_search, ivfpq_codec, ivfpq_topk,
        ivfpq_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 250)
    batch = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivfpq")

    codec = ivfpq_codec(num_centroids=8, dim=64, subspaces=32, kcodes=16)
    index_build(spark, base, path, codec)
    before = set(os.listdir(f"{path}__codes"))
    index_append(spark, batch, path, codec)
    after = set(os.listdir(f"{path}__codes"))
    assert before <= after and after - before

    got = index_search(spark, queries, path, codec, k=5, nprobe=2)
    cb_base = ivfpq_train(base, "vec_id", "embedding", 8, 64, 32, 16)
    want = ivfpq_topk(emb, queries, "vec_id", "embedding", k=5,
                      num_centroids=8, nprobe=2, dim=64, subspaces=32,
                      kcodes=16, codebook=cb_base)
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w


def test_maintained_sq8_equals_frozen_codec_rebuild(spark, tmp_path):
    """Maintained SQ8 (build on base + append batch) must equal sq8_serve
    over the full corpus encoded with the SAME frozen codec; appends
    carry the base's code files; the drift monitor counts saturated
    batch rows exactly."""
    import os

    from pyspark.sql import functions as F

    from furchild_spark.operators.similarity import (
        index_append, index_build, index_drift, index_search, quantize,
        sq8_codec, sq8_encode, sq8_serve, sq8_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 250)
    batch = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "sq8")

    codec_ = sq8_codec(dim=64)
    index_build(spark, base, path, codec_)
    before = set(os.listdir(f"{path}__codes"))
    index_append(spark, batch, path, codec_)
    after = set(os.listdir(f"{path}__codes"))
    assert before <= after and after - before

    got = index_search(spark, queries, path, codec_, k=5)
    codec = sq8_train(base, "embedding", 64)
    want = sq8_serve(
        sq8_encode(emb, codec, "vec_id", "embedding"), codec,
        sq8_encode(queries, codec, "vec_id", "embedding"), "vec_id", 5,
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}

    d = index_drift(spark, batch, path, codec_).first()
    assert d["n_batch"] == batch.count()
    # cross-check the saturation count against a direct computation
    cdc = codec.first()
    mins, maxs = list(cdc["mins"]), list(cdc["maxs"])
    qb = batch.select(quantize("embedding").alias("q")).collect()
    direct = sum(
        1 for r in qb
        if any(v < mins[i] or v > maxs[i] for i, v in enumerate(r["q"]))
    )
    assert d["n_flagged"] == direct

    # r10 ADVICE: empty batch → deterministic no-drift row, not NULLs
    d0 = index_drift(spark, batch.limit(0), path, codec_).first()
    assert (d0["n_batch"], d0["n_flagged"]) == (0, 0)
    assert d0["frac"] == 0.0 and d0["needs_retrain"] is False


# ---------------------------------------------------------------------------
# drift -> retrain -> swap (r10 VERDICT #4: the monitors' needs_retrain
# decision now has an action wired to it)
# ---------------------------------------------------------------------------

_CODECS = {
    "ivf": lambda sim: sim.ivf_flat_codec(num_centroids=8),
    "ivfpq": lambda sim: sim.ivfpq_codec(),
    "sq8": lambda sim: sim.sq8_codec(),
}


@pytest.mark.parametrize("name", sorted(_CODECS))
def test_retrain_equals_fresh_rebuild(spark, tmp_path, name):
    """After build+append, index_retrain over the accumulated corpus must
    leave every artifact and the codes table bit-for-bit identical to a
    from-scratch index_build — for IVF-PQ the residual Lloyd re-runs, for
    SQ8 the codec widens — search ≡ fresh-index search, and appends
    resume against the swapped artifacts."""
    from furchild_spark.operators.similarity import (
        index_append, index_build, index_retrain, index_search,
    )

    codec = _CODECS[name](similarity)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 250)
    batch = emb.filter(F.col("vec_id") >= 250)
    queries = emb.filter(F.col("vec_id") < 10)

    maintained = str(tmp_path / f"{name}_m")
    index_build(spark, base, maintained, codec)
    index_append(spark, batch, maintained, codec)
    index_retrain(spark, emb, maintained, codec)

    fresh = str(tmp_path / f"{name}_f")
    index_build(spark, emb, fresh, codec)

    for suffix in (*codec.artifacts, codec.codes):
        a = {tuple(map(repr, r))
             for r in spark.read.parquet(maintained + suffix).collect()}
        b = {tuple(map(repr, r))
             for r in spark.read.parquet(fresh + suffix).collect()}
        assert a == b, suffix
    got = index_search(spark, queries, maintained, codec, k=K, nprobe=2)
    want = index_search(spark, queries, fresh, codec, k=K, nprobe=2)
    assert {tuple(r) for r in got.collect()} == \
        {tuple(r) for r in want.collect()}
    # appends keep working against the swapped artifacts
    index_append(spark, batch.limit(0), maintained, codec)


def test_sq8_retrain_restores_drifted_recall(spark, tmp_path):
    """The full monitor->decision->action loop on a REAL drift: a batch
    scaled 10x outside the trained rails saturates (needs_retrain=True)
    and degrades recall for queries in the new range; retraining over
    the accumulated corpus widens the codec, after which (a) the monitor
    reports no saturation, (b) the index equals a fresh rebuild, and
    (c) recall@k for the drifted queries is restored to the fresh-index
    floor."""
    from furchild_spark.operators.similarity import (
        cosine_topk_bruteforce, index_append, index_build, index_drift,
        index_retrain, index_search, sq8_codec,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 250)
    scaled = emb.filter(F.col("vec_id") >= 250).select(
        "vec_id",
        F.transform("embedding", lambda x: x * 10.0).alias("embedding"),
    )
    corpus = base.unionByName(scaled)
    queries = scaled.filter(F.col("vec_id") < 260)

    codec = sq8_codec()
    path = str(tmp_path / "sq8_m")
    index_build(spark, base, path, codec)
    index_append(spark, scaled, path, codec)
    d = index_drift(spark, scaled, path, codec).first()
    assert d["needs_retrain"] is True and d["frac"] > 0.5

    truth = {}
    for r in cosine_topk_bruteforce(
            corpus, queries, "vec_id", "embedding", k=K).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    before = recall(index_search(spark, queries, path, codec, k=K))

    index_retrain(spark, corpus, path, codec)
    d2 = index_drift(spark, scaled, path, codec).first()
    assert d2["needs_retrain"] is False and d2["n_flagged"] == 0

    fresh = str(tmp_path / "sq8_f")
    index_build(spark, corpus, fresh, codec)
    after_df = index_search(spark, queries, path, codec, k=K)
    fresh_df = index_search(spark, queries, fresh, codec, k=K)
    assert {tuple(r) for r in after_df.collect()} == \
        {tuple(r) for r in fresh_df.collect()}
    after = recall(after_df)
    # the drifted index loses most of the true neighbors (measured 0.20
    # here: saturated rails collapse the scaled vectors); retraining
    # restores recall to the fresh-index floor (0.56 — the equality
    # assertion above proves after == fresh, so this is the best any
    # rebuild can do on this codec)
    assert before <= 0.4 and after >= before + 0.2


def test_retrain_staging_crash_window_serves_old_index(spark, tmp_path):
    """Crash-consistency of the retrain swap: everything computes into
    __staged dirs BEFORE any live table moves, so a crash mid-stage
    leaves the live index untouched and a search still serves the OLD
    artifacts; re-running the retrain completes normally (stale __staged
    is simply overwritten)."""
    from furchild_spark.operators.similarity import (
        index_build, index_retrain, index_search, sq8_codec, sq8_train,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 250)
    queries = emb.filter(F.col("vec_id") < 5)
    codec = sq8_codec()
    path = str(tmp_path / "sq8_crash")
    index_build(spark, base, path, codec)
    before = {tuple(r) for r in index_search(
        spark, queries, path, codec, k=K).collect()}

    # simulate the crash: staged artifacts exist, swap never happened
    sq8_train(emb, "embedding", 64).write.mode("overwrite").parquet(
        path + "__codec__staged")
    mid = {tuple(r) for r in index_search(
        spark, queries, path, codec, k=K).collect()}
    assert mid == before  # live index untouched by the staged leftovers

    index_retrain(spark, emb, path, codec)
    fresh = str(tmp_path / "sq8_fresh")
    index_build(spark, emb, fresh, codec)
    got = {tuple(r) for r in index_search(
        spark, queries, path, codec, k=K).collect()}
    want = {tuple(r) for r in index_search(
        spark, queries, fresh, codec, k=K).collect()}
    assert got == want  # retrain over stale __staged completes cleanly
