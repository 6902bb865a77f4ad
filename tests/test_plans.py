"""Physical-plan audits: the scale properties the operators claim must be
visible in `.explain("formatted")` — candidate generation is keyed (never a
cartesian product), filters reach the parquet scan, projections prune, and
single-shuffle operators really have one exchange.

Plans are shape-stable across scale factors, so these run at sf0.001.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from furchild_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_of(spark, name: str) -> str:
    return _formatted(QUERIES[name].fn(spark, SF))


@pytest.mark.parametrize(
    "name",
    [
        "minhash_neardup",
        "ngram_jaccard",
        "embedding_cosine_neardup",
        "exact_dedup",
        "dupe_groups",
        "ann_ivf_topk",
        "ann_lsh_topk",
        "ann_lsh_topk_probe0",
        "exact_dedup_incremental",
        "minhash_neardup_incremental",
        "semdedup_incremental",
        "contamination_check",
        "kmv_distinct_sketch",
        "inverted_index",
    ],
)
def test_no_cartesian_candidate_generation(spark, name):
    """Dedup/ANN candidate pairs come from keyed joins; an O(n²) cross
    product anywhere in these plans is a scale bug. (ann_cosine_topk, the
    deliberate brute-force *baseline*, is excluded by design; ann_ivf_topk's
    centroid assignment broadcasts an 8-row side, which is a
    BroadcastNestedLoopJoin but not a corpus×corpus product.)"""
    p = plan_of(spark, name)
    assert "CartesianProduct" not in p


@pytest.mark.parametrize(
    "name",
    [
        "minhash_neardup",
        "ngram_jaccard",
        "embedding_cosine_neardup",
        "exact_dedup",
        "exact_dedup_incremental",
        "minhash_neardup_incremental",
    ],
)
def test_no_nested_loop_joins_in_dedup(spark, name):
    p = plan_of(spark, name)
    assert "BroadcastNestedLoopJoin" not in p


def test_contamination_broadcasts_eval_side(spark):
    """The eval shingle set must broadcast — a shuffle join here would
    exchange the full corpus shingle stream at 100 TB."""
    p = plan_of(spark, "contamination_check")
    assert "BroadcastHashJoin" in p


def test_epoch_shuffle_rank_is_sharded(spark):
    """The global shuffle rank must decompose into per-shard windows —
    a plain Window.orderBy(key) would funnel the corpus through ONE task.
    (The 256-row shard-offset prefix sum is the only SinglePartition
    window allowed in this plan.)"""
    p = plan_of(spark, "epoch_shuffle")
    assert "hashpartitioning(__shard" in p


def test_length_batching_rank_is_sub_sharded(spark):
    """The band rank must decompose across (band, length, md5-prefix)
    sub-shards — a window partitioned only by the band serializes a fat
    band (the realistic post-chunking case) into one task."""
    p = plan_of(spark, "length_batching")
    assert "__sub" in p and "hashpartitioning(length_bucket" in p


def test_sequence_packing_cumsum_is_sharded(spark):
    """The global token-offset cumsum must decompose into per-shard
    windows (pack_sequences mirrors epoch_shuffle); a plain
    Window.orderBy over the corpus would serialize the whole stream
    through one task."""
    p = plan_of(spark, "sequence_packing")
    assert "hashpartitioning(__sub" in p


def test_contamination_shingle_sets_materialized(spark):
    """The shingle-set projection must be persisted before the explode:
    without the barrier Catalyst collapses the staged tokenizer into
    every shingle element AND pushes the whole fan-out below the
    repartition into the single-task scan stage (a measured 23× hit)."""
    p = plan_of(spark, "contamination_check")
    assert "InMemoryTableScan" in p


def test_pricing_summary_pushdown_and_pruning(spark):
    p = plan_of(spark, "pricing_summary")
    # the shipdate filter reaches the parquet scan...
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:200]
    # ...and unused wide columns never leave it
    assert "l_comment" not in p


def test_revenue_by_region_broadcasts_dims(spark):
    p = plan_of(spark, "revenue_by_region")
    assert p.count("BroadcastHashJoin") >= 2  # nation, region


def _n_exchanges(plan: str) -> int:
    # formatted mode lists each operator once as "(N) Exchange" in the
    # detail section (the tree shows "Exchange (N)")
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))


def test_exact_dedup_is_single_shuffle(spark):
    p = plan_of(spark, "exact_dedup")
    # one exchange on the fingerprint, with map-side partial aggregation
    assert _n_exchanges(p) == 1
    assert "partial_" in p


def test_dedup_window_is_single_shuffle(spark):
    p = plan_of(spark, "dedup_latest_event")
    assert _n_exchanges(p) == 1


def test_asof_join_no_cartesian(spark):
    p = plan_of(spark, "asof_click_attribution")
    assert "CartesianProduct" not in p


@pytest.mark.parametrize("name", ["hash_split", "pii_redact"])
def test_map_only_curation_ops_have_zero_exchanges(spark, name):
    """Split assignment and PII scrubbing are pure projections — any
    exchange in these plans means a scale regression (at 100 TB they must
    fuse into the scan)."""
    p = plan_of(spark, name)
    assert _n_exchanges(p) == 0
    assert "CartesianProduct" not in p


def test_sessionize_shares_window_exchange(spark):
    """lag + running-sum + session rollup: one exchange for both window
    passes (same partitioning) plus one for the (user, session) groupBy."""
    p = plan_of(spark, "sessionize_events")
    assert _n_exchanges(p) <= 2
    assert "CartesianProduct" not in p


def test_vocab_idf_single_token_shuffle(spark):
    """Token DF groupBy is the only data shuffle (plus the 1-row corpus
    count's SinglePartition exchange); the corpus-size join is broadcast."""
    p = plan_of(spark, "vocab_idf")
    assert _n_exchanges(p) <= 2
    assert "CartesianProduct" not in p


def test_salted_join_salts_the_join_key(spark):
    """The physical join key must include the salt (the whole point: the
    hot key's rows hash to salt_factor different reducers), and the plan
    must stay a keyed join — no broadcast of the replicated side would
    defeat the test's purpose here (tiny input), so only shape is checked."""
    p = plan_of(spark, "salted_join_rollup")
    assert "__salt" in p
    assert "CartesianProduct" not in p


def test_skewed_distinct_count_two_phase(spark):
    """Salted two-phase shape: the salt must be in the partial grouping
    key, and the final per-group exchange only ever carries ≤ salt_factor
    pre-counted rows per group. (countDistinct itself expands to a
    distinct-then-count pair, so the plan shows 3 exchanges; the hot-group
    property holds because each carries (group, salt)- or
    (group, salt, value)-keyed data, never one reducer per group with the
    full distinct set.)"""
    p = plan_of(spark, "skewed_distinct_count")
    assert "__salt" in p
    assert 2 <= _n_exchanges(p) <= 3


def test_stratified_sample_is_map_only(spark):
    p = plan_of(spark, "stratified_sample")
    assert _n_exchanges(p) == 0


def test_minhash_is_map_only_until_candidate_join(spark):
    """Shingling, set-building, all 16 minhashes, and band signatures are
    per-row projections; the first exchange in the plan belongs to the
    candidate-pair self-join / verification, not signature building — so
    the plan has no aggregate exchange feeding the band explode."""
    from furchild_spark.operators import dedup
    from furchild_spark.queries.catalog import table

    d = table(spark, SF, "documents")
    sets = dedup.shingle_sets(d, "doc_id", "text", 3)
    sigs = dedup.minhash_signatures(sets, "doc_id", 16)
    banded = dedup.lsh_band_signatures(sigs, "doc_id", 4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        banded.explain("formatted")
    p = buf.getvalue()
    # no aggregate/join exchange: the only allowed exchange is fanout()'s
    # RoundRobin spread of a too-few-splits local scan (a no-op at scale)
    assert "hashpartitioning" not in p
    assert "HashAggregate" not in p and "SortAggregate" not in p


def test_ivf_assignment_is_map_only(spark):
    """VERDICT r2: corpus→centroid assignment must never shuffle the
    corpus. The map-only formulation broadcasts the one-row centroid array
    (BroadcastHashJoin on a constant key) and takes the argmax in-row; the
    only exchanges allowed are the centroid aggregation's SinglePartition
    collect (8 rows) and the broadcast itself — no hashpartitioning
    shuffle and no row_number window. (Catalyst constant-folds the
    `__one = 1` equi-key into a condition-free BroadcastNestedLoopJoin
    whose build side is the single centroid-array row — that IS the
    intended broadcast, not an O(n·m) blowup, so BNLJ is allowed here;
    a CartesianProduct of two distributed sides is not.)"""
    from furchild_spark.operators import similarity
    from furchild_spark.queries.catalog import table

    emb = table(spark, SF, "embeddings")
    cents = similarity.centroid_array(emb, "vec_id", "embedding", 8)
    assign = similarity.ivf_assign(emb, cents, "vec_id", "embedding")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assign.explain("formatted")
    p = buf.getvalue()
    assert "hashpartitioning" not in p
    assert "Window" not in p
    assert "CartesianProduct" not in p


def test_neardup_banding_bounds_candidates(spark):
    """The banded hyperplane LSH must generate candidates from a keyed
    equi-join on (band, signature) — per-band bucket count is 2^r, so the
    join key must carry the band signature, and no cross product may
    appear. Also checks the pair-dedup aggregation exists (a pair caught
    by both bands must emit once)."""
    p = plan_of(spark, "embedding_cosine_neardup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "bk" in p  # the (band, sig) struct join key


def test_no_spark_action_during_ann_plan_construction(spark):
    """VERDICT r2: catalog-function *construction* must not run Spark jobs
    (the round-2 `.first()` dim probes). Constructing every ANN/dedup
    entry's DataFrame under a dedicated job group must schedule zero jobs
    in that group. The one legitimate construction-time job — parquet
    schema inference on the FIRST read of a table — is excluded by warming
    the memoized table() cache before the audit."""
    names = [
        "ann_cosine_topk",
        "embedding_lsh_buckets",
        "embedding_cosine_neardup",
        "ann_ivf_topk",
        "ann_lsh_topk",
        "minhash_neardup",
        "exact_dedup",
    ]
    for name in names:
        QUERIES[name].fn(spark, SF)  # warm table() schema-inference cache
    sc = spark.sparkContext
    group = "plan-construction-audit"
    sc.setJobGroup(group, "audit", interruptOnCancel=False)
    try:
        for name in names:
            QUERIES[name].fn(spark, SF)  # build only — no action
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        sc.setJobGroup("", "")
    assert list(jobs) == [], f"plan construction ran Spark jobs: {jobs}"


def test_quality_rules_is_map_only(spark):
    """The Gopher-style repetition metrics are in-row array expressions —
    the plan must contain no exchange at all (at 100 TB the quality gate
    is a pure scan-side map, pipelined with the parquet read)."""
    p = plan_of(spark, "quality_rules")
    assert _n_exchanges(p) == 0
    # column pruning: only doc_id/text leave the scan
    assert "n_chars" not in p and "source" not in p


def test_rollup_revenue_is_single_shuffle(spark):
    """ROLLUP plans as Expand + one hash agg: all three grouping sets share
    a single exchange with map-side partial aggregation."""
    p = plan_of(spark, "rollup_revenue")
    assert _n_exchanges(p) == 1
    assert "Expand" in p and "partial_" in p


def test_window_frames_share_one_exchange(spark):
    """Both frames (running total, 3-row moving avg) use the same
    partitioning and sort — Spark must plan them in ONE Window operator
    over one exchange, not re-shuffle per frame family."""
    p = plan_of(spark, "window_frames")
    assert _n_exchanges(p) == 1


def test_pivot_event_counts_is_single_shuffle(spark):
    """Explicit pivot values → one hash agg of conditional counts; no
    plan-time distinct-discovery job and a single exchange."""
    p = plan_of(spark, "pivot_event_counts")
    assert _n_exchanges(p) == 1
    assert "partial_" in p


def _singlepartition_windows(df):
    """Walk the physical plan tree and return the Window/Sort operators
    whose OWN input partitioning is SinglePartition — not mere substring
    co-occurrence (a healthy per-key window plus an unrelated 1-row
    global aggregate would co-occur in the same plan text)."""
    bad = []

    def walk(node):
        n_children = node.children().size()
        if "Window" in node.nodeName():
            for i in range(n_children):
                child = node.children().apply(i)
                if "SinglePartition" in child.outputPartitioning().toString():
                    bad.append(node.nodeName())
        for i in range(n_children):
            walk(node.children().apply(i))

    plan = df._jdf.queryExecution().executedPlan()
    # AQE wraps the initial plan; lint the pre-execution physical tree
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    walk(plan)
    return bad


@pytest.fixture(scope="module")
def catalog_plans(spark):
    """Every non-``_e2e`` entry built ONCE for the three catalog-wide
    lints: name -> (formatted plan, SinglePartition-window findings).
    Only strings are kept, so no entry's checkpointed data stays pinned
    after its plan is read."""
    out = {}
    for name in QUERIES:
        if name.endswith("_e2e"):
            continue
        df = QUERIES[name].fn(spark, SF)
        out[name] = (_formatted(df), _singlepartition_windows(df))
    return out


def test_catalog_wide_no_singlepartition_windows(catalog_plans):
    """Catalog-WIDE lint: a Window running on a SinglePartition input
    funnels the whole relation through ONE task — the classic silent
    scale-killer. Allowed only where the windowed relation is provably
    bounded by a dimension, not the data:

    - ann_ivf_topk: 8-row centroid aggregate
    - epoch_shuffle: 256-row shard-offset prefix sum (documented as the
      only SinglePartition in that plan; the corpus rank is per-shard)
    - sequence_packing: the same 256-row shard-offset prefix sum
      (pack_sequences mirrors epoch_shuffle's decomposition)
    - model__dim_date: calendar-bounded date dimension
    - sql_identical_text: rank over per-nation aggregates (≤ |nation|)
    - tfidf_top_terms: vocab-level scalar aggregate feeding the IDF join

    The check walks the physical tree and tests each Window operator's
    actual input partitioning, so single-row global aggregates elsewhere
    in the same plan never cause a false flag."""
    bounded_ok = {
        "ann_ivf_topk", "epoch_shuffle", "model__dim_date",
        "sql_identical_text", "tfidf_top_terms", "sequence_packing",
        "tokenize_pack_pipeline",  # same 256-row shard-offset prefix sum
        # prune rank over the seed vocab's multi-char pieces: bounded BY
        # CONSTRUCTION at <= max_piece_len/min_frac (a multi piece needs
        # min_frac of the corpus occurrence mass to exist), not by data
        "unigram_tokenize_em",
    }
    for name, (_plan, bad) in catalog_plans.items():
        if name in bounded_ok:
            continue
        assert not bad, (
            f"{name}: {bad} run on SinglePartition input — single-task "
            "bottleneck at scale (whitelist only with a bounded-"
            "cardinality argument)"
        )


def test_catalog_wide_no_cartesian_products(catalog_plans):
    """Catalog-WIDE lint, not a per-entry sample: every entry's physical
    plan is cartesian-free, and nested-loop joins appear only where a
    broadcast of a provably tiny side is the intended design. A new entry
    that accidentally plans a cross product fails here before it ever
    reaches the driver. (Write-path *_e2e entries are excluded — building
    them executes real writes, and their interior plans are the same
    merge/snapshot machinery covered by their own tests.)"""
    bnlj_ok = {
        "vocab_idf",       # broadcast 1-row corpus-count join
        "tfidf_top_terms", # same scalar broadcast
        "ann_cosine_topk", # deliberate brute-force baseline
        "ann_ivf_topk",    # 8-row centroid-array broadcast
        "ann_pq_topk",     # broadcast per-query ADC lookup tables
        "ann_rrpq_topk",   # same ADC broadcast, rotated space
        "ann_pq_rerank_topk",  # same broadcast + shortlist re-rank join
        "ann_ivfpq_topk",  # same 8-row centroid-array constant-key broadcast
        "tpch_q11_important_parts",  # broadcast 1-row scalar threshold
        "tpch_q22_sales_opportunity",  # broadcast 1-row AVG balance floor
        "temperature_resample",  # broadcast 1-row min-tokens scalar
        "numeric_histogram",  # broadcast 1-row min/max bounds
        "kmv_vocab_overlap",  # broadcast ≤64-row base sketch replication
        "pagerank_trade",  # broadcast 1-row node-count scalar (per round)
        "bm25_topk",  # broadcast 1-row N/avgdl corpus scalars
        "retrieval_eval",  # embeds the BM25 run → same 1-row scalars
        "rrf_hybrid_topk",  # embeds the BM25 run → same 1-row scalars
        "semdedup",  # 1-row centroid-array constant-key broadcast (ivf_assign)
        "semdedup_ivf",  # same 1-row broadcasts, coarse + fine arrays
        "semdedup_incremental",  # same 1-row centroid broadcast, batch+corpus
        "ann_ivf_incremental",  # 1-row frozen-centroid + drift-scalar broadcasts; bf tripwire
        "ann_ivfpq_incremental",  # same frozen-centroid broadcast + constant-folded codebook ADC
        "ann_sq8_incremental",  # 1-row frozen-codec + drift-scalar broadcasts (ADC serving)
        "dsir_select",  # broadcast 1-row (tp, tq) smoothed-totals scalar
        "quality_classifier",  # broadcast 1-row totals/fallback/prior scalars
        "wordpiece_tokenize",  # 1-row occurrence-total + packed-vocab-map broadcasts
        "unigram_tokenize",  # same 1-row total/piece-mass/score-map broadcasts
        "unigram_tokenize_em",  # same 1-row broadcasts ×2 rounds + n_multi/n_vocab scalars
        "unigram_em_target_vocab",  # same 1-row broadcasts per EM round + n_vocab scalar
        "embedding_pca_direction",  # 1-row signed-pivot broadcast per iterate
        "ccnet_buckets",  # broadcast 1-row percentile-thresholds scalar
        "bpe_merges",  # 1-row best-pair broadcast per round (checkpointed)
        "sq8_codec",   # 1-row min/max codec broadcast (train artifact)
        "sq8_codes",   # same 1-row codec broadcast on the encode path
        "ann_sq8_topk",  # 1-row codec + broadcast query codes (ADC serving)
        "bpe_apply",   # 1-row best-pair broadcast inside the embedded trainer
    }
    for name, (p, _bad) in catalog_plans.items():
        assert "CartesianProduct" not in p, f"{name}: cartesian product"
        if name not in bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in p, f"{name}: unexpected BNLJ"


def test_cube_revenue_is_single_shuffle(spark):
    """CUBE = Expand (4 cuboid replicas) + ONE hash aggregate with
    map-side partials — one exchange for all grouping combinations."""
    p = plan_of(spark, "cube_revenue")
    assert _n_exchanges(p) == 1
    assert "Expand" in p and "partial_" in p


def test_unpivot_is_map_only_single_scan(spark):
    """Unpivot plans as one Expand over ONE scan — no exchange and no
    triple self-union rescan (the naive long-form rewrite)."""
    p = plan_of(spark, "unpivot_metrics")
    assert _n_exchanges(p) == 0
    assert "Expand" in p
    import re as _re

    assert len(_re.findall(r"^\(\d+\) Scan parquet", p, _re.M)) == 1


def test_window_rank_family_shares_one_exchange(spark):
    """ntile/percent_rank/cume_dist/lead/lag share one window definition →
    one exchange + one sort, not one per function."""
    p = plan_of(spark, "window_rank_family")
    assert _n_exchanges(p) == 1


def test_higher_order_funcs_map_only(spark):
    """transform/filter/aggregate array expressions stay in-row: zero
    exchanges, and only doc_id/text survive column pruning."""
    p = plan_of(spark, "higher_order_funcs")
    assert _n_exchanges(p) == 0
    assert "n_chars" not in p and "lang" not in p


def test_shipping_priority_pushdown_and_topk(spark):
    """All three selective predicates reach the parquet scans and the
    top-10 plans as TakeOrderedAndProject, not a global sort."""
    p = plan_of(spark, "shipping_priority_topk")
    assert "TakeOrderedAndProject" in p
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in p
    assert "LessThan(o_orderdate" in p and "GreaterThan(l_shipdate" in p


def test_returned_items_broadcasts_nation(spark):
    p = plan_of(spark, "returned_items_by_customer")
    assert "TakeOrderedAndProject" in p
    assert "EqualTo(l_returnflag,R)" in p
    assert "BroadcastHashJoin" in p


def test_snapshot_diff_full_outer_shape(spark):
    """The reconciliation diff plans as a shuffled full outer join (Spark
    cannot and must not broadcast a full outer side), the date filters
    reach both parquet scans, and the whole query is three exchanges:
    one per join side plus the final classification aggregate."""
    p = plan_of(spark, "snapshot_diff_reconcile")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "LessThan(o_orderdate" in p
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert _n_exchanges(p) == 3


def test_argmax_latest_is_single_agg_no_window(spark):
    """Aggregate-form keep-latest must NOT plan a window (that is what
    dedup_latest_event proves): one hash-aggregate exchange with map-side
    partial max_by, no Sort-for-Window operator."""
    p = plan_of(spark, "argmax_latest_event")
    assert "Window" not in p
    assert _n_exchanges(p) == 1
    assert "partial_" in p


def test_fuzzy_match_blocking_is_equi_keyed(spark):
    """The entity-resolution self-join must be a keyed hash/merge join on
    the composite (first char, length) block — never a nested-loop or
    cartesian plan — and the length window must appear as a generator
    (explode over sequence), not as a post-join filter: the filter form
    is the quadratic-in-the-hottest-letter shape the r4 verdict flagged.
    Levenshtein must be the bounded 3-arg form (short-circuits the DP),
    visible in the plan as levenshtein(..., 3)."""
    p = plan_of(spark, "fuzzy_match_names")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "explode(sequence(" in p
    assert "blk_char" in p and "blk_len" in p
    assert "levenshtein(name_a" in p and "Some(3)" in p


def test_driver_window_ordering_is_evidence_driven(spark):
    """Registration-order guard: the driver records correctness rows for
    exactly the FIRST 50 registered entries, so registration order must
    be exactly the evidence-rotation order — entries with no green row
    in ANY CORRECTNESS_r*.json first (never checked, or checked and
    red), then proven entries oldest-green-first, alphabetical within an
    age class. Re-derives the ordering independently of
    queries/__init__.py (glob over all rounds, not a hard-coded tuple —
    the r4 ADVICE defect) and fails on any divergence, so a refactor
    that reorders imports or breaks the rotation cannot silently burn
    window slots re-proving fresh entries."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                green[name] = max(green.get(name, 0), int(m.group(1)))
    expected = sorted(QUERIES, key=lambda n: (green.get(n, 0), n))
    assert list(QUERIES) == expected, (
        "registration order diverges from evidence rotation; first few "
        f"diffs: {[(a, b) for a, b in zip(QUERIES, expected) if a != b][:5]}"
    )
    # and the window invariant itself: no proven entry may occupy a slot
    # while an unproven one waits outside
    window, rest = list(QUERIES)[:50], list(QUERIES)[50:]
    unproven_outside = [n for n in rest if n not in green]
    proven_inside = [n for n in window if n in green]
    assert not (unproven_outside and proven_inside), (
        f"window wastes slots on proven {proven_inside[:5]} while "
        f"unproven {unproven_outside[:5]} wait outside"
    )


def test_bucketed_join_is_shuffle_free(spark):
    """bucketed_join_e2e's point: both sides bucketed+sorted on the join
    key -> the sort-merge join consumes the on-disk layout directly. The
    plan must contain the SMJ, read bucketed scans, and carry exactly ONE
    exchange — the final status rollup — with NO sort under the join
    beyond what the bucket files already provide."""
    p = plan_of(spark, "bucketed_join_e2e")
    assert "SortMergeJoin" in p
    assert "Bucketed: true" in p, "scan did not use the bucketed layout"
    assert _n_exchanges(p) == 1, f"expected only the rollup exchange:\n{p}"


def test_bucketed_reuse_both_joins_shuffle_free(spark):
    """bucketed_reuse_e2e's amortization claim: ONE bucketed layout,
    TWO different downstream joins, and NEITHER join shuffles — the
    plan's only exchanges are the two final rollups (2), both joins are
    SMJs over bucketed scans."""
    import re

    p = plan_of(spark, "bucketed_reuse_e2e")
    smjs = re.findall(r"^\(\d+\) SortMergeJoin", p, flags=re.M)
    assert len(smjs) == 2, p
    assert "Bucketed: true" in p, "scans did not use the bucketed layout"
    assert _n_exchanges(p) == 2, f"expected only the two rollup exchanges:\n{p}"


def test_catalog_wide_no_python_row_udfs(catalog_plans):
    """Catalog-WIDE: no entry's plan may contain a Python row UDF
    (BatchEvalPython) or a pandas scalar UDF (ArrowEvalPython). The only
    sanctioned Python path is Arrow mapInPandas (MapInPandas nodes —
    multimodal codecs and the PQ encoder, each justified and measured);
    anything else silently breaks whole-stage codegen for the whole
    stage it lands in. (Write-path *_e2e entries excluded as in the
    cartesian lint.)"""
    for name, (p, _bad) in catalog_plans.items():
        assert "BatchEvalPython" not in p, f"{name}: Python row UDF"
        assert "ArrowEvalPython" not in p, f"{name}: pandas scalar UDF"


def test_bm25_semi_filters_corpus_before_tf_shuffle(spark):
    """bm25_topk's 100 TB property: the exploded token stream is
    semi-joined against the (broadcast) query-term set BEFORE the tf
    groupBy, so the corpus-side exchange carries only query-term hits.
    The semi join must be a broadcast hash join (query set is tiny), and
    the brute force alternative — shuffling the whole token stream —
    would show as an exchange whose input is the raw explode."""
    p = plan_of(spark, "bm25_topk")
    assert "CartesianProduct" not in p
    semi = p.find("BroadcastHashJoin")
    assert semi != -1 and "LeftSemi" in p, "query-term semi filter missing"
    # the semi filter must sit below (= appear after, in formatted output,
    # within the same subtree) a hash-aggregate exchange: check that at
    # least one Generate (explode) feeds a LeftSemi BroadcastHashJoin
    assert "Generate" in p, "token explode missing from the plan"


def test_semdedup_pair_join_is_keyed_on_cluster(spark):
    """SemDeDup's scale contract: assignment is map-only (no corpus
    shuffle — same shape test_ivf_assignment_is_map_only proves), and the
    within-cluster pair generation is ONE equi self-join keyed on
    cent_id (a CartesianProduct corpus×corpus pairing must never
    appear). Catalyst picks the physical form by size — broadcast-hash
    at test scale, sort-merge on hashpartitioning(cent_id) at scale —
    but either way the join KEY must be the cluster id."""
    p = plan_of(spark, "semdedup")
    assert "CartesianProduct" not in p
    assert "hashpartitioning(cent_id" in p or "Left keys [1]: [cent_id" in p


def test_ngram_lm_model_rollup_reuses_aggregated_table(spark):
    """bigram_lm_score trains in one map-side-combined groupBy on the
    bigram string; the context rollup derives from the ALREADY-aggregated
    model (exchange keyed on bg / the split prefix), never a second
    corpus-wide tokenize window. The plan must carry a
    hashpartitioning(bg) exchange and zero SinglePartition windows."""
    p = plan_of(spark, "ngram_lm_score")
    assert "hashpartitioning(bg" in p
    # pin the actual property — no Window running over a SinglePartition
    # input, via the tree walk (the old `"Window" not in p or
    # "SinglePartition" not in p` passed vacuously whenever the plan had
    # no Window at all, and would fail spuriously on unrelated
    # co-occurrence; round-8 advice fix)
    assert not _singlepartition_windows(QUERIES["ngram_lm_score"].fn(spark, SF))


def test_retrieval_eval_broadcasts_judgments(spark):
    """retrieval_eval's evaluation-side tables (qrels, per-query totals)
    are evaluation-sized and must broadcast — the run-side pass is the
    only distributed work. BroadcastHashJoin must appear; no cartesian."""
    p = plan_of(spark, "retrieval_eval")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_dsir_selection_is_takeordered_not_window(spark):
    """DSIR's top-k must compile to TakeOrderedAndProject (distributed
    partial top-k), never a SinglePartition row_number window; the 1-row
    totals crossJoin is a broadcast scalar (BNLJ allowed), and the
    log-ratio table must broadcast back onto the feature rows."""
    p = plan_of(spark, "dsir_select")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_quality_classifier_scoring_is_broadcast_takeordered(spark):
    """The NB quality classifier's weight table is bounded at 4096 rows
    by the hashing trick, so the scoring join must be a BroadcastHashJoin
    (never a shuffled join keyed on the bucket), the top-k must compile
    to TakeOrderedAndProject (distributed partial top-k), and the only
    nested-loop joins are the 1-row totals/fallback/prior scalar
    broadcasts — no cartesian anywhere."""
    p = plan_of(spark, "quality_classifier")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_rrf_fusion_windows_are_query_partitioned(spark):
    """RRF's re-rank (and both source-run ranks) must partition by
    query_id — a SinglePartition window over the fused runs would
    serialize hybrid search; the catalog-wide lint also covers this,
    but the fusion is new enough to pin explicitly. No cartesian."""
    p = plan_of(spark, "rrf_hybrid_topk")
    assert "CartesianProduct" not in p
    assert "hashpartitioning(query_id" in p
    # tree-walk check, not the vacuous "SinglePartition, Window" substring
    # (that exact text never appears in formatted plans — verified)
    assert not _singlepartition_windows(QUERIES["rrf_hybrid_topk"].fn(spark, SF))


def test_exact_substring_spans_bounded_shuffles_with_partials(spark):
    """ExactSubstr span detection's 100 TB contract (the docstring's '3
    bounded shuffles'): window fingerprints are map-only, the duplicated-
    fingerprint groupBy shows MAP-SIDE PARTIAL aggregation (the guard for
    the hot-boilerplate skew path — a viral header fingerprint combines
    per-partition before the exchange), and the whole plan carries
    exactly three KEYED data exchanges (distinct-doc pre-agg, fp rollup,
    doc islands merge) — never a cartesian candidate pairing and never a
    corpus-wide sort. The r11 widen_scan guard may ADD round-robin
    repartitions of the raw scan (unsplittable-input remedy, a no-op at
    real scale); those are counted separately and bounded, so a keyed
    shuffle sneaking in still fails."""
    import re

    p = plan_of(spark, "exact_substring_spans")
    assert "CartesianProduct" not in p
    assert "partial_" in p
    n_total = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    n_rr = p.count("RoundRobinPartitioning")
    assert n_total - n_rr == 3, (n_total, n_rr)
    assert n_rr <= 2  # widen_scan on the doc scan (subtree may appear 2x)
    assert "hashpartitioning(fp" in p


def test_tokenize_pack_pipeline_single_checkpoint_feeds_both_legs(spark):
    """The composed tokenizer pipeline materializes the span-removal
    subtree through exactly ONE localCheckpoint, and every leg (trainer
    rounds, serve-side apply, packing) reads THAT RDD — a second
    checkpoint id or a leg recomputing the dedup subtree would double
    the most expensive stage of the pipeline."""
    import re

    df = QUERIES["tokenize_pack_pipeline"].fn(spark, SF)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    ids = re.findall(r"(MapPartitionsRDD\[\d+\]) at localCheckpoint", p)
    assert len(set(ids)) == 1, f"expected one checkpoint RDD, got {set(ids)}"
    assert len(ids) >= 2, "both legs must read the checkpointed subtree"


def test_power_iteration_second_moment_is_join_free_single_pass(spark):
    """The power-iteration data pass is ONE projection over the
    quantized corpus (posexplode) feeding a dim-group aggregate that
    yields the full second-moment matrix — no self-join, one exchange,
    one corpus scan for ALL rounds (r11 optimization: the old
    formulation scanned the corpus once per round)."""
    from pyspark.sql import functions as F

    from furchild_spark.operators.similarity import _second_moment_matrix

    base = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1), F.lit(2), F.lit(3)).cast("array<long>").alias("__q"),
    )
    plan_holder = {}
    orig_collect = type(base).collect

    def capture(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan_holder["plan"] = buf.getvalue()
        return orig_collect(df)

    type(base).collect = capture
    try:
        m = _second_moment_matrix(base, 3)
    finally:
        type(base).collect = orig_collect
    plan = plan_holder["plan"]
    assert "Join" not in plan, plan
    # exactly the one aggregate exchange survives (tree section)
    assert plan.count("Exchange (") == 1, plan
    # and the matrix is the exact second moment of 4 copies of [1,2,3]
    assert m == [[4, 8, 12], [8, 16, 24], [12, 24, 36]]
