"""Set-level semantic invariants for the non-oracle operators (SURVEY §7d:
fixed seeds, assert properties rather than exact rows)."""

from __future__ import annotations

from pyspark.sql import functions as F

from json_to_parquet_spark.queries import registry
from json_to_parquet_spark.queries.dedup import minhash_signatures
from json_to_parquet_spark.sources.catalog import load_table


def test_minhash_exact_dups_have_identical_signatures(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(40)
    shifted = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    sig = minhash_signatures(docs.unionAll(shifted))
    rows = {r.doc_id: tuple(r.sig) for r in sig.collect()}
    for doc_id, s in rows.items():
        if doc_id < 100000 and doc_id + 100000 in rows:
            assert rows[doc_id + 100000] == s


def test_minhash_lsh_finds_all_injected_dups(spark, sf_dir):
    pairs = registry()["x09_minhash_lsh"].spark(spark, sf_dir)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    n_docs = load_table(spark, sf_dir, "documents").count()
    expected = {(i, i + 100000) for i in range(n_docs)}
    missing = expected - found
    assert not missing, f"LSH missed {len(missing)} injected exact dups"
    # exact dups estimate at 1.0
    exact = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
    assert all(exact[p] == 1.0 for p in expected)


def test_simhash_exact_dups_identical_and_neighbors_close(spark, sf_dir):
    df = registry()["x18_simhash"].spark(spark, sf_dir)
    rows = {r.doc_id: r.simhash for r in df.collect()}
    assert len(rows) == load_table(spark, sf_dir, "documents").count()
    # fingerprint is 64-bit: some docs must use high bits (incl. sign bit)
    assert any(v < 0 for v in rows.values())


def test_lsh_ann_is_subset_of_exact_scores(spark, sf_dir):
    """Every ANN hit must carry the same cosine the exact path computes,
    and ANN results for a query live in the query's bucket only."""
    exact = {
        (r.q_id, r.vec_id): r.cos_sim
        for r in registry()["x11_cosine_topk"].spark(spark, sf_dir).collect()
    }
    ann = registry()["x20_lsh_ann_topk"].spark(spark, sf_dir).collect()
    assert len(ann) > 0
    for r in ann:
        if (r.q_id, r.vec_id) in exact:
            assert abs(exact[(r.q_id, r.vec_id)] - r.cos_sim) < 1e-9


def test_embedding_near_dup_recovers_injected_copies(spark, sf_dir):
    # sign-blocking must not lose a single injected exact copy: identical
    # vectors share the block by construction, so recall on them is exact
    ids = [
        r.vec_id
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id").collect()
    ]
    pairs = registry()["x19_embedding_near_dup"].spark(spark, sf_dir).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {(i, i + 10000) for i in ids}
    assert expected <= found
    for r in pairs:
        if (r.id_a, r.id_b) in expected:
            assert r.cos_sim == 1.0

def test_approx_percentile_within_rank_error(spark, sf_dir):
    """q59's sketch values must sit within the Greenwald-Khanna rank
    error (n / accuracy) of the exact percentiles — the property the
    sketch guarantees, checked per group against a full exact sort."""
    from json_to_parquet_spark.queries.relational3 import APPROX_ACC

    approx = {
        r.o_orderpriority: r
        for r in registry()["q59_approx_percentile"].spark(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    for prio, row in approx.items():
        vals = sorted(
            r.o_totalprice
            for r in orders.filter(F.col("o_orderpriority") == prio)
            .select("o_totalprice")
            .collect()
        )
        n = len(vals)
        assert n == row.n
        max_rank_err = max(1, (n + APPROX_ACC - 1) // APPROX_ACC)
        for q, got in ((0.5, row.p50_approx), (0.9, row.p90_approx)):
            target = int(q * (n - 1))
            lo = vals[max(0, target - max_rank_err)]
            hi = vals[min(n - 1, target + max_rank_err)]
            assert lo <= got <= hi, (prio, q, got, lo, hi)


# --- round-4 operators -------------------------------------------------------


def test_bpe_merge_counts_monotone(spark, sf_dir):
    """Merging pair (a,b) can only create pairs involving the new symbol
    'ab' — whose adjacency count is bounded by the merged pair's own —
    and only decrease existing pair counts, so the learned pair_cnt
    sequence must be non-increasing; rules must be distinct and the
    merged symbol the concatenation of its parts."""
    from json_to_parquet_spark.queries.tokenizer import BPE_MERGES

    rows = registry()["x101_bpe_train"].spark(spark, sf_dir).collect()
    assert len(rows) == BPE_MERGES
    cnts = [r.pair_cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    assert len({(r.w1, r.w2) for r in rows}) == BPE_MERGES
    for r in rows:
        assert r.merged == r.w1 + r.w2


def test_pca_loading_normalized(spark, sf_dir):
    """Max-norm power iteration: the dominant-PC loading vector must have
    max |component| exactly 1, a positive shared eigenvalue estimate,
    and one row per embedding dimension."""
    rows = registry()["x103_embedding_pca"].spark(spark, sf_dir).collect()
    assert len(rows) == 64
    assert max(abs(r.loading) for r in rows) == 1.0
    assert all(abs(r.loading) <= 1.0 for r in rows)
    eigvals = {r.eigval for r in rows}
    assert len(eigvals) == 1 and eigvals.pop() > 0


def test_lsh_sweep_leniency_ordering(spark, sf_dir):
    """With total hashes fixed, more bands of fewer rows is strictly more
    lenient: candidate sets grow (supersets in expectation) and recall
    must be non-decreasing as bands go 2 → 4 → 8; tp is bounded by both
    its candidate and truth sets."""
    rows = sorted(
        registry()["x104_lsh_tradeoff"].spark(spark, sf_dir).collect(),
        key=lambda r: r.bands,
    )
    recalls = [r.recall for r in rows]
    assert recalls == sorted(recalls)
    cands = [r.n_cand for r in rows]
    assert cands == sorted(cands)
    for r in rows:
        assert r.tp <= r.n_cand and r.tp <= r.n_truth


def test_temperature_mix_respects_quota_and_flattens(spark, sf_dir):
    """Selection never exceeds a language's quota, and alpha=0.5 must
    upweight the rarest language: its selected share is >= its raw
    corpus share."""
    sel = registry()["x106_temperature_mix"].spark(spark, sf_dir).collect()
    by_lang = {}
    for r in sel:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        quota = rows[0].quota
        assert len(rows) <= quota
        assert {r.pick for r in rows} == set(range(1, len(rows) + 1))
    docs = load_table(spark, sf_dir, "documents").groupBy("lang").count().collect()
    raw = {r.lang: r["count"] for r in docs}
    n_raw, n_sel = sum(raw.values()), len(sel)
    rare = min(raw, key=lambda k: (raw[k], k))
    if rare in by_lang:
        assert len(by_lang[rare]) / n_sel >= raw[rare] / n_raw


def test_group_split_no_source_straddles(spark, sf_dir):
    """The leakage-safety property itself: no source may appear in more
    than one split."""
    rows = registry()["x110_group_split"].spark(spark, sf_dir).collect()
    seen = {}
    for r in rows:
        assert seen.setdefault(r.source, r.split) == r.split


def test_q86_one_supplier_per_part(spark, sf_dir):
    """The Q2 decorrelated minimum must keep exactly one supplier row per
    part."""
    rows = registry()["q86_min_cost_supplier"].spark(spark, sf_dir).collect()
    parts = [r.p_partkey for r in rows]
    assert len(parts) == len(set(parts))


def test_incremental_neardup_finds_suffix_twins(spark, sf_dir):
    """Each batch doc is a suffix re-crawl of its base twin (Jaccard
    ~0.6-0.9), so the 4x4 banding should surface most twin pairs (x104
    measured ~0.87 recall at this similarity band) and every surfaced
    pair must carry a plausible signature overlap."""
    rows = registry()["x111_incremental_neardup"].spark(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    twins = {(b, b - 100000) for (b, _) in ((r.batch_id, r.base_id) for r in rows)}
    found_twins = sum(
        1 for r in rows if r.base_id == r.batch_id - 100000
    )
    assert found_twins >= 0.5 * n_docs, (found_twins, n_docs)
    for r in rows:
        assert 0 < r.n_eq <= 16 and abs(r.est_sim - r.n_eq / 16.0) < 1e-9
    del twins


def test_x111_leaves_no_persisted_frame(spark, sf_dir):
    """x111 returns a lazy frame, so nothing could ever unpersist a
    frame it cached: collecting it must leave the session's persistent
    RDD count unchanged."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    registry()["x111_incremental_neardup"].spark(spark, sf_dir).collect()
    assert jsc.getPersistentRDDs().size() == before


def test_tokenize_pack_bins_respect_budget(spark, sf_dir):
    """No bin may exceed the token budget by more than one document's
    length (the greedy running-sum contract), digests must be distinct,
    and doc ranges must tile without overlap."""
    from json_to_parquet_spark.queries.text import PACK_BUDGET

    rows = sorted(
        registry()["x113_tokenize_pack"].spark(spark, sf_dir).collect(),
        key=lambda r: r.bin_id,
    )
    assert len({r.content_md5 for r in rows}) == len(rows)
    for prev, cur in zip(rows, rows[1:]):
        assert prev.last_doc < cur.first_doc
    # every bin except possibly the last must have reached the budget
    # neighborhood; none may be wildly above it
    for r in rows[:-1]:
        assert r.bin_tokens >= PACK_BUDGET - 500
    for r in rows:
        assert r.bin_tokens <= PACK_BUDGET + 500


def test_media_shards_tile_and_bound(spark, sf_dir):
    from json_to_parquet_spark.queries.multimodal import MEDIA_SHARD_BYTES

    rows = sorted(
        registry()["x117_media_shard_pack"].spark(spark, sf_dir).collect(),
        key=lambda r: r.shard_id,
    )
    for prev, cur in zip(rows, rows[1:]):
        assert prev.last_doc < cur.first_doc
    for r in rows:
        assert r.shard_bytes <= MEDIA_SHARD_BYTES + 5000  # + one blob's slack


def test_next_event_examples_session_contract(spark, sf_dir):
    """Within a session: positions are 1..n, the first example has the
    <start> token and zero gap, and every later gap is below the session
    threshold (otherwise it would have opened a new session)."""
    from json_to_parquet_spark.queries.pipeline import SESSION_WINDOW_GAP_US

    rows = registry()["x115_next_event_examples"].spark(spark, sf_dir).collect()
    by_sess = {}
    for r in rows:
        by_sess.setdefault((r.user_id, r.sess_id), []).append(r)
    for key, rs in by_sess.items():
        rs.sort(key=lambda r: r.pos)
        assert [r.pos for r in rs] == list(range(1, len(rs) + 1))
        assert rs[0].prev_type == "<start>" and rs[0].gap_us == 0
        for r in rs[1:]:
            assert 0 <= r.gap_us < SESSION_WINDOW_GAP_US


def test_rerank_is_per_query_permutation(spark, sf_dir):
    rows = registry()["x119_rerank_stage"].spark(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q, rs in by_q.items():
        n = len(rs)
        assert sorted(r.new_rank for r in rs) == list(range(1, n + 1))
        assert sorted(r.retriever_rank for r in rs) == list(range(1, n + 1))
        for r in rs:
            assert r.ce_score >= r.cos_sim  # perturbation is non-negative


def test_shard_rebalance_range_beats_mod(spark, sf_dir):
    """The point of the x124 audit: contiguous hash-range assignment
    must move a strictly smaller fraction than hash-mod when the shard
    fleet resizes 8 -> 10, and every fraction must be a valid ratio."""
    rows = {r.strategy: r for r in registry()["x124_shard_rebalance"].spark(spark, sf_dir).collect()}
    assert set(rows) == {"mod", "range"}
    for r in rows.values():
        assert 0 <= r.n_moved <= r.n_docs
        assert abs(r.moved_frac - r.n_moved / r.n_docs) < 1e-6
    assert rows["range"].moved_frac < rows["mod"].moved_frac


def test_token_budget_never_exceeded_and_greedy(spark, sf_dir):
    """x126: every language's kept-token total must respect the budget,
    keep at least one document, and n_kept <= n_candidates."""
    from json_to_parquet_spark.queries.assembly import TOKEN_BUDGET

    rows = registry()["x126_token_budget_select"].spark(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 < r.n_kept <= r.n_candidates
        assert 0 < r.tokens_kept <= TOKEN_BUDGET
        assert 0.0 < r.min_kept_score <= 1.0


def test_forget_cascade_bounds(spark, sf_dir):
    """x127: forgotten counts are bounded by totals, chunk counts are at
    least one per forgotten doc, and shards_touched never exceeds the
    shard fleet size or the forgotten-doc count."""
    from json_to_parquet_spark.queries.evalsuite import N_SHARDS

    rows = registry()["x127_forget_cascade"].spark(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r.docs_forgotten <= r.docs_total
        if r.docs_forgotten:
            assert r.chunks_forgotten >= r.docs_forgotten
            assert r.tokens_forgotten > 0
            assert 1 <= r.shards_touched <= min(N_SHARDS, r.docs_forgotten)
        else:
            assert r.tokens_forgotten is None and r.chunks_forgotten is None


def test_epoch_mixture_rates_drive_counts(spark, sf_dir):
    """x123: a 100%-rate source must contribute every document to every
    epoch; lower-rate sources contribute at most their source size; and
    epoch draws differ across epochs (independence)."""
    from json_to_parquet_spark.sources.catalog import load_table

    plan = registry()["x123_epoch_mixture"].spark(spark, sf_dir).collect()
    totals = {
        r.source: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    per_epoch_counts = {}
    for r in plan:
        assert r.n_docs <= totals[r.source]
        if r.sample_pct == 100:
            assert r.n_docs == totals[r.source]
        per_epoch_counts.setdefault(r.source, {})[r.epoch] = r.n_docs
    # at least one sub-100% source must differ between two epochs
    assert any(
        len(set(by_epoch.values())) > 1
        for src, by_epoch in per_epoch_counts.items()
    )


def test_vocab_coverage_monotone(spark, sf_dir):
    """x129: coverage must be strictly positive, non-decreasing in vocab
    size, and bounded by 1; token counts likewise."""
    rows = sorted(
        registry()["x129_vocab_coverage_curve"].spark(spark, sf_dir).collect(),
        key=lambda r: r.vocab_size,
    )
    assert rows
    prev_cov, prev_n = 0.0, 0
    for r in rows:
        assert 0.0 < r.coverage <= 1.0
        assert r.coverage >= prev_cov and r.n_tokens_covered >= prev_n
        prev_cov, prev_n = r.coverage, r.n_tokens_covered


def test_mergeable_stats_exact(spark, sf_dir):
    """x130: merged partials must equal the direct aggregates exactly —
    the algebraic contract incremental statistics depend on."""
    rows = registry()["x130_mergeable_stats"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.partials_equal
        assert r.mean_direct == r.mean_merged
        assert r.var_direct == r.var_merged
        assert r.var_direct >= 0.0


def test_hopping_window_counts_events_twice(spark, sf_dir):
    """x131: width = 2x slide, so every event lands in exactly two
    windows — total windowed count must be exactly 2x the event count."""
    from json_to_parquet_spark.sources.catalog import load_table

    rows = registry()["x131_hopping_window"].spark(spark, sf_dir).collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows) == 2 * n_events


def test_budget_sweep_consistent_with_exact_selection(spark, sf_dir):
    """x128 vs x126: doc-granular greedy selection must spend at least
    as many tokens as the coarsest-fitting decile threshold (histogram
    selection stops at a bin boundary <= budget), and both respect the
    budget."""
    from json_to_parquet_spark.queries.assembly import TOKEN_BUDGET

    exact = {
        r.lang: r for r in registry()["x126_token_budget_select"].spark(spark, sf_dir).collect()
    }
    sweep = registry()["x128_budget_threshold_sweep"].spark(spark, sf_dir).collect()
    best_fitting = {}
    for r in sweep:
        if r.fits_budget:
            cur = best_fitting.get(r.lang)
            if cur is None or r.cum_tokens > cur:
                best_fitting[r.lang] = r.cum_tokens
    assert set(exact) == {r.lang for r in sweep}
    for lang, ex in exact.items():
        assert ex.tokens_kept <= TOKEN_BUDGET
        if lang in best_fitting:
            assert ex.tokens_kept >= best_fitting[lang]


def test_prefix_filter_join_loses_no_pairs(spark, sf_dir):
    """x137's whole point: prefix filtering must find EXACTLY the pairs
    a brute-force full posting join finds at the same threshold — the
    no-false-negative guarantee of the m - ceil(t*m) + 1 prefix bound."""
    from json_to_parquet_spark.queries.dedup import PPJ_DEN, PPJ_NUM, shingles
    from json_to_parquet_spark.sources.catalog import load_table

    got = {
        (r.id_a, r.id_b): r.n_inter
        for r in registry()["x137_prefix_filter_join"].spark(spark, sf_dir).collect()
    }
    posting = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(shingles(F.col("text"))).alias("sh"))
    )
    a = posting.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("s1"))
    b = posting.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("s2"))
    inter = (
        a.join(b, (F.col("s1") == F.col("s2")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = posting.groupBy("doc_id").agg(F.count(F.lit(1)).alias("m"))
    brute = {}
    mm = {r.doc_id: r.m for r in sizes.collect()}
    for r in inter.collect():
        union = mm[r.id_a] + mm[r.id_b] - r.n_inter
        if PPJ_DEN * r.n_inter >= PPJ_NUM * union:
            brute[(r.id_a, r.id_b)] = r.n_inter
    assert got == brute and len(brute) > 0


def test_simhash_hamming_pairs_complete(spark, sf_dir):
    """x141's structural guarantee: with 4 bands and HAM_MAX=3 flips,
    at least one band is untouched, so band bucketing must find EXACTLY
    the pairs a brute-force all-pairs hamming scan finds."""
    from itertools import combinations

    from json_to_parquet_spark.queries.dedup import (
        HAM_MAX,
        x69_simhash_arith,
    )

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in registry()["x141_simhash_hamming_pairs"].spark(spark, sf_dir).collect()
    }
    fps = {
        r.doc_id: r.simhash
        for r in x69_simhash_arith(spark, sf_dir).collect()
    }
    brute = {}
    for a, b in combinations(sorted(fps), 2):
        h = bin(fps[a] ^ fps[b]).count("1")
        if h <= HAM_MAX:
            brute[(a, b)] = h
    assert got == brute


def test_contrastive_triplets_well_formed(spark, sf_dir):
    """x144: every triplet's positive digest differs from its anchor
    (the crop is a strict subset), the negative is a different document
    of the same language, and anchors appear at most once."""
    from json_to_parquet_spark.sources.catalog import load_table

    rows = registry()["x144_contrastive_pairs"].spark(spark, sf_dir).collect()
    assert rows
    langs = {
        r.doc_id: r.lang
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    }
    seen = set()
    for r in rows:
        assert r.anchor_id not in seen
        seen.add(r.anchor_id)
        assert r.pos_md5 != r.anchor_md5
        assert r.neg_id != r.anchor_id
        assert langs[r.neg_id] == r.lang


def test_bootstrap_band_contains_full_mean(spark, sf_dir):
    """x150: every replica band must bracket the full-sample mean, use
    all replicas, and have positive width (the draws are not all
    identical)."""
    rows = registry()["x150_bootstrap_ci"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_replicas == 20
        assert r.ci_lo <= r.mean_full <= r.ci_hi
        assert r.ci_hi > r.ci_lo
