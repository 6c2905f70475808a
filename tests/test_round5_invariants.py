"""Semantic invariants for the round-5 operators (beyond oracle parity).

Oracle parity proves Spark == DuckDB; these assert the operators mean
what they claim: MMR picks are distinct and relevance-led, mined
negatives really cross the label boundary, span masks stay in bounds,
the compaction plan conserves rows, and the streaming near-dup loop is
bit-identical to its batch twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from json_to_parquet_spark.queries import registry
from json_to_parquet_spark.sources.catalog import load_table


def test_x169_mmr_picks_distinct_and_relevance_led(spark, sf_dir):
    from json_to_parquet_spark.queries.retrieval import MMR_PICKS

    rows = registry()["x169_mmr_diversify"].spark(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q, picks in by_q.items():
        assert len(picks) == MMR_PICKS
        assert sorted(p.pick for p in picks) == list(range(1, MMR_PICKS + 1))
        assert len({p.vec_id for p in picks}) == MMR_PICKS
        # later picks pay a redundancy penalty relative to pure λ·rel,
        # so within rounds 2..k the greedy scores are non-increasing
        # ONLY per round's own remaining pool — the robust cross-round
        # invariant is just boundedness: |score| ≤ λ·1 + (1−λ)·1 = 1.
        assert all(abs(p.score) <= 1.0 for p in picks)


def test_x167_negatives_cross_the_label_boundary(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    labels = {r.vec_id: r.label for r in emb.collect()}
    rows = registry()["x167_hard_negatives"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert labels[r.pos_id] == labels[r.q_id]
        assert labels[r.neg_id] != labels[r.q_id]
        assert abs(r.margin - round(r.pos_cos - r.neg_cos, 6)) < 1e-9


def test_x159_confusion_rows_conserve_doc_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    truth = {
        r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    rows = registry()["x159_nb_langid"].spark(spark, sf_dir).collect()
    seen: dict[str, int] = {}
    for r in rows:
        assert r.pred_lang in truth  # predictions come from the label set
        seen[r.true_lang] = seen.get(r.true_lang, 0) + r.n_docs
    assert seen == truth


def test_x166_span_masks_in_bounds(spark, sf_dir):
    from json_to_parquet_spark.queries.curation import SPAN_COUNT, SPAN_LEN

    rows = registry()["x166_span_corruption"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert SPAN_LEN <= r.n_masked <= SPAN_COUNT * SPAN_LEN
        assert r.n_masked <= r.n_tokens
        assert 0 < r.corruption_rate <= 1.0


def test_x170_compaction_conserves_rows_and_files(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    n_rows = ev.count()
    n_days = ev.select(F.date_format("ts", "yyyy-MM-dd")).distinct().count()
    rows = registry()["x170_compaction_plan"].spark(spark, sf_dir).collect()
    assert sum(r.n_rows for r in rows) == n_rows
    assert sum(r.n_files for r in rows) == n_days  # 1 file/partition (x149)
    bins = [r.bin for r in rows]
    assert bins == sorted(bins)
    for r in rows:
        assert r.d_min <= r.d_max


def test_x179_keywords_ranked_and_positive(spark, sf_dir):
    from json_to_parquet_spark.queries.pipeline import TR_TOP

    rows = registry()["x179_textrank_keywords"].spark(spark, sf_dir).collect()
    assert 0 < len(rows) <= TR_TOP
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    prs = [r.pr_micro for r in rows]
    assert prs == sorted(prs, reverse=True)
    assert all(p > 0 for p in prs)
    assert len({r.keyword for r in rows}) == len(rows)


def test_x180_sketch_estimates_bounded(spark, sf_dir):
    rows = registry()["x180_source_overlap_sketch"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.est_jaccard <= 1.0
        assert 0.0 <= r.exact_jaccard <= 1.0
        assert abs(r.abs_err - round(abs(r.est_jaccard - r.exact_jaccard), 6)) < 1e-9


def test_x181_loglik_nonpositive(spark, sf_dir):
    rows = registry()["x181_session_perplexity"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_trans >= 1
        assert r.mean_logp <= 0.0  # log of MLE probabilities


def test_x182_regions_consistent(spark, sf_dir):
    from json_to_parquet_spark.queries.quality import SPAN_W

    rows = registry()["x182_dup_span_merge"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_regions <= r.n_dup_windows
        assert r.covered_tokens >= SPAN_W * r.n_regions
        # a merged region of k windows covers at most k + SPAN_W - 1 tokens
        assert r.covered_tokens <= r.n_dup_windows + (SPAN_W - 1) * r.n_regions


def test_x183_negatives_come_from_vocab(spark, sf_dir):
    from json_to_parquet_spark.queries.curation import SG_VOCAB, _words

    docs = load_table(spark, sf_dir, "documents").select("text")
    vocab = {
        r.word
        for r in _words(docs)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(SG_VOCAB)
        .collect()
    }
    rows = registry()["x183_skipgram_pairs"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.center in vocab and r.ctx in vocab
        assert r.neg1 in vocab and r.neg2 in vocab
        assert r.center != r.ctx


def test_x184_padding_dominates_tokens(spark, sf_dir):
    rows = registry()["x184_length_bucketed_batching"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.padded >= r.tokens
        assert r.n_batches >= 1
        assert 0.0 <= r.waste_pct < 100.0


def test_x185_pruning_decisions_sane(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    total = ev.count()
    rows = registry()["x185_stats_pruning_planner"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_files_scanned <= r.n_files_total
        assert 0 <= r.rows_matched <= total
        assert r.lo <= r.hi
        # a range matching rows must scan at least one file
        if r.rows_matched > 0:
            assert r.n_files_scanned >= 1


def test_x187_containment_families(spark, sf_dir):
    """The two deterministic re-encode families must land where frame
    math puts them: every half-truncated copy has containment 1.0
    against its source; every corrupted copy has (n-1)/n < 1."""
    from json_to_parquet_spark.queries.multimodal import (
        FD_CORRUPT_OFF,
        FD_HALF_OFF,
    )

    rows = registry()["x187_frame_dedup"].spark(spark, sf_dir).collect()
    assert rows
    half = [r for r in rows if r.id_b - r.id_a == FD_HALF_OFF]
    corrupt = [r for r in rows if r.id_b - r.id_a == FD_CORRUPT_OFF]
    assert half and corrupt
    assert all(r.containment == 1.0 for r in half)
    assert all(r.containment < 1.0 for r in corrupt)
    for r in rows:
        assert 0.0 < r.containment <= 1.0
        assert r.shared_frames >= 1
