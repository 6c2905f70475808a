"""Semantic invariants for the round-12 additions (beyond oracle parity).

x246 is the graph's segment-merge act: the oracle hash proves the
OUTPUT is the policy-mixed graph it claims to be, but it cannot prove
the incremental mechanics — that rebuilt cells are bit-identical to a
full x238 rebuild of those cells, that cold segments were served
VERBATIM from the persisted base store (not rescored), and that the
merge policy actually exercised both branches.  These tests pin those
facts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from json_to_parquet_spark.queries.graph_ssl import (
    GCMP_DEN,
    GCMP_NUM,
    base_graph_paths,
    knn_edges,
    x245_graph_add_cdc,
    x246_graph_compaction,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


EDGE = ["src_id", "dst_id", "rank", "cos_sim"]


def test_x246_exercises_both_branches(spark, sf_dir):
    """The 1/3 staleness threshold must bite both ways at gate scale —
    a one-branch run would make the segment-merge claim vacuous."""
    out = x246_graph_compaction(spark, sf_dir).cache()
    provs = {r["provenance"] for r in out.select("provenance").distinct().collect()}
    assert provs == {"rebuilt", "base", "cdc"}, provs
    # each source is served by exactly one segment class
    multi = (
        out.select("src_id", "provenance")
        .distinct()
        .groupBy("src_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert multi == 0
    out.unpersist()


def test_x246_rebuilt_cells_equal_full_rebuild(spark, sf_dir):
    """A hot cell's merged re-ring must be bit-identical to the same
    cell's slice of a FULL x238 rebuild — the identity that makes
    incremental compaction safe (routing is per-vector independent
    under the frozen quantizer, so merged placement == full placement
    cell by cell)."""
    out = x246_graph_compaction(spark, sf_dir).cache()
    hot_srcs = out.filter(F.col("provenance") == "rebuilt").select("src_id").distinct()
    got = _rows(
        out.filter(F.col("provenance") == "rebuilt").select(*EDGE), EDGE
    )
    want = _rows(
        knn_edges(spark, sf_dir).join(hot_srcs, "src_id").select(*EDGE), EDGE
    )
    assert got == want
    out.unpersist()


def test_x246_cold_base_served_verbatim(spark, sf_dir):
    """Cold cells' base edges must equal the persisted base store's rows
    for those cells EXACTLY — the I/O the merge policy saves."""
    out = x246_graph_compaction(spark, sf_dir).cache()
    cold_cells = (
        out.filter(F.col("provenance") == "base").select("cell").distinct()
    )
    got = _rows(out.filter(F.col("provenance") == "base").select(*EDGE), EDGE)
    edges_p, _ = base_graph_paths(spark, sf_dir)
    want = _rows(
        spark.read.parquet(edges_p).join(cold_cells, "cell").select(*EDGE),
        EDGE,
    )
    assert got == want and len(got) > 0
    out.unpersist()


def test_x246_cold_adds_equal_x245_cdc(spark, sf_dir):
    """Cold cells' add edges must equal x245's append-only CDC edges for
    those sources — compaction changes NOTHING below the threshold."""
    out = x246_graph_compaction(spark, sf_dir).cache()
    cdc_srcs = out.filter(F.col("provenance") == "cdc").select("src_id").distinct()
    got = _rows(out.filter(F.col("provenance") == "cdc").select(*EDGE), EDGE)
    want = _rows(
        x245_graph_add_cdc(spark, sf_dir).join(cdc_srcs, "src_id").select(*EDGE),
        EDGE,
    )
    assert got == want and len(got) > 0
    out.unpersist()


def _clustered_dir():
    import sys

    sys.path.insert(0, "tests")
    from clustered_fixture import write_clustered_embeddings

    return write_clustered_embeddings("/tmp/clustered_fx", n=2000)


def _sweep_rows(spark, d):
    from json_to_parquet_spark.queries.graph_ssl import x247_graph_knob_sweep

    return {
        (r["cap"], r["ov"], r["k_edges"], r["nplace"]): r
        for r in x247_graph_knob_sweep(spark, d).collect()
    }


def test_x247_registered_config_matches_x240(spark, sf_dir):
    """The sweep's (64,16,4,nplace=1) row must reproduce x240's audit
    exactly — the sweep's restricted build is bit-identical to each
    audit source's slice of the full build."""
    from json_to_parquet_spark.queries.graph_ssl import (
        KNNG_CAP,
        KNNG_K,
        KNNG_OV,
        x240_knn_graph_recall,
    )

    rows = _sweep_rows(spark, sf_dir)
    reg = rows[(KNNG_CAP, KNNG_OV, KNNG_K, 1)]
    x240 = x240_knn_graph_recall(spark, sf_dir).agg(
        F.sum("n_true").alias("t"), F.sum("n_hit").alias("h")
    ).collect()[0]
    assert (reg["n_true"], reg["n_hits"]) == (x240["t"], x240["h"])


def test_x247_keeping_more_edges_is_monotone(spark, sf_dir):
    """k_edges=8 keeps a superset of k_edges=4's edges from the SAME
    ranked candidate list, so hits are provably non-decreasing."""
    from json_to_parquet_spark.queries.graph_ssl import KNNG_CAP, KNNG_K, KNNG_OV

    rows = _sweep_rows(spark, sf_dir)
    assert (
        rows[(KNNG_CAP, KNNG_OV, 2 * KNNG_K, 1)]["n_hits"]
        >= rows[(KNNG_CAP, KNNG_OV, KNNG_K, 1)]["n_hits"]
    )


def test_x247_multiprobe_placement_is_the_productive_knob(spark, sf_dir):
    """The sweep's measured conclusion, pinned on BOTH geometries:
    doubling ring capacity barely moves recall (misses are routed to
    other cells), while nplace=2 placement strictly improves it —
    deterministic data, so strict inequalities are stable."""
    from json_to_parquet_spark.queries.graph_ssl import KNNG_CAP, KNNG_K, KNNG_OV

    for d in (sf_dir, _clustered_dir()):
        rows = _sweep_rows(spark, d)
        one = rows[(KNNG_CAP, KNNG_OV, KNNG_K, 1)]["n_hits"]
        two = rows[(KNNG_CAP, KNNG_OV, KNNG_K, 2)]["n_hits"]
        assert two > one, (d, one, two)


def test_x248_serving_shape_laws(spark, sf_dir):
    """Exactly GBS_K served rows per query, never the query itself,
    ranks dense from 1."""
    from json_to_parquet_spark.queries.graph_ssl import (
        GBS_K,
        GBS_NQ,
        x248_graph_beam_search,
    )

    rows = x248_graph_beam_search(spark, sf_dir).collect()
    assert len(rows) == GBS_NQ * GBS_K
    per = {}
    for r in rows:
        assert r.vec_id != r.q_id
        per.setdefault(r.q_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, GBS_K + 1)) for v in per.values())


def test_x248_traversal_recovers_static_edge_quality(spark, sf_dir):
    """The beam walk must find AT LEAST the exact-top-K hits the
    graph's own capped edges hold for the same queries — serving via
    traversal may never be worse than reading the query's stored edge
    list (which only exists because these audit queries are corpus
    members; an external query has no stored list, which is why the
    serving path exists).  Measured: exactly equal on every fixture at
    B=8/R=3 — the walk converges to build-quality edges, and x247's
    finding applies: the recall knob is placement geometry (nplace),
    not more search effort."""
    from json_to_parquet_spark.queries.graph_ssl import (
        GBS_K,
        GBS_NQ,
        knn_edges,
        x248_graph_beam_search,
    )
    from json_to_parquet_spark.queries.similarity import cosine
    from json_to_parquet_spark.sources.catalog import load_table

    for d in (sf_dir, _clustered_dir()):
        served = x248_graph_beam_search(spark, d)
        beam_hits = served.agg(F.sum("hit")).collect()[0][0]
        emb = load_table(spark, d, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        q = emb.filter(F.col("vec_id") < GBS_NQ).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("q_vec")
        )
        from pyspark.sql import Window

        wt = Window.partitionBy("q_id").orderBy(
            F.desc("cos_sim"), F.asc("vec_id")
        )
        truth = (
            emb.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("q_id"))
            .select(
                "q_id", "vec_id",
                cosine(F.col("q_vec"), F.col("v")).alias("cos_sim"),
            )
            .withColumn("rk", F.row_number().over(wt))
            .filter(F.col("rk") <= GBS_K)
            .select(F.col("q_id").alias("src_id"), F.col("vec_id").alias("dst_id"))
        )
        edge_hits = truth.join(
            knn_edges(spark, d).select("src_id", "dst_id"),
            ["src_id", "dst_id"],
        ).count()
        assert beam_hits >= edge_hits, (d, beam_hits, edge_hits)


def test_x249_multiprobe_recall_beats_single_placement(spark, sf_dir):
    """The nplace=2 graph must hold STRICTLY more exact-top-K edges
    than x238's single-placement graph over the audit set, on both
    geometries — the end-to-end confirmation of x247's sweep finding
    (deterministic data, stable inequality)."""
    from json_to_parquet_spark.queries.graph_ssl import (
        GRA_NQ,
        KNNG_K,
        knn_edges,
        x249_multiprobe_graph,
    )
    from json_to_parquet_spark.queries.similarity import cosine
    from json_to_parquet_spark.sources.catalog import load_table
    from pyspark.sql import Window

    for d in (sf_dir, _clustered_dir()):
        emb = load_table(spark, d, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        q = emb.filter(F.col("vec_id") < GRA_NQ).select(
            F.col("vec_id").alias("q_id"), F.col("v").alias("q_vec")
        )
        wt = Window.partitionBy("q_id").orderBy(
            F.desc("cos_sim"), F.asc("vec_id")
        )
        truth = (
            emb.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("q_id"))
            .select(
                "q_id", "vec_id",
                cosine(F.col("q_vec"), F.col("v")).alias("cos_sim"),
            )
            .withColumn("rk", F.row_number().over(wt))
            .filter(F.col("rk") <= KNNG_K)
            .select(
                F.col("q_id").alias("src_id"),
                F.col("vec_id").alias("dst_id"),
            )
            .localCheckpoint()
        )

        def hits(edges):
            return truth.join(
                edges.select("src_id", "dst_id"), ["src_id", "dst_id"]
            ).count()

        h1 = hits(knn_edges(spark, d))
        h2 = hits(x249_multiprobe_graph(spark, d))
        assert h2 > h1, (d, h1, h2)


def test_x250_cdc_labels_recover_blobs_on_clustered(spark, sf_dir):
    """The incremental labeler's semantic worth, where geometry carries
    labels: one CDC vote against the frozen base-graph label state must
    label ≥85% of the add batch at ≥95% propagated accuracy on the
    clustered fixture (measured 89.6% coverage / 98.3% accuracy).  Also
    the structural law on the gate corpus: seeds+propagated never
    exceed the add population per label."""
    from json_to_parquet_spark.queries.graph_ssl import x250_label_prop_cdc

    for r in x250_label_prop_cdc(spark, sf_dir).collect():
        assert r.n_seed + r.n_prop <= r.n_nodes, r
    rows = x250_label_prop_cdc(spark, _clustered_dir()).collect()
    n = sum(r.n_nodes for r in rows)
    labeled = sum(r.n_seed + r.n_prop for r in rows)
    prop = sum(r.n_prop for r in rows)
    correct = sum(r.n_prop_correct for r in rows)
    assert labeled / n >= 0.85, (labeled, n)
    assert correct / prop >= 0.95, (correct, prop)


def test_x252_incremental_equals_full_retrain(spark, sf_dir):
    """Word counts are additive, so (persisted base counts ⊎ the
    slice's counts) must train EXACTLY x101's full-corpus merge table —
    the identity that makes the incremental path safe (and a live check
    that the base-count store composes correctly)."""
    from json_to_parquet_spark.queries import registry

    reg = registry()
    cols = ["iter", "w1", "w2", "merged", "pair_cnt"]
    got = _rows(
        reg["x252_bpe_incremental"].spark(spark, sf_dir).select(*cols), cols
    )
    want = _rows(reg["x101_bpe_train"].spark(spark, sf_dir), cols)
    assert got == want and len(got) > 0


def test_x253_swap_impact_consistency(spark, sf_dir):
    """The impact metric's structural laws: n_words equals an
    independent distinct-word count of the corpus; changed ≤ total on
    both axes; and a nonzero impact implies x252 reports at least one
    changed rule (tokenizations can only diverge through a diverged
    rule table)."""
    from json_to_parquet_spark.queries import registry
    from json_to_parquet_spark.sources.catalog import load_table

    reg = registry()
    row = reg["x253_bpe_swap_impact"].spark(spark, sf_dir).collect()[0]
    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .select("w")
        .distinct()
        .count()
    )
    assert row.n_words == words
    assert 0 <= row.n_changed <= row.n_words
    assert 0 <= row.occ_changed <= row.occ_total
    if row.n_changed > 0:
        changed_rules = sum(
            r.changed
            for r in reg["x252_bpe_incremental"].spark(spark, sf_dir).collect()
        )
        assert changed_rules > 0


def test_x246_policy_is_the_shared_integer_rule(spark, sf_dir):
    """The hot set must equal an independent recomputation of the
    integer threshold from raw per-cell add/base populations."""
    from json_to_parquet_spark.queries.graph_ssl import (
        GADD_MOD,
        _gadd_frames,
        _route_with_dist,
    )

    emb, _base, _adds = _gadd_frames(spark, sf_dir)
    routed = _route_with_dist(spark, sf_dir, emb)
    stats = (
        routed.withColumn("is_add", F.col("vec_id") % GADD_MOD == 3)
        .groupBy("cell")
        .agg(
            F.sum(F.col("is_add").cast("long")).alias("n_adds"),
            F.sum((~F.col("is_add")).cast("long")).alias("n_base"),
        )
    )
    want_hot = {
        r["cell"]
        for r in stats.collect()
        if r["n_adds"] * GCMP_DEN >= r["n_base"] * GCMP_NUM
    }
    out = x246_graph_compaction(spark, sf_dir)
    got_hot = {
        r["cell"]
        for r in out.filter(F.col("provenance") == "rebuilt")
        .select("cell")
        .distinct()
        .collect()
    }
    # a hot cell with <2 members emits no edges; every edge-emitting
    # rebuilt cell must be in the recomputed hot set, and no cold cell may
    assert got_hot <= want_hot
    cold_classes = {"base", "cdc"}
    got_cold = {
        r["cell"]
        for r in out.filter(F.col("provenance").isin(*cold_classes))
        .select("cell")
        .distinct()
        .collect()
    }
    assert got_cold.isdisjoint(want_hot)
