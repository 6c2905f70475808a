"""Round-6 second-batch modeling/selection operators (SURVEY §2.C X3/X4
extensions): Kneser-Ney bigram smoothing (x204), capacity-constrained
cluster assignment (x205), a portable mergeable quantile sketch (x206),
multi-touch attribution (x207), and k-center coreset selection (x208).

The reference (`/root/reference/`) has none of this surface; these
continue the learned-curation/eval trajectory of rounds 5-6 (x159 NB,
x194 LR, x200 Bradley-Terry) with the estimation, balancing, and
selection passes a production training-data pipeline runs.

Scale notes (100 TB posture):
- x204's corpus-sized work is the bigram count (one pair-keyed agg with
  map-side partials); the smoothing arithmetic is row-local rationals
  over the count tables (vocab²-bounded, here top-K-bounded for the
  output).
- x205 is two assignment passes (broadcast centroid joins + per-cluster
  WindowGroupLimit ranks) — the balanced-inverted-list build an IVF
  index at capacity runs.
- x206's sketch state is a deterministic hash sample per group —
  mergeable across shards by construction, estimate value-checked
  cross-engine (the quantile counterpart of x195's KMV).
- x207 is one user-keyed window pass; credit splitting is row-local
  rational math.
- x208 fetches the corpus once as Arrow and runs the farthest-point
  traversal on the driver when it has fewer than CORESET_DRIVER_ROWS
  vectors; a larger corpus runs K corpus passes, one per greedy pick,
  each against the newest pick as a literal — K is the budget, not the
  corpus.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from . import QuerySpec, register

# NOTE: similarity helpers are imported INSIDE the functions that need
# them — a module-level import would make importing `modeling` register
# similarity's queries first and reorder the registry's module-import
# ordering (the gate-sample rotation contract, tests/test_rotation.py).

# --- x204: Kneser-Ney smoothed bigram LM -------------------------------------
KN_D = 0.75  # absolute discount
KN_TOP = 25  # output rows: most frequent bigrams


def x204_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    Chen & Goodman 1999, interpolated form): discount every bigram count by
    KN_D, redistribute the held-out mass through the CONTINUATION
    unigram (how many distinct left-contexts a word follows — the fix
    for 'Francisco' getting high unigram mass purely from 'San
    Francisco').  The estimation side of x78's MLE scorer: same corpus
    pass, production smoothing.

    P_KN(w2|w1) = max(c12−D,0)/c1 + (D·N1+(w1,·)/c1) · N1+(·,w2)/B
    with B = distinct bigram types.  All terms are count rationals →
    bit-identical after ROUND(·,6).  Output: the KN_TOP most frequent
    bigrams with MLE and KN probabilities."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.split(F.lower("text"), " ").alias("t"))
    bi = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.element_at("t", i).alias("w1"),
                    F.element_at("t", i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2").filter((F.col("w1") != "") & (F.col("w2") != ""))
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12")).persist()
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    n1pl = c12.groupBy("w1").agg(F.count(F.lit(1)).alias("n1pl"))  # N1+(w1,·)
    n1pr = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1pr"))  # N1+(·,w2)
    btypes = c12.agg(F.count(F.lit(1)).alias("b_types"))
    d = F.lit(KN_D)
    joined = (
        c12.join(c1, "w1")
        .join(n1pl, "w1")
        .join(n1pr, "w2")
        .crossJoin(F.broadcast(btypes))
    )
    pkn = F.round(
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
        + (d * F.col("n1pl") / F.col("c1"))
        * (F.col("n1pr") / F.col("b_types")),
        6,
    )
    w = Window.orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))
    return (
        joined.select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            F.round(F.col("c12") / F.col("c1"), 6).alias("p_mle"),
            pkn.alias("p_kn"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KN_TOP)
        .select("rank", "w1", "w2", "c12", "p_mle", "p_kn")
        .orderBy("rank")
    )


register(
    QuerySpec(
        "x204_kneser_ney",
        x204_kneser_ney,
        f"""
        WITH toks AS (SELECT string_split(lower(text), ' ') AS t FROM documents),
        bi AS (
          SELECT b[1] AS w1, b[2] AS w2 FROM (
            SELECT unnest(list_transform(range(1, len(t)),
                          i -> [t[i], t[i + 1]])) AS b
            FROM toks)
          WHERE b[1] <> '' AND b[2] <> ''),
        c12 AS MATERIALIZED (
          SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
        c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
        n1pl AS (SELECT w1, COUNT(*) AS n1pl FROM c12 GROUP BY w1),
        n1pr AS (SELECT w2, COUNT(*) AS n1pr FROM c12 GROUP BY w2),
        bt AS (SELECT COUNT(*) AS b_types FROM c12),
        scored AS (
          SELECT c.w1, c.w2, c.c12,
                 ROUND(CAST(c.c12 AS DOUBLE) / c1.c1, 6) AS p_mle,
                 ROUND(greatest(CAST(c.c12 AS DOUBLE) - CAST({KN_D} AS DOUBLE),
                                CAST(0.0 AS DOUBLE)) / c1.c1
                       + (CAST({KN_D} AS DOUBLE) * l.n1pl / c1.c1)
                         * (CAST(r.n1pr AS DOUBLE) / bt.b_types), 6) AS p_kn
          FROM c12 c
          JOIN c1 USING (w1)
          JOIN n1pl l USING (w1)
          JOIN n1pr r USING (w2)
          CROSS JOIN bt)
        SELECT CAST(row_number() OVER (ORDER BY c12 DESC, w1 ASC, w2 ASC)
                    AS BIGINT) AS rank,
               w1, w2, CAST(c12 AS BIGINT) AS c12, p_mle, p_kn
        FROM scored
        QUALIFY rank <= {KN_TOP}
        ORDER BY rank
        """,
        "interpolated Kneser-Ney bigram smoothing (continuation counts)",
    )
)


# --- x205: capacity-constrained cluster assignment ---------------------------
CAP_K = 8  # clusters (centroids = first CAP_K vectors, the x21 trick)
CAP_SLACK = 1.2  # capacity = ceil(n/K · slack)


def x205_capacity_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-constrained nearest-centroid assignment — the balanced
    inverted-list build an IVF/sharded index runs so no cell exceeds its
    serving capacity: vectors take their nearest centroid until the cell
    is full (closest-first, id tie-break), overflow takes the SECOND
    nearest under the same rule, and the residue is flagged unplaced
    (production retries with relaxed capacity or spills to a shared
    cell).  Deterministic throughout.

    Shapes: two broadcast-centroid distance passes + per-cluster
    closest-first ranks (WindowGroupLimit).  Output per cluster:
    capacity, first-choice demand, placed counts per round, overflow."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = emb.count()  # bounded scalar (table stats at scale)
    import math

    cap = int(math.ceil(n / CAP_K * CAP_SLACK))
    cent = emb.filter(F.col("vec_id") < CAP_K).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("c_vec")
    )
    # shared HOF kernel (r14 dedup) — bit-identical to the previous
    # inline zip_with fold; the unrolled dim= opt-in is deliberately
    # NOT taken here (computed-array inputs regress it, see similarity)
    from .similarity import _sq_dist

    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "c_id",
        _sq_dist(F.col("v"), F.col("c_vec")).alias("d"),
    )
    wv = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("c_id"))
    ranked = scored.withColumn("choice", F.row_number().over(wv)).filter(
        F.col("choice") <= 2
    ).persist()
    first = ranked.filter(F.col("choice") == 1)
    wc = Window.partitionBy("c_id").orderBy(F.asc("d"), F.asc("vec_id"))
    placed1 = (
        first.withColumn("slot", F.row_number().over(wc))
        .filter(F.col("slot") <= cap)
        .select("vec_id", "c_id")
    )
    spill = first.join(placed1.select("vec_id"), "vec_id", "left_anti").select(
        "vec_id"
    )
    second = ranked.filter(F.col("choice") == 2).join(spill, "vec_id")
    # remaining capacity per cluster after round 1
    used = placed1.groupBy("c_id").agg(F.count(F.lit(1)).alias("used"))
    wc2 = Window.partitionBy("c_id").orderBy(F.asc("d"), F.asc("vec_id"))
    placed2 = (
        second.withColumn("slot", F.row_number().over(wc2))
        .join(F.broadcast(used), "c_id", "left")
        .filter(F.col("slot") <= F.lit(cap) - F.coalesce("used", F.lit(0)))
        .select("vec_id", "c_id")
    )
    unplaced = spill.join(placed2.select("vec_id"), "vec_id", "left_anti")
    n_unplaced = unplaced.agg(F.count(F.lit(1)).alias("n_unplaced"))
    demand = first.groupBy("c_id").agg(F.count(F.lit(1)).alias("first_demand"))
    p1 = placed1.groupBy("c_id").agg(F.count(F.lit(1)).alias("placed_r1"))
    p2 = placed2.groupBy("c_id").agg(F.count(F.lit(1)).alias("placed_r2"))
    out = (
        cent.select("c_id")
        .join(demand, "c_id", "left")
        .join(p1, "c_id", "left")
        .join(p2, "c_id", "left")
        .crossJoin(F.broadcast(n_unplaced))
        .select(
            F.col("c_id").cast("long").alias("cluster"),
            F.lit(cap).cast("long").alias("capacity"),
            F.coalesce("first_demand", F.lit(0)).cast("long").alias("first_demand"),
            F.coalesce("placed_r1", F.lit(0)).cast("long").alias("placed_r1"),
            F.coalesce("placed_r2", F.lit(0)).cast("long").alias("placed_r2"),
            (
                F.coalesce("placed_r1", F.lit(0)) + F.coalesce("placed_r2", F.lit(0))
            ).cast("long").alias("final_size"),
            F.col("n_unplaced").cast("long").alias("n_unplaced_total"),
        )
        .orderBy("cluster")
    )
    ranked.unpersist()
    return out


def _x205_sql() -> str:
    # capacity must match the Spark side's ceil(n/K·slack) — computed in
    # SQL from the same corpus count.
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cap AS (SELECT CAST(CEIL(COUNT(*) / {CAP_K}.0 * {CAP_SLACK}) AS BIGINT)
                    AS cap FROM e),
        cent AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                 WHERE vec_id < {CAP_K}),
        scored AS (
          SELECT e.vec_id, c.c_id,
                 ROUND(list_sum(list_transform(list_zip(e.v, c.c_vec),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d
          FROM e CROSS JOIN cent c),
        ranked AS MATERIALIZED (
          SELECT vec_id, c_id, d,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY d ASC, c_id ASC) AS choice
          FROM scored QUALIFY choice <= 2),
        first AS MATERIALIZED (SELECT * FROM ranked WHERE choice = 1),
        placed1 AS MATERIALIZED (
          SELECT vec_id, c_id FROM (
            SELECT vec_id, c_id,
                   row_number() OVER (PARTITION BY c_id
                                      ORDER BY d ASC, vec_id ASC) AS slot
            FROM first) s CROSS JOIN cap
          WHERE s.slot <= cap.cap),
        spill AS (
          SELECT f.vec_id FROM first f
          LEFT JOIN placed1 p ON f.vec_id = p.vec_id WHERE p.vec_id IS NULL),
        second AS (
          SELECT r.vec_id, r.c_id, r.d FROM ranked r
          JOIN spill s ON r.vec_id = s.vec_id WHERE r.choice = 2),
        used AS (SELECT c_id, COUNT(*) AS used FROM placed1 GROUP BY c_id),
        placed2 AS MATERIALIZED (
          SELECT t.vec_id, t.c_id FROM (
            SELECT s.vec_id, s.c_id,
                   row_number() OVER (PARTITION BY s.c_id
                                      ORDER BY s.d ASC, s.vec_id ASC) AS slot
            FROM second s) t
          LEFT JOIN used u ON t.c_id = u.c_id
          CROSS JOIN cap
          WHERE t.slot <= cap.cap - COALESCE(u.used, 0)),
        unplaced AS (
          SELECT s.vec_id FROM spill s
          LEFT JOIN placed2 p ON s.vec_id = p.vec_id WHERE p.vec_id IS NULL),
        nu AS (SELECT COUNT(*) AS n_unplaced FROM unplaced),
        demand AS (SELECT c_id, COUNT(*) AS first_demand FROM first GROUP BY c_id),
        p1 AS (SELECT c_id, COUNT(*) AS placed_r1 FROM placed1 GROUP BY c_id),
        p2 AS (SELECT c_id, COUNT(*) AS placed_r2 FROM placed2 GROUP BY c_id)
        SELECT CAST(c.c_id AS BIGINT) AS cluster,
               cap.cap AS capacity,
               CAST(COALESCE(d.first_demand, 0) AS BIGINT) AS first_demand,
               CAST(COALESCE(p1.placed_r1, 0) AS BIGINT) AS placed_r1,
               CAST(COALESCE(p2.placed_r2, 0) AS BIGINT) AS placed_r2,
               CAST(COALESCE(p1.placed_r1, 0) + COALESCE(p2.placed_r2, 0)
                    AS BIGINT) AS final_size,
               CAST(nu.n_unplaced AS BIGINT) AS n_unplaced_total
        FROM cent c
        LEFT JOIN demand d USING (c_id)
        LEFT JOIN p1 USING (c_id)
        LEFT JOIN p2 USING (c_id)
        CROSS JOIN cap CROSS JOIN nu
        ORDER BY cluster
        """


register(
    QuerySpec(
        "x205_capacity_assign",
        x205_capacity_assign,
        _x205_sql(),
        "capacity-constrained nearest-centroid assignment (balanced IVF lists)",
    )
)


# --- x206: portable mergeable quantile sketch --------------------------------
QS_MOD = 10_000  # hash space for the sample gate
QS_KEEP = 800   # keep rows with hash < QS_KEEP (deterministic ~8% sample)
QS_PCTLS = (0.5, 0.9)


def x206_quantile_merge_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile estimation over a PORTABLE deterministic
    sample: each order joins the sketch iff an md5 hash of its key
    lands under the gate — per-shard sketch state is just that shard's
    sampled rows, mergeable by union (the property KLL/t-digest provide;
    here traded for exact cross-engine reproducibility, the q59/x193
    counterpart where the ESTIMATE itself is value-checked).  Estimated
    p50/p90 per order priority = the lower-rank element of the merged
    sample; realized rank error vs the full data is reported exactly.

    Shapes: the sample gate is a row-local hash filter BEFORE any
    shuffle (the scan's data volume drops ~12×); quantile extraction is
    a per-group window over the sample; the rank audit joins the tiny
    per-group estimates back against one full-data aggregation pass."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long") % QS_MOD
    sample = o.filter(h < QS_KEEP)
    wr = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    counted = sample.withColumn("rn", F.row_number().over(wr))
    sizes = sample.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("m")
    )
    picks = None
    for p in QS_PCTLS:
        tag = str(int(p * 100))
        est = (
            counted.join(F.broadcast(sizes), "o_orderpriority")
            .filter(
                F.col("rn")
                == F.greatest(
                    F.lit(1), F.ceil(F.col("m") * F.lit(p)).cast("int")
                )
            )
            .select(
                "o_orderpriority",
                F.col("o_totalprice").alias(f"p{tag}_est"),
            )
        )
        picks = est if picks is None else picks.join(est, "o_orderpriority")
    full = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    ranks = (
        o.join(F.broadcast(picks), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            *[
                F.sum(
                    (F.col("o_totalprice") <= F.col(f"p{str(int(p * 100))}_est"))
                    .cast("long")
                ).alias(f"le{str(int(p * 100))}")
                for p in QS_PCTLS
            ]
        )
    )
    out = (
        full.join(picks, "o_orderpriority")
        .join(ranks, "o_orderpriority")
        .join(sizes.withColumnRenamed("m", "sample_n"), "o_orderpriority")
    )
    cols = [
        "o_orderpriority",
        F.col("n").cast("long").alias("n"),
        F.col("sample_n").cast("long").alias("sample_n"),
    ]
    for p in QS_PCTLS:
        tag = str(int(p * 100))
        cols += [
            F.col(f"p{tag}_est"),
            F.round(
                F.abs(F.col(f"le{tag}") / F.col("n").cast("double") - F.lit(p)),
                6,
            ).alias(f"p{tag}_rank_err"),
        ]
    return out.select(*cols).orderBy("o_orderpriority")


def _x206_sql() -> str:
    est_cols = []
    for p in QS_PCTLS:
        tag = str(int(p * 100))
        est_cols.append(f"""
        est{tag} AS (
          SELECT c.o_orderpriority, c.o_totalprice AS p{tag}_est
          FROM counted c JOIN sizes s USING (o_orderpriority)
          WHERE c.rn = greatest(1, CAST(CEIL(s.m * {p}) AS BIGINT)))""")
    rank_aggs = ", ".join(
        f"SUM(CASE WHEN o.o_totalprice <= p.p{str(int(p * 100))}_est"
        f" THEN 1 ELSE 0 END) AS le{str(int(p * 100))}"
        for p in QS_PCTLS
    )
    out_cols = ", ".join(
        f"p.p{str(int(p * 100))}_est, "
        f"ROUND(abs(CAST(r.le{str(int(p * 100))} AS DOUBLE) / f.n - {p}), 6)"
        f" AS p{str(int(p * 100))}_rank_err"
        for p in QS_PCTLS
    )
    picks_join = " JOIN ".join(
        [f"est{str(int(QS_PCTLS[0] * 100))} p0"]
        + [
            f"est{str(int(p * 100))} e{i} USING (o_orderpriority)"
            for i, p in enumerate(QS_PCTLS[1:], 1)
        ]
    )
    return f"""
        WITH o AS (
          SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders),
        sample AS MATERIALIZED (
          SELECT * FROM o
          WHERE CAST(from_hex(substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                     ::BIT::BIGINT AS BIGINT) % {QS_MOD} < {QS_KEEP}),
        counted AS (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice ASC, o_orderkey ASC)
                     AS rn
          FROM sample),
        sizes AS (
          SELECT o_orderpriority, COUNT(*) AS m FROM sample
          GROUP BY o_orderpriority),{",".join(est_cols)},
        picks AS (
          SELECT p0.o_orderpriority, {", ".join(f"p{str(int(p * 100))}_est" for p in QS_PCTLS)}
          FROM {picks_join}),
        f AS (SELECT o_orderpriority, COUNT(*) AS n FROM o GROUP BY 1),
        r AS (
          SELECT o.o_orderpriority, {rank_aggs}
          FROM o JOIN picks p USING (o_orderpriority)
          GROUP BY o.o_orderpriority)
        SELECT f.o_orderpriority, CAST(f.n AS BIGINT) AS n,
               CAST(s.m AS BIGINT) AS sample_n, {out_cols}
        FROM f
        JOIN picks p USING (o_orderpriority)
        JOIN r USING (o_orderpriority)
        JOIN sizes s USING (o_orderpriority)
        ORDER BY f.o_orderpriority
        """


register(
    QuerySpec(
        "x206_quantile_merge_sketch",
        x206_quantile_merge_sketch,
        _x206_sql(),
        "mergeable hash-sample quantile sketch, estimate + rank error value-checked",
    )
)


# --- x207: multi-touch attribution -------------------------------------------
ATTR_CONV = "purchase"  # the conversion event
ATTR_DAYS = 7  # lookback window


def x207_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch conversion attribution under the three standard
    models: for every conversion (ATTR_CONV event), its touches are the
    same user's non-conversion events in the ATTR_DAYS lookback; credit
    goes to the first touch, the last touch, and 1/n to each touch
    (linear), rolled up per channel (event_type).  The comparison table
    marketing/growth pipelines read before reallocating spend.

    Shapes: one user-keyed equi-join (touches per conversion bounded by
    a user's window activity), two WindowGroupLimit picks, one
    channel-keyed rollup; linear credits are exact rationals ROUND(·,6)
    then decimal-summed (helpers rules 1+3)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    conv = ev.filter(F.col("event_type") == ATTR_CONV).select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.filter(F.col("event_type") != ATTR_CONV).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("touch_ts"),
    )
    joined = conv.join(touch, "user_id").filter(
        (F.col("touch_ts") < F.col("conv_ts"))
        & (
            F.col("touch_ts")
            >= F.col("conv_ts") - F.expr(f"INTERVAL {ATTR_DAYS} DAYS")
        )
    )
    w_first = Window.partitionBy("conv_id").orderBy(
        F.asc("touch_ts"), F.asc("touch_id")
    )
    w_last = Window.partitionBy("conv_id").orderBy(
        F.desc("touch_ts"), F.desc("touch_id")
    )
    n_touch = Window.partitionBy("conv_id")
    credited = joined.select(
        "conv_id",
        "channel",
        (F.row_number().over(w_first) == 1).cast("long").alias("is_first"),
        (F.row_number().over(w_last) == 1).cast("long").alias("is_last"),
        F.round(F.lit(1.0) / F.count(F.lit(1)).over(n_touch), 6).alias(
            "linear"
        ),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.countDistinct("conv_id").cast("long").alias("touched_convs"),
            F.sum("is_first").cast("long").alias("first_touch"),
            F.sum("is_last").cast("long").alias("last_touch"),
            F.sum(F.col("linear").cast("decimal(30,10)"))
            .cast("double")
            .alias("linear_credit"),
        )
        .orderBy("channel")
    )


register(
    QuerySpec(
        "x207_multitouch_attribution",
        x207_multitouch_attribution,
        f"""
        WITH ev AS (
          SELECT event_id, user_id, event_type, ts FROM events),
        conv AS (
          SELECT event_id AS conv_id, user_id, ts AS conv_ts
          FROM ev WHERE event_type = '{ATTR_CONV}'),
        touch AS (
          SELECT user_id, event_id AS touch_id, event_type AS channel,
                 ts AS touch_ts
          FROM ev WHERE event_type <> '{ATTR_CONV}'),
        joined AS (
          SELECT c.conv_id, t.channel, t.touch_id, t.touch_ts
          FROM conv c JOIN touch t USING (user_id)
          WHERE t.touch_ts < c.conv_ts
            AND t.touch_ts >= c.conv_ts - INTERVAL {ATTR_DAYS} DAY),
        credited AS (
          SELECT conv_id, channel,
                 CASE WHEN row_number() OVER (PARTITION BY conv_id
                      ORDER BY touch_ts ASC, touch_id ASC) = 1
                      THEN 1 ELSE 0 END AS is_first,
                 CASE WHEN row_number() OVER (PARTITION BY conv_id
                      ORDER BY touch_ts DESC, touch_id DESC) = 1
                      THEN 1 ELSE 0 END AS is_last,
                 ROUND(1.0 / COUNT(*) OVER (PARTITION BY conv_id), 6)
                     AS linear
          FROM joined)
        SELECT channel,
               CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS touched_convs,
               CAST(SUM(is_first) AS BIGINT) AS first_touch,
               CAST(SUM(is_last) AS BIGINT) AS last_touch,
               CAST(CAST(SUM(CAST(linear AS DECIMAL(30,10))) AS VARCHAR)
                    AS DOUBLE) AS linear_credit
        FROM credited GROUP BY channel ORDER BY channel
        """,
        "first/last/linear multi-touch attribution over the event log",
    )
)


# --- x208: k-center greedy coreset -------------------------------------------
CORESET_K = 8
# Corpora with fewer vectors than this run the traversal on the driver:
# at 64 dims that is 32 MiB of doubles, and the Arrow fetch at the bound
# is 34,340,340 B (65,535 rows of an 8 B id, 512 B of vector and a 4 B
# list offset).  On 65,535 random 64-dim rows (local[4] on 4 cores, warm,
# min of 3) one call took 3.58 s on the driver and 9.58 s in the rounds.
# 0 sends every corpus through the rounds.
CORESET_DRIVER_ROWS = 1 << 16


def x208_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy coreset selection (farthest-point traversal;
    Sener & Savarese 2018's data-selection core): start from the lowest
    vec_id, repeatedly add the vector FARTHEST from the selected set —
    the 2-approximation to the k-center cover that data-pruning and
    active-learning pipelines use to pick a maximally diverse training
    subset.  Output: the K picks in selection order with each pick's
    distance to the set at selection time (a non-increasing sequence —
    the coverage-radius curve).

    Shapes (r15 rewrite, VERDICT r14 ask #6 / guide §1.2 step 1): a
    RUNNING min-distance frame replaces the per-round re-fold against
    the whole grown seed set — md_r(v) = min(md_{r-1}(v), d(v, newest
    pick)), and min over the same rounded doubles is associative, so
    the incremental update is bit-identical to the previous
    crossJoin(selected)+groupBy(MIN) shape while cutting the distance
    work K·(K−1)/2·n → (K−1)·n and removing every per-round shuffle
    (the groupBy exchange carried the dim-64 arrays; the running frame
    is updated map-side and localCheckpointed once per round).  Each
    round is one narrow map pass + a TakeOrdered(1); the per-round
    1-row collect is the bounded model state (the x45/x194 pattern).
    K is the selection budget, not a function of corpus size.

    A corpus with fewer than ``CORESET_DRIVER_ROWS`` vectors finishes
    on the driver instead: one Arrow fetch, then the same traversal in
    numpy (``_coreset_on_driver``), bit-identical to the rounds.  A
    corpus the driver path declines (null ids, null or non-finite
    elements, ragged vectors, fewer than K ids) runs the rounds, so
    malformed input fails or succeeds as it always did."""
    from .helpers import inline_rows
    from .similarity import _sq_dist

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    schema = "pick long, vec_id long, dist_at_pick double"
    if CORESET_DRIVER_ROWS:
        corpus = emb.limit(CORESET_DRIVER_ROWS).toArrow()
        if corpus.num_rows < CORESET_DRIVER_ROWS:
            picks = _coreset_on_driver(corpus)
            if picks is not None:
                return inline_rows(spark, picks, schema)
    first = emb.orderBy(F.asc("vec_id")).limit(1).collect()[0]
    picks = [(1, int(first.vec_id), 0.0)]

    def _vec_lit(vv: list) -> "Column":
        # the picked vector re-enters as a literal array of the SAME
        # doubles collect() returned (no re-read, no broadcast frame)
        return F.array(*[F.lit(float(x)) for x in vv])

    state = (
        emb.filter(F.col("vec_id") != int(first.vec_id))
        .select(
            "vec_id",
            "v",
            _sq_dist(F.col("v"), _vec_lit(list(first.v))).alias("md"),
        )
        .localCheckpoint()
    )
    for r in range(2, CORESET_K + 1):
        top = (
            state.orderBy(F.desc("md"), F.asc("vec_id")).limit(1).collect()[0]
        )
        picks.append((r, int(top.vec_id), float(top.md)))
        if r < CORESET_K:
            state = (
                state.filter(F.col("vec_id") != int(top.vec_id))
                .select(
                    "vec_id",
                    "v",
                    F.least(
                        F.col("md"),
                        _sq_dist(F.col("v"), _vec_lit(list(top.v))),
                    ).alias("md"),
                )
                .localCheckpoint()
            )
    return inline_rows(spark, picks, schema)


def _rounded_sq_dist(vecs: np.ndarray, p: np.ndarray) -> np.ndarray:
    """``_sq_dist`` of every row of ``vecs`` to ``p``: the same
    left fold from 0.0 one dimension at a time (not ``np.sum``'s
    pairwise order), then Spark's ``ROUND(x, 6)`` per distance."""
    from .helpers import rnd6

    acc = np.zeros(len(vecs))
    for j in range(vecs.shape[1]):
        d = vecs[:, j] - p[j]
        acc = acc + d * d
    return np.fromiter(map(rnd6, acc.tolist()), dtype=np.float64, count=len(acc))


def _coreset_on_driver(corpus: pa.Table) -> "list[tuple[int, int, float]] | None":
    """x208's rounds on fetched ``(vec_id, v)`` rows: the same picks,
    ties on the largest distance going to the smallest ``vec_id``, and
    each pick dropping every row with its id.  ``None`` (the caller
    runs the rounds) for a null id, a null or non-finite element, ragged
    vectors, or fewer than ``CORESET_K`` distinct ids."""
    ids_col = corpus.column("vec_id")
    if ids_col.null_count or pc.count_distinct(ids_col).as_py() < CORESET_K:
        return None
    vecs_col = corpus.column("v").combine_chunks()
    lens = pc.list_value_length(vecs_col)
    dim = pc.min(lens).as_py()
    flat = vecs_col.flatten()
    if vecs_col.null_count or pc.max(lens).as_py() != dim or flat.null_count:
        return None
    vecs = flat.to_numpy().reshape(corpus.num_rows, dim)
    if not np.isfinite(vecs).all():
        return None
    ids = ids_col.to_numpy()
    first = int(np.argmin(ids))
    picks = [(1, int(ids[first]), 0.0)]
    keep = ids != ids[first]
    p, vecs, ids = vecs[first], vecs[keep], ids[keep]
    md = _rounded_sq_dist(vecs, p)
    for r in range(2, CORESET_K + 1):
        tied = np.flatnonzero(md == md.max())
        top = tied[np.argmin(ids[tied])]
        picks.append((r, int(ids[top]), float(md[top])))
        if r < CORESET_K:
            keep = ids != ids[top]
            p, vecs, ids = vecs[top], vecs[keep], ids[keep]
            md = np.minimum(md[keep], _rounded_sq_dist(vecs, p))
    return picks


def _x208_sql() -> str:
    head = """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sel1 AS MATERIALIZED (
          SELECT vec_id AS s_id, v AS s_vec FROM e
          ORDER BY vec_id ASC LIMIT 1)"""
    steps = []
    for r in range(2, CORESET_K + 1):
        prev = f"sel{r - 1}"
        steps.append(f"""
        cand{r} AS (
          SELECT e.vec_id,
                 MIN(ROUND(list_sum(list_transform(list_zip(e.v, s.s_vec),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)) AS md
          FROM e CROSS JOIN {prev} s
          WHERE e.vec_id NOT IN (SELECT s_id FROM {prev})
          GROUP BY e.vec_id),
        pick{r} AS MATERIALIZED (
          SELECT vec_id, md FROM cand{r}
          QUALIFY row_number() OVER (ORDER BY md DESC, vec_id ASC) = 1),
        sel{r} AS MATERIALIZED (
          SELECT s_id, s_vec FROM {prev}
          UNION ALL
          SELECT p.vec_id, e.v FROM pick{r} p JOIN e ON e.vec_id = p.vec_id)""")
    tails = ["""
        SELECT CAST(1 AS BIGINT) AS pick, s_id AS vec_id,
               CAST(0.0 AS DOUBLE) AS dist_at_pick
        FROM sel1"""]
    for r in range(2, CORESET_K + 1):
        tails.append(f"""
        SELECT CAST({r} AS BIGINT), vec_id, md FROM pick{r}""")
    return head + "," + ",".join(steps) + "\n        UNION ALL".join(tails)


register(
    QuerySpec(
        "x208_kcenter_coreset",
        x208_kcenter_coreset,
        _x208_sql(),
        "k-center greedy coreset (farthest-point traversal, K diverse picks)",
    )
)


# --- x209: fully portable HyperLogLog ----------------------------------------
HLL_P_BITS = 6
HLL_M = 1 << HLL_P_BITS  # 64 registers
HLL_W_BITS = 50  # rank bits: 56-bit md5-prefix hash minus the bucket bits
# alpha_64 · m² · 2^W — precomputed in Python so both engines divide by
# the identical double constant.
HLL_ALPHA = 0.709
HLL_NUM = HLL_ALPHA * HLL_M * HLL_M * float(1 << (HLL_W_BITS + 1))


def x209_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog from first principles over a PORTABLE hash (Flajolet
    et al. 2007), so — unlike q20's engine-internal HLL++ — the register
    state AND the estimate are bit-identical cross-engine: bucket = the
    low HLL_P_BITS of a 56-bit md5-prefix hash, rank ρ = leading-zero
    count of the remaining HLL_W_BITS + 1 (computed EXACTLY via binary
    string length — float log2 is 1-ulp-unsafe at power-of-two
    boundaries), register = MAX(ρ) per bucket (mergeable across shards
    by construction).  The harmonic sum Σ2^(−M_b) is scaled to the
    INTEGER Σ2^(W+1−M_b) — 64 exact dyadic terms summed in BIGINT, so
    accumulation order cannot matter — and divides the precomputed
    double numerator once.  The third distinct sketch in the family:
    q20 (engine HLL++, audited by x192), x195 (KMV, value-checked),
    x209 (HLL, value-checked)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    h = F.conv(
        F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 14), 16, 10
    ).cast("long")
    # bucket/rank splits MUST stay integer ops: h spans 56 bits, beyond
    # double's exact range, so a float division would corrupt buckets.
    hashed = li.distinct().select("l_returnflag", h.alias("h")).select(
        "l_returnflag",
        (F.col("h") % HLL_M).alias("bucket"),
        F.shiftright("h", HLL_P_BITS).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.bin("w"))
    )
    regs = (
        hashed.select("l_returnflag", "bucket", rho.alias("rho"))
        .groupBy("l_returnflag", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    # missing buckets contribute M=0: add (HLL_M - present) · 2^(W+1)
    z = regs.groupBy("l_returnflag").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_W_BITS + 1} - m)"))
        .alias("z_present"),
        F.count(F.lit(1)).alias("n_buckets"),
    ).select(
        "l_returnflag",
        (
            F.col("z_present")
            + (F.lit(HLL_M) - F.col("n_buckets"))
            * F.lit(1 << (HLL_W_BITS + 1)).cast("long")
        ).alias("z_int"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("long").alias("n_exact")
    )
    return (
        exact.join(z, "l_returnflag")
        .select(
            "l_returnflag",
            "n_exact",
            F.floor(F.lit(HLL_NUM) / F.col("z_int")).cast("long").alias("n_est"),
        )
        .select(
            "l_returnflag",
            "n_exact",
            "n_est",
            F.round(
                F.abs(F.col("n_est") - F.col("n_exact")).cast("double")
                / F.col("n_exact"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("l_returnflag")
    )


register(
    QuerySpec(
        "x209_hll_portable",
        x209_hll_portable,
        f"""
        WITH dh AS (
          SELECT DISTINCT l_returnflag,
                 CAST(from_hex(substring(md5(CAST(l_partkey AS VARCHAR)),
                                         1, 14))::BIT::BIGINT AS BIGINT) AS h
          FROM lineitem),
        hashed AS (
          SELECT l_returnflag, h % {HLL_M} AS bucket, h // {HLL_M} AS w
          FROM dh),
        regs AS (
          SELECT l_returnflag, bucket,
                 MAX(CASE WHEN w = 0 THEN {HLL_W_BITS + 1}
                          ELSE {HLL_W_BITS + 1} - strlen(bin(w)) END) AS m
          FROM hashed GROUP BY l_returnflag, bucket),
        z AS (
          SELECT l_returnflag,
                 CAST(SUM(1::BIGINT << ({HLL_W_BITS + 1} - m)) AS BIGINT)
                 + ({HLL_M} - COUNT(*)) * (1::BIGINT << {HLL_W_BITS + 1})
                     AS z_int
          FROM regs GROUP BY l_returnflag),
        exact AS (
          SELECT l_returnflag,
                 CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact
          FROM lineitem GROUP BY l_returnflag)
        SELECT e.l_returnflag, e.n_exact,
               CAST(FLOOR(CAST({HLL_NUM!r} AS DOUBLE) / z.z_int) AS BIGINT)
                   AS n_est,
               ROUND(CAST(abs(CAST(FLOOR(CAST({HLL_NUM!r} AS DOUBLE) / z.z_int)
                                   AS BIGINT) - e.n_exact) AS DOUBLE)
                     / e.n_exact, 6) AS rel_err
        FROM exact e JOIN z USING (l_returnflag)
        ORDER BY e.l_returnflag
        """,
        "portable HyperLogLog: exact-integer harmonic sum, estimate value-checked",
    )
)


# --- x225: DoReMi-style domain mixture reweighting ------------------------------
# Domain mixing is the knob that decides what a 100 TB corpus actually
# teaches: DoReMi (Xie et al. 2023) learns domain weights with a
# Group-DRO multiplicative-weights loop that upweights domains whose
# loss EXCEEDS the current mixture's weighted mean.  The loop here runs
# in FIXED-POINT integer micro-units (the x45 treaty: no float, no exp —
# the first-order MWU update w·(1 + η·excess) replaces Hedge's
# w·exp(η·excess), the standard small-η equivalence), so every
# iteration is bit-exact on any engine and the oracle unrolls the same
# recurrence as chained CTEs.  Per-doc loss proxy: ln is NOT used —
# loss_d = the domain's mean token count in micro-units (an exact
# integer), the deterministic stand-in for a reference-model loss.
DOREMI_ITERS = 8
DOREMI_SCALE = 1_000_000
DOREMI_ETA_NUM, DOREMI_ETA_DEN = 2, 1  # η = 2 on micro-relative excess


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — DuckDB's ``//`` and
    Spark's DIV semantics (Python's ``//`` floors, which diverges on
    negative excess)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def x225_doremi_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per domain (documents.source): the micro-unit loss proxy, the
    final multiplicative-weights mixture weight, and DoReMi's returned
    average weight across steps.  One distributed corpus pass computes
    the per-domain token means; the T=8 MWU rounds then run DRIVER-SIDE
    on the collected ≤|domains|-row frame (the x45/x179 bounded-matrix
    pattern) in exact integers:

      m_t      = Σ_d w_d·loss_d / SCALE            (mixture mean)
      excess_d = (loss_d − m_t)·SCALE / m_t        (micro-relative)
      w'_d     = w_d + w_d·η·excess_d / SCALE      (first-order MWU)
      w_d      = w'_d·SCALE / Σ w'_d               (renormalize)

    all divisions truncating toward zero (DuckDB's ``//``), so the
    unrolled-CTE oracle reproduces every bit.  Scale shape: the corpus
    pass is one groupBy(source) agg of (token_count) longs; the loop
    state is |domains| rows — bounded at any corpus size by the domain
    taxonomy, exactly DoReMi's own regime (~20 Pile domains)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    per = (
        docs.select(
            "source",
            F.size(F.split(F.lower("text"), " ")).cast("long").alias("tok"),
        )
        .groupBy("source")
        .agg(F.sum("tok").alias("tok_sum"), F.count(F.lit(1)).alias("cnt"))
        .collect()  # bounded: one row per domain
    )
    loss = {
        r.source: _tdiv(r.tok_sum * DOREMI_SCALE, r.cnt) for r in per
    }
    domains = sorted(loss)
    w = {d: _tdiv(DOREMI_SCALE, len(domains)) for d in domains}
    acc = {d: 0 for d in domains}
    for _ in range(DOREMI_ITERS):
        m = _tdiv(sum(w[d] * loss[d] for d in domains), DOREMI_SCALE)
        pre = {
            d: w[d]
            + _tdiv(
                w[d]
                * DOREMI_ETA_NUM
                * _tdiv((loss[d] - m) * DOREMI_SCALE, m),
                DOREMI_ETA_DEN * DOREMI_SCALE,
            )
            for d in domains
        }
        s = sum(pre.values())
        w = {d: _tdiv(pre[d] * DOREMI_SCALE, s) for d in domains}
        for d in domains:
            acc[d] += w[d]
    from .helpers import inline_rows

    return inline_rows(
        spark,
        [
            (
                d,
                int(loss[d]),
                int(w[d]),
                int(_tdiv(acc[d], DOREMI_ITERS)),
            )
            for d in domains
        ],
        "source string, loss_micro long, w_final_micro long, w_avg_micro long",
    ).orderBy("source")


def _x225_sql() -> str:
    scale = DOREMI_SCALE
    ctes = [
        f"""per AS MATERIALIZED (
          SELECT source,
                 (SUM(len(string_split(lower(text), ' '))) * {scale})
                   // COUNT(*) AS loss_u,
                 COUNT(*) AS cnt
          FROM documents GROUP BY source),
        nd AS (SELECT COUNT(*) AS k FROM per),
        w0 AS MATERIALIZED (SELECT source, loss_u, {scale} // k AS w,
                      CAST(0 AS BIGINT) AS acc
               FROM per, nd)"""
    ]
    for t in range(1, DOREMI_ITERS + 1):
        p = t - 1
        ctes.append(
            f"""m{t} AS MATERIALIZED (
          SELECT SUM(w * loss_u) // {scale} AS m FROM w{p}),
        p{t} AS MATERIALIZED (SELECT source, loss_u, acc,
                        w + (w * {DOREMI_ETA_NUM}
                             * (((loss_u - m) * {scale}) // m))
                          // ({DOREMI_ETA_DEN} * {scale}) AS w
                 FROM w{p}, m{t}),
        s{t} AS MATERIALIZED (SELECT SUM(w) AS s FROM p{t}),
        w{t} AS MATERIALIZED (SELECT source, loss_u,
                        (w * {scale}) // s AS w,
                        acc + (w * {scale}) // s AS acc
                 FROM p{t}, s{t})"""
        )
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body}
        SELECT source,
               CAST(loss_u AS BIGINT) AS loss_micro,
               CAST(w AS BIGINT) AS w_final_micro,
               CAST(acc // {DOREMI_ITERS} AS BIGINT) AS w_avg_micro
        FROM w{DOREMI_ITERS}
        ORDER BY source
        """


register(
    QuerySpec(
        "x225_doremi_mix",
        x225_doremi_mix,
        _x225_sql(),
        "DoReMi domain mixture: fixed-point Group-DRO multiplicative weights",
    )
)
