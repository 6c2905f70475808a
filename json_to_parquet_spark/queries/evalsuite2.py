"""Evaluation suite, part 2 — ranking-quality metrics for the ANN index
(x102 NDCG@5 / MRR), a distributed PCA of the embedding corpus via
covariance + unrolled power iteration (x103), and the MinHash-LSH
band/row parameter sweep (x104): measured precision/recall per
configuration instead of formula-trusted guesses.

The reference (`/root/reference/`) has no vector or evaluation surface;
these extend the driver-mandated similarity-search pillar (SURVEY §2.C
X3) with the *measurement* half a production pipeline runs before
trusting an index or a dedup threshold.

Cross-engine determinism (helpers.py rules): rank discounts and IDCG are
Python-computed double literals injected into BOTH plans (no cross-engine
log2 calls on the hot path); every sum is a ROUND-then-DECIMAL sum;
every ratio divides identical integers or identical rounded doubles.

Scale notes (100 TB posture):
- x102 joins two k-bounded-per-query frames — cost is n_queries × k
  regardless of corpus size (the x76 shape, plus rank arithmetic).
- x103's corpus-sized work is ONE pass: each row expands to d² (i, j,
  x_i·x_j) terms that partial-aggregate map-side, so the shuffle carries
  d² = 4096 keys, not rows. The 8 power-iteration rounds then run
  entirely on d²/d-sized frames (the x45 pagerank economics: scheduler
  rounds, not data). At d in the thousands you would switch the gram
  accumulation to a blocked Pandas-UDF matmul; at d = 64 the declarative
  expansion wins by staying in whole-stage codegen.
- x104 reuses x75's bounded eval sample (SKETCH_EVAL_MAX_ID originals +
  exact-dup twins): the truth set comes from the inverted-index shingle
  join (never all-pairs), and each LSH config adds one band-keyed
  self-join over bucket-blocked rows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from . import QuerySpec, register
from .dedup import (
    ARITH_P,
    MINHASH_HASHES,
    _ARITH_HASHES,
    _BAND_MIX,
    _charfold,
    shingles,
)
from .evalsuite import BATCH_OFFSET, RECALL_K, SKETCH_EVAL_MAX_ID
from .helpers import SQL_DEC_SUM, dec_sum, rnd6
from .similarity import (
    IVF_N_PROBE,
    SQL_IVF_NLIST,
    SQL_TWO_LEVEL_LISTS,
    N_QUERY_VECS,
    x11_cosine_topk,
    x21_ivf_ann,
)

# --- x102: ANN ranking quality — NDCG@5 and MRR ------------------------------
# Graded relevance: the exact top-K neighbor at rank r earns rel = K-r+1;
# anything outside the exact top-K earns 0.  Discounts 1/log2(rank+1) are
# Python literals so neither engine evaluates log2 (identical parsed
# doubles by construction).
_DISCOUNTS = {r: 1.0 / math.log2(r + 1) for r in range(1, RECALL_K + 1)}
_IDCG = round(sum((RECALL_K - r + 1) * _DISCOUNTS[r] for r in range(1, RECALL_K + 1)), 6)


def _disc_col(rank_col) -> F.Column:
    expr = F.lit(0.0)
    for r, d in _DISCOUNTS.items():
        expr = F.when(rank_col == r, F.lit(d)).otherwise(expr)
    return expr


def x102_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-aware quality of the IVF index (x21) against exact
    brute-force order (x11): per query, NDCG@5 with graded relevance and
    the reciprocal rank of the TRUE nearest neighbor. recall@k (x76)
    says how many right answers came back; this says whether they came
    back in the right ORDER — the metric that actually moves retrieval
    quality."""
    exact = (
        x11_cosine_topk(spark, sf_dir)
        .filter(F.col("rank") <= RECALL_K)
        .select("q_id", "vec_id", F.col("rank").alias("rk_e"))
    )
    approx = (
        x21_ivf_ann(spark, sf_dir)
        .filter(F.col("rank") <= RECALL_K)
        .select("q_id", "vec_id", F.col("rank").alias("rk_a"))
    )
    rel = F.coalesce(F.lit(RECALL_K + 1) - F.col("rk_e"), F.lit(0)).cast("double")
    gains = approx.join(exact, ["q_id", "vec_id"], "left").select(
        "q_id",
        F.round(rel * _disc_col(F.col("rk_a")), 6).alias("gain"),
        F.when(F.col("rk_e") == 1, F.round(F.lit(1.0) / F.col("rk_a"), 6))
        .otherwise(F.lit(0.0))
        .alias("rr_cand"),
    )
    per_q = gains.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_ret"),
        dec_sum("gain", "dcg"),
        F.max("rr_cand").alias("mrr"),
    )
    qs = exact.select("q_id").distinct()
    return (
        qs.join(per_q, "q_id", "left")
        .select(
            "q_id",
            F.coalesce(F.col("n_ret"), F.lit(0).cast("long")).alias("n_ret"),
            F.coalesce(F.col("dcg"), F.lit(0.0)).alias("dcg"),
            F.round(F.coalesce(F.col("dcg"), F.lit(0.0)) / F.lit(_IDCG), 6).alias(
                "ndcg"
            ),
            F.coalesce(F.col("mrr"), F.lit(0.0)).alias("mrr"),
        )
        .orderBy("q_id")
    )


def _x102_sql() -> str:
    disc_case = " ".join(
        f"WHEN {r} THEN {d!r}" for r, d in _DISCOUNTS.items()
    )
    # Exact + IVF ranked CTEs mirror similarity.py's x11/x21 oracles
    # (constants imported so a similarity retune retunes this too).
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < {N_QUERY_VECS}),
        ex_scored AS (
          SELECT q.q_id, e.vec_id,
                 ROUND(list_dot_product(q.q_vec, e.v)
                       / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                          * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
          FROM e CROSS JOIN q WHERE e.vec_id != q.q_id),
        exact AS (
          SELECT q_id, vec_id,
                 CAST(row_number() OVER (PARTITION BY q_id
                      ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk_e
          FROM ex_scored
          QUALIFY rk_e <= {RECALL_K}),
        cent AS (SELECT vec_id AS c_id, v AS c_vec FROM e WHERE vec_id < {SQL_IVF_NLIST}),
        {SQL_TWO_LEVEL_LISTS},
        qdist AS (
          SELECT e.vec_id, c.c_id,
                 ROUND(sqrt(list_sum(list_transform(
                     list_zip(e.v, c.c_vec),
                     p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS dist
          FROM e CROSS JOIN cent c WHERE e.vec_id < {N_QUERY_VECS}),
        probes AS (
          SELECT vec_id AS q_id, c_id AS probe_c FROM qdist
          QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id)
                  <= {IVF_N_PROBE}),
        cand AS (
          SELECT p.q_id, e.vec_id
          FROM e JOIN lists l ON e.vec_id = l.vec_id
                 JOIN probes p ON l.list_c = p.probe_c
          WHERE e.vec_id != p.q_id),
        ap_scored AS (
          SELECT c.q_id, c.vec_id,
                 ROUND(list_dot_product(q.v, e.v)
                       / (sqrt(list_dot_product(q.v, q.v))
                          * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
          FROM cand c JOIN e ON c.vec_id = e.vec_id
                      JOIN e q ON c.q_id = q.vec_id),
        approx AS (
          SELECT q_id, vec_id,
                 CAST(row_number() OVER (PARTITION BY q_id
                      ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk_a
          FROM ap_scored
          QUALIFY rk_a <= {RECALL_K}),
        gains AS (
          SELECT a.q_id,
                 ROUND(CAST(COALESCE({RECALL_K + 1} - x.rk_e, 0) AS DOUBLE)
                       * (CASE a.rk_a {disc_case} ELSE 0.0 END), 6) AS gain,
                 CASE WHEN x.rk_e = 1 THEN ROUND(1.0 / a.rk_a, 6)
                      ELSE 0.0 END AS rr_cand
          FROM approx a LEFT JOIN exact x
            ON a.q_id = x.q_id AND a.vec_id = x.vec_id),
        per_q AS (
          SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_ret,
                 {SQL_DEC_SUM.format(x="gain")} AS dcg,
                 MAX(rr_cand) AS mrr
          FROM gains GROUP BY q_id)
        SELECT qs.q_id,
               COALESCE(p.n_ret, 0) AS n_ret,
               COALESCE(p.dcg, 0.0) AS dcg,
               ROUND(COALESCE(p.dcg, 0.0) / {_IDCG!r}, 6) AS ndcg,
               COALESCE(p.mrr, 0.0) AS mrr
        FROM (SELECT DISTINCT q_id FROM exact) qs
        LEFT JOIN per_q p ON qs.q_id = p.q_id
        ORDER BY qs.q_id
        """


register(
    QuerySpec(
        "x102_ann_ndcg",
        x102_ann_ndcg,
        _x102_sql(),
        "NDCG@5 + MRR of the IVF ANN index vs exact cosine ranking, per query",
    )
)


# --- x103: embedding-corpus PCA (covariance + power iteration) ---------------
POWER_ITERS = 8
FIXED_POINT = 1_000_000  # micro-unit scale shared by both engines' sums
GRAM_CHUNK = 512  # rows per in-worker outer-product slab (bounds memory)


def _x103_gram_partials(batches):
    """Per-partition partial Gram pass (VERDICT r6 ask #7): each PARTITION
    emits d² rows of exact int64 micro-unit sums (plus d first-moment
    rows tagged j = -1 carrying the partition row count), instead of the
    previous row-local (i, j, x_i·x_j) expansion that shuffled d² = 4096
    rows PER VECTOR (the registry's largest per-row constant — 31.5 s at
    sfx1). Because every product is rounded to an integer micro-unit
    BEFORE summation (the x103 fixed-point design), the partial sums are
    exact and order-independent — the merged totals are bit-identical to
    the expression path (asserted by tests/test_round7_invariants.py),
    so the DuckDB oracle is untouched.

    Rounding: numpy's copysign(floor(abs+0.5)) is half-away-from-zero,
    but for |t| < 1 the float add abs(t)+0.5 can land on a coarser grid
    and round up across the integer (0.49999999999999994 → 1), whereas
    Spark's ROUND is decimal HALF_UP on the shortest round-trip repr.
    Rare but real at the 100 TB design point (~1e13 products), so
    fractions inside a 2-ulp guard band around .5 are re-rounded
    through decimal repr (exactly BigDecimal.valueOf's semantics, i.e.
    what Spark and DuckDB apply); for |t| ≥ 1 the formula is provably
    exact (t+0.5 stays on t's grid).  Arrow-batched (mapInPandas),
    never row-at-a-time Python."""
    import numpy as np
    import pandas as pd

    def _half_up(t):
        # floor(abs+0.5) can only mis-round when |t| < 1 (the t+0.5 sum
        # leaves t's grid: e.g. 0.49999999999999994 -> 1) — for |t| >= 1
        # the sum is exactly representable, so the formula is exact.
        # Guard band = 2 ulp around .5, magnitude-relative: anything it
        # flags is re-rounded through decimal repr (exactly
        # BigDecimal.valueOf semantics), so flagged-but-fine values just
        # take the slow path.  The guard is COMPUTED only on the |t| < 1
        # slice: for |t| >= 1 the fast formula is provably exact (above),
        # so re-rounding there can never change a value — and skipping
        # the frac/spacing full-array passes matters, because each pass
        # over a d²-sized slab is a real cost in the partial-Gram hot
        # loop (x103's sf0.1 constant, VERDICT r8 nit #1; output
        # bit-identical, asserted by tests/test_round7_invariants.py).
        at = np.abs(t)
        r = np.copysign(np.floor(at + 0.5), t)
        small = at < 1.0
        if small.any():
            ts = np.asarray(t, dtype=np.float64)[small]
            ats = at[small]
            sus = (ats != 0.0) & (np.abs(ats - 0.5) <= 2.0 * np.spacing(ats))
            if sus.any():  # rare: decimal-repr HALF_UP, the treaty rounding
                from decimal import ROUND_HALF_UP, Decimal

                one = Decimal("1")
                rs = r[small]
                rs[sus] = [
                    float(
                        Decimal(repr(v)).quantize(one, rounding=ROUND_HALF_UP)
                    )
                    for v in ts[sus]
                ]
                r[small] = rs
        return r.astype(np.int64)

    gram = None
    first = None
    n = 0
    d = 0
    for pdf in batches:
        if len(pdf) == 0:
            continue
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        if gram is None:
            d = x.shape[1]
            gram = np.zeros((d, d), dtype=np.int64)
            first = np.zeros(d, dtype=np.int64)
        for s in range(0, len(x), GRAM_CHUNK):
            c = x[s : s + GRAM_CHUNK]
            slab = c[:, :, None] * c[:, None, :] * float(FIXED_POINT)
            gram += _half_up(slab).sum(axis=0)
            first += _half_up(c * float(FIXED_POINT)).sum(axis=0)
        n += len(x)
    if gram is None:
        return
    ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
    yield pd.concat(
        [
            pd.DataFrame(
                {
                    "i": ii.ravel().astype("int32"),
                    "j": jj.ravel().astype("int32"),
                    "s": gram.ravel(),
                    "c": np.zeros(d * d, dtype=np.int64),
                }
            ),
            pd.DataFrame(
                {
                    "i": np.arange(d, dtype="int32"),
                    "j": np.full(d, -1, dtype="int32"),
                    "s": first,
                    "c": np.full(d, n, dtype=np.int64),
                }
            ),
        ],
        ignore_index=True,
    )


def x103_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding corpus: per-dim
    means and the d×d covariance from ONE corpus pass — per-partition
    partial Gram matrices via mapInPandas (d²-sized output per
    PARTITION, not per row; see ``_x103_gram_partials``) merged by a
    4096-key integer sum — then POWER_ITERS max-norm power-iteration
    rounds over the tiny matrix frame. Output: one row per dimension
    with its mean, PC1 loading, and the shared eigenvalue estimate (the
    final iteration's max-norm)."""
    emb = load_table(spark, sf_dir, "embeddings")
    partials = emb.select("embedding").mapInPandas(
        _x103_gram_partials, "i int, j int, s long, c long"
    )
    # one merge shuffle of ≤(d²+d)·partitions rows; ≤d²+d rows out,
    # consumed by moments AND means — checkpoint the tiny frame
    merged = (
        partials.groupBy("i", "j")
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
        .localCheckpoint()
    )
    moments = merged.filter(F.col("j") >= 0).select(
        "i", "j", F.col("s").alias("k_ij")
    )
    means = merged.filter(F.col("j") == -1).select(
        "i",
        F.round(
            F.col("s").cast("double") / F.lit(float(FIXED_POINT)) / F.col("c"),
            6,
        ).alias("mu"),
        F.col("c").alias("n"),
    )
    mu_j = means.select(F.col("i").alias("j"), F.col("mu").alias("mu_j"))
    cov = (
        moments.join(means, "i")
        .join(mu_j, "j")
        .select(
            "i",
            "j",
            F.round(
                F.col("k_ij").cast("double")
                / F.lit(float(FIXED_POINT))
                / F.col("n")
                - F.col("mu") * F.col("mu_j"),
                6,
            ).alias("c"),
        )
    )
    # The iteration runs DRIVER-SIDE on the collected matrix (the x45
    # pattern; VERDICT r6 ask #7 sibling): cov is d² = 4096 rows AT ANY
    # CORPUS SIZE, so 8 fixed-point rounds over ≤4096 Python floats
    # replace 8 Spark jobs of pure scheduling floor (measured 4.0 →
    # ~1.3 s at sf0.1).  The arithmetic replicates the cross-engine
    # treaty EXACTLY (helpers.py): addends are 6-dp HALF_UP-rounded
    # doubles, summed as exact decimals, cast back through the shortest
    # round-trip string — bit-identical to dec_sum/SQL_DEC_SUM, so the
    # unrolled oracle is untouched.  For embedding widths where d² no
    # longer fits a driver, the DataFrame loop is retained below as
    # ``pca_power_distributed_loop`` (bit-identical, equality-tested).
    cov_rows = cov.collect()  # bounded: d² rows at any corpus size
    mean_rows = sorted(means.collect(), key=lambda r: r.i)
    from decimal import Decimal

    c = {(r.i, r.j): r.c for r in cov_rows}
    v = {r.i: (1.0 if r.i == 0 else 0.0) for r in mean_rows}
    m = 0.0
    for _ in range(POWER_ITERS):
        acc: dict[int, Decimal] = {}
        for (i, j), cij in c.items():
            # dec_sum: exact decimal sum of 6-dp-rounded addends
            acc[i] = acc.get(i, Decimal(0)) + Decimal(repr(rnd6(cij * v[j])))
        # decimal → varchar → double (the SQL_DEC_SUM round-trip)
        w = {i: float(str(total)) for i, total in acc.items()}
        m = max(abs(x) for x in w.values())
        v = {i: rnd6(w[i] / m) for i in w}
    from .helpers import inline_rows

    return inline_rows(
        spark,
        [(int(r.i), r.mu, v[r.i], rnd6(m)) for r in mean_rows],
        "dim long, mu double, loading double, eigval double",
    )


def pca_power_distributed_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x103's max-norm power iteration AS DATAFRAMES — the retained
    scale-out variant for embedding widths whose d² matrix no longer
    fits a driver.  Same treaty arithmetic, bit-identical output;
    un-registered, equality-tested against the driver loop.
    localCheckpoint + coalesce(1): each unrolled round would otherwise
    re-embed cov's full subplan (205 s → ~15 s at sf0.001), and the
    graph-sized loop frames run as 1 task per round instead of
    shuffle_partitions tasks."""
    emb = load_table(spark, sf_dir, "embeddings")
    partials = emb.select("embedding").mapInPandas(
        _x103_gram_partials, "i int, j int, s long, c long"
    )
    merged = (
        partials.groupBy("i", "j")
        .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
        .localCheckpoint()
    )
    moments = merged.filter(F.col("j") >= 0).select(
        "i", "j", F.col("s").alias("k_ij")
    )
    means = merged.filter(F.col("j") == -1).select(
        "i",
        F.round(
            F.col("s").cast("double") / F.lit(float(FIXED_POINT)) / F.col("c"),
            6,
        ).alias("mu"),
        F.col("c").alias("n"),
    )
    mu_j = means.select(F.col("i").alias("j"), F.col("mu").alias("mu_j"))
    cov = (
        moments.join(means, "i")
        .join(mu_j, "j")
        .select(
            "i",
            "j",
            F.round(
                F.col("k_ij").cast("double")
                / F.lit(float(FIXED_POINT))
                / F.col("n")
                - F.col("mu") * F.col("mu_j"),
                6,
            ).alias("c"),
        )
    )
    cov = cov.localCheckpoint().coalesce(1)
    v = means.select(
        "i", F.when(F.col("i") == 0, 1.0).otherwise(0.0).alias("v")
    ).coalesce(1)
    for it in range(POWER_ITERS):
        w = (
            cov.join(v.select(F.col("i").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(dec_sum(F.round(F.col("c") * F.col("v"), 6), "w"))
            .coalesce(1)
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = w.crossJoin(F.broadcast(m)).select(
            "i", F.round(F.col("w") / F.col("m"), 6).alias("v"), "m"
        )
        if it % 3 == 2:
            v = v.localCheckpoint()
    return (
        means.join(v, "i")
        .select(
            F.col("i").cast("long").alias("dim"),
            "mu",
            F.col("v").alias("loading"),
            F.round("m", 6).alias("eigval"),
        )
        .orderBy("dim")
    )


def _x103_sql() -> str:
    dec_sum_round = SQL_DEC_SUM.format(x="ROUND({y}, 6)")
    ctes = [f"""
        xv AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        xi AS (
          SELECT unnest([{{'i': i - 1, 'x_i': v[i]}}
                     FOR i IN generate_series(1, len(v))],
                     recursive := true),
                 v AS vec
          FROM xv),
        pairs AS (
          SELECT i, x_i AS a,
                 unnest([{{'j': j - 1, 'b': vec[j]}}
                     FOR j IN generate_series(1, len(vec))],
                     recursive := true)
          FROM xi),
        moments AS (
          SELECT i, j,
                 CAST(SUM(CAST(ROUND(a * b * {FIXED_POINT}.0) AS BIGINT))
                      AS BIGINT) AS k_ij
          FROM pairs GROUP BY i, j),
        means AS (
          SELECT i,
                 ROUND(CAST(SUM(CAST(ROUND(x_i * {FIXED_POINT}.0) AS BIGINT))
                            AS DOUBLE) / {FIXED_POINT}.0 / COUNT(*), 6) AS mu,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM xi GROUP BY i),
        cov AS MATERIALIZED (
          SELECT m.i, m.j,
                 ROUND(CAST(m.k_ij AS DOUBLE) / {FIXED_POINT}.0 / mi.n
                       - mi.mu * mj.mu, 6) AS c
          FROM moments m
          JOIN means mi ON m.i = mi.i
          JOIN means mj ON m.j = mj.i),
        v0 AS (SELECT i, CASE WHEN i = 0 THEN 1.0 ELSE 0.0 END AS v FROM means)"""]
    for k in range(1, POWER_ITERS + 1):
        ctes.append(f"""
        w{k} AS (
          SELECT cov.i, {dec_sum_round.format(y="cov.c * v.v")} AS w
          FROM cov JOIN v{k - 1} v ON cov.j = v.i
          GROUP BY cov.i),
        m{k} AS (SELECT MAX(abs(w)) AS m FROM w{k}),
        v{k} AS (
          SELECT i, ROUND(w / m, 6) AS v, m FROM w{k} CROSS JOIN m{k})""")
    K = POWER_ITERS
    return f"""
        WITH {",".join(ctes)}
        SELECT CAST(means.i AS BIGINT) AS dim, means.mu,
               v{K}.v AS loading, ROUND(v{K}.m, 6) AS eigval
        FROM means JOIN v{K} ON means.i = v{K}.i
        ORDER BY dim
        """


register(
    QuerySpec(
        "x103_embedding_pca",
        x103_embedding_pca,
        _x103_sql(),
        "dominant principal component of the embedding corpus (covariance + power iteration)",
    )
)


# --- x104: MinHash-LSH band/row parameter sweep ------------------------------
# All configs factor MINHASH_HASHES = 16: (bands, rows_per_band).
LSH_CONFIGS = [(2, 8), (4, 4), (8, 2)]
SWEEP_JACCARD_T = 0.5
SWEEP_DROP_FRAC = 5  # suffix variants drop the first 1/5 of each doc's words


def x104_lsh_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured precision/recall of each LSH banding config against the
    exact-Jaccard truth set (pairs ≥ SWEEP_JACCARD_T, from the
    inverted-index shingle join over x75's bounded eval sample). One row
    per config — the table you read before picking (bands, rows) for a
    corpus-wide dedup, instead of trusting the S-curve formula."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < SKETCH_EVAL_MAX_ID)
        .select("doc_id", "text")
    )
    # Without partial dups every config scores identically on the
    # exact-twin pairs (the x92 degeneracy lesson): add a suffix variant
    # per doc (first ~20% of words dropped, Jaccard ≈ 0.6-0.9 vs its
    # original) so band configs actually trade precision for recall.
    words = F.split(F.col("text"), " ")
    drop_n = F.floor(F.size(words) / F.lit(SWEEP_DROP_FRAC)).cast("int")
    suffix = F.array_join(
        F.slice(words, drop_n + F.lit(1), F.size(words) - drop_n), " "
    )
    corpus = docs.unionAll(
        docs.select((F.col("doc_id") + BATCH_OFFSET).alias("doc_id"), "text")
    ).unionAll(
        docs.select(
            (F.col("doc_id") + 2 * BATCH_OFFSET).alias("doc_id"),
            suffix.alias("text"),
        )
    )
    fps = (
        corpus.select("doc_id", F.explode(shingles(F.col("text"))).alias("sh"))
        .select("doc_id", _charfold(F.col("sh")).alias("fp"))
        .dropDuplicates(["doc_id", "fp"])
        .persist()
    )
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = fps.alias("a"), fps.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"))
    truth = (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .filter(
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double")
            >= SWEEP_JACCARD_T
        )
        .select("id_a", "id_b")
        .persist()
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))

    mins = [
        F.min((F.lit(h_a) * F.col("fp") + F.lit(h_b)) % F.lit(ARITH_P)).alias(f"h{j}")
        for j, (h_a, h_b) in enumerate(_ARITH_HASHES)
    ]
    sig = fps.groupBy("doc_id").agg(*mins).persist()

    rows_out = []
    for n_bands, n_rows in LSH_CONFIGS:

        def _bucket(band: int) -> F.Column:
            expr = F.col(f"h{band * n_rows}")
            for r in range(1, n_rows):
                expr = (expr * _BAND_MIX + F.col(f"h{band * n_rows + r}")) % F.lit(
                    ARITH_P
                )
            return expr

        bands = sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(band).cast("long").alias("band"),
                            _bucket(band).alias("bucket"),
                        )
                        for band in range(n_bands)
                    ]
                )
            ).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bucket")
        ba, bb = bands.alias("a"), bands.alias("b")
        cand = (
            ba.join(
                bb,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        stats = cand.join(truth.withColumn("hit", F.lit(1)), ["id_a", "id_b"], "left").agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("tp"),
        )
        rows_out.append(
            stats.crossJoin(n_truth).select(
                F.lit(n_bands).cast("long").alias("bands"),
                F.lit(n_rows).cast("long").alias("rows_per_band"),
                F.col("n_cand").cast("long"),
                F.col("n_truth").cast("long"),
                "tp",
                F.round(F.col("tp").cast("double") / F.col("n_cand"), 6).alias(
                    "precision"
                ),
                F.round(F.col("tp").cast("double") / F.col("n_truth"), 6).alias(
                    "recall"
                ),
            )
        )
    out = rows_out[0]
    for fr in rows_out[1:]:
        out = out.unionAll(fr)
    return out.orderBy("bands")


def _x104_sql() -> str:
    P = ARITH_P
    from .dedup import SHINGLE_WIDTH as W

    sig_cols = ",\n                 ".join(
        f"MIN(({h_a}*fp + {h_b}) % {P}) AS h{j}"
        for j, (h_a, h_b) in enumerate(_ARITH_HASHES)
    )
    cfg_ctes, cfg_selects = [], []
    for n_bands, n_rows in LSH_CONFIGS:

        def bucket_sql(band: int) -> str:
            expr = f"h{band * n_rows}"
            for r in range(1, n_rows):
                expr = f"(({expr}) * {_BAND_MIX} + h{band * n_rows + r}) % {P}"
            return expr

        tag = f"{n_bands}x{n_rows}"
        band_structs = ", ".join(
            f"{{'band': CAST({band} AS BIGINT), 'bucket': {bucket_sql(band)}}}"
            for band in range(n_bands)
        )
        cfg_ctes.append(f"""
        bands_{tag} AS (
          SELECT doc_id, bb.band AS band, bb.bucket AS bucket
          FROM (SELECT doc_id, unnest([{band_structs}]) AS bb FROM sig)),
        cand_{tag} AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands_{tag} a JOIN bands_{tag} b
            ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id),
        stats_{tag} AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_cand,
                 CAST(SUM(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS tp
          FROM cand_{tag} c LEFT JOIN truth t
            ON c.id_a = t.id_a AND c.id_b = t.id_b)""")
        cfg_selects.append(
            f"SELECT CAST({n_bands} AS BIGINT) AS bands, "
            f"CAST({n_rows} AS BIGINT) AS rows_per_band, "
            f"n_cand, (SELECT n_truth FROM n_truth) AS n_truth, tp, "
            f"ROUND(CAST(tp AS DOUBLE) / n_cand, 6) AS precision, "
            f"ROUND(CAST(tp AS DOUBLE) / (SELECT n_truth FROM n_truth), 6) "
            f"AS recall FROM stats_{tag}"
        )
    union = "\n        UNION ALL ".join(cfg_selects)
    return f"""
        WITH sample AS (
          SELECT doc_id, text FROM documents WHERE doc_id < {SKETCH_EVAL_MAX_ID}
          UNION ALL
          SELECT doc_id + {BATCH_OFFSET} AS doc_id, text FROM documents
          WHERE doc_id < {SKETCH_EVAL_MAX_ID}
          UNION ALL
          SELECT doc_id + {2 * BATCH_OFFSET} AS doc_id,
                 array_to_string(
                     string_split(text, ' ')[(len(string_split(text, ' '))
                         // {SWEEP_DROP_FRAC}) + 1:], ' ') AS text
          FROM documents WHERE doc_id < {SKETCH_EVAL_MAX_ID}),
        tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM sample),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(t[i+1:i+{W}], ' ')
                     FOR i IN generate_series(0, len(t)-{W})])) AS sh
          FROM tk),
        fps AS MATERIALIZED (
          SELECT DISTINCT doc_id,
                 list_reduce(list_transform(string_split(sh, ''),
                                            c -> CAST(ascii(c) AS BIGINT)),
                             (a, b) -> (a*31 + b) % {P}) AS fp
          FROM sh),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
                  FROM fps GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(COUNT(*) AS BIGINT) AS n_inter
          FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        truth AS MATERIALIZED (
          SELECT i.id_a, i.id_b
          FROM inter i
          JOIN sizes za ON i.id_a = za.doc_id
          JOIN sizes zb ON i.id_b = zb.doc_id
          WHERE CAST(i.n_inter AS DOUBLE)
                / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE)
                >= {SWEEP_JACCARD_T}),
        n_truth AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
        sig AS MATERIALIZED (
          SELECT doc_id,
                 {sig_cols}
          FROM fps GROUP BY doc_id),{",".join(cfg_ctes)}
        SELECT * FROM ({union})
        ORDER BY bands
        """


register(
    QuerySpec(
        "x104_lsh_tradeoff",
        x104_lsh_tradeoff,
        _x104_sql(),
        "measured precision/recall of MinHash-LSH band/row configs vs exact Jaccard truth",
    )
)


# --- x112: language-ID confusion matrix --------------------------------------
# The eval half of x07: prediction vs stored label as a confusion matrix
# with per-actual-class shares. The Spark side composes x07's DataFrame;
# the oracle composes x07's REGISTERED SQL as a subquery, so a retune of
# the marker list or threshold moves both sides automatically (the
# ADVICE-r3 anti-drift pattern). Label-cardinality-bounded output; one
# (actual, predicted)-keyed aggregation plus a per-actual total join.
from . import _REGISTRY as _REG  # noqa: E402  (x07 registered via .text import)
from .text import x07_langid  # noqa: E402


def x112_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = x07_langid(spark, sf_dir).select(
        F.when(F.col("lang") == "en", "en").otherwise("other").alias("actual"),
        "predicted",
    )
    cells = pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = cells.groupBy("actual").agg(F.sum("n").cast("long").alias("n_actual"))
    return (
        cells.join(totals, "actual")
        .select(
            "actual",
            "predicted",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_actual"), 6).alias("share"),
            (F.col("actual") == F.col("predicted")).alias("is_correct"),
        )
        .orderBy("actual", "predicted")
    )


_X112_SQL = f"""
        WITH p AS ({_REG["x07_langid"].oracle}),
        cells AS (
          SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS actual,
                 predicted, CAST(COUNT(*) AS BIGINT) AS n
          FROM p GROUP BY 1, 2),
        totals AS (
          SELECT actual, CAST(SUM(n) AS BIGINT) AS n_actual
          FROM cells GROUP BY actual)
        SELECT c.actual, c.predicted, c.n,
               ROUND(CAST(c.n AS DOUBLE) / t.n_actual, 6) AS share,
               c.actual = c.predicted AS is_correct
        FROM cells c JOIN totals t ON c.actual = t.actual
        ORDER BY c.actual, c.predicted
        """

register(
    QuerySpec(
        "x112_langid_confusion",
        x112_langid_confusion,
        _X112_SQL,
        "confusion matrix + per-class shares of the x07 language-ID heuristic",
    )
)


# --- x116: split-leakage audit (per-doc vs group-aware) ----------------------
# The measured argument for x110: augment the corpus with suffix
# re-crawls (realistic near-dups), find candidate pairs via the
# oracle-backed LSH chain, then count how many pairs STRADDLE the
# train/val boundary under (a) a per-doc hash split (x25's scheme) and
# (b) the group-aware source split (x110's scheme). Per-doc splits leak
# ≈ 2·p·(1-p) of dup pairs across the boundary; group splits leak zero
# by construction (a doc and its re-crawl share a source). Output is
# two audit rows; everything reuses x111's bounded chain shapes.
from .dedup import LSH_BANDS, LSH_ROWS  # noqa: E402

LEAK_TRAIN_PCT = 80


def x116_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    words = F.split(F.col("text"), " ")
    drop_n = F.floor(F.size(words) / F.lit(5)).cast("int")
    suffix = F.array_join(
        F.slice(words, drop_n + F.lit(1), F.size(words) - drop_n), " "
    )
    corpus = docs.unionAll(
        docs.select(
            (F.col("doc_id") + BATCH_OFFSET).alias("doc_id"),
            "source",
            suffix.alias("text"),
        )
    )
    posting = corpus.select(
        "doc_id", F.explode(shingles(F.col("text"))).alias("sh")
    ).withColumn("fp", _charfold(F.col("sh")))
    mins = [
        F.min((F.lit(a) * F.col("fp") + F.lit(b)) % F.lit(ARITH_P)).alias(f"h{j}")
        for j, (a, b) in enumerate(_ARITH_HASHES)
    ]
    sig = posting.groupBy("doc_id").agg(*mins)

    def _bucket(b: int):
        expr = F.col(f"h{b * LSH_ROWS}")
        for r in range(1, LSH_ROWS):
            expr = (expr * _BAND_MIX + F.col(f"h{b * LSH_ROWS + r}")) % F.lit(
                ARITH_P
            )
        return expr

    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("long").alias("band"),
                        _bucket(b).alias("bucket"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    ba, bb = bands.alias("a"), bands.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    def bucket100(col):
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % 100

    asg = corpus.select(
        "doc_id",
        F.when(bucket100(F.col("doc_id").cast("string")) < LEAK_TRAIN_PCT, "train")
        .otherwise("val")
        .alias("per_doc"),
        F.when(bucket100(F.col("source")) < LEAK_TRAIN_PCT, "train")
        .otherwise("val")
        .alias("by_source"),
    )
    a = asg.select(
        F.col("doc_id").alias("id_a"),
        F.col("per_doc").alias("pd_a"),
        F.col("by_source").alias("bs_a"),
    )
    b = asg.select(
        F.col("doc_id").alias("id_b"),
        F.col("per_doc").alias("pd_b"),
        F.col("by_source").alias("bs_b"),
    )
    j = cand.join(a, "id_a").join(b, "id_b")
    stats = j.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("pd_a") != F.col("pd_b")).cast("long")).alias("pd_cross"),
        F.sum((F.col("bs_a") != F.col("bs_b")).cast("long")).alias("bs_cross"),
    )
    pd_row = stats.select(
        F.lit("per_doc").alias("method"),
        "n_pairs",
        F.col("pd_cross").cast("long").alias("n_cross_split"),
        F.round(F.col("pd_cross").cast("double") / F.col("n_pairs"), 6).alias(
            "leak_rate"
        ),
    )
    bs_row = stats.select(
        F.lit("by_source").alias("method"),
        "n_pairs",
        F.col("bs_cross").cast("long").alias("n_cross_split"),
        F.round(F.col("bs_cross").cast("double") / F.col("n_pairs"), 6).alias(
            "leak_rate"
        ),
    )
    return pd_row.unionAll(bs_row).orderBy("method")


def _x116_sql() -> str:
    from .dedup import SHINGLE_WIDTH as W

    P = ARITH_P
    sig_cols = ",\n                 ".join(
        f"MIN(({a}*fp + {b}) % {P}) AS h{j}"
        for j, (a, b) in enumerate(_ARITH_HASHES)
    )

    def bucket_sql(b: int) -> str:
        expr = f"h{b * LSH_ROWS}"
        for r in range(1, LSH_ROWS):
            expr = f"(({expr}) * {_BAND_MIX} + h{b * LSH_ROWS + r}) % {P}"
        return expr

    band_structs = ", ".join(
        f"{{'band': CAST({b} AS BIGINT), 'bucket': {bucket_sql(b)}}}"
        for b in range(LSH_BANDS)
    )
    b100 = "CAST(('0x' || substring(md5({x}), 1, 8)) AS BIGINT) % 100"
    return f"""
        WITH corpus AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + {BATCH_OFFSET} AS doc_id, source,
                 array_to_string(
                     string_split(text, ' ')[(len(string_split(text, ' '))
                         // 5) + 1:], ' ') AS text
          FROM documents),
        tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(t[i+1:i+{W}], ' ')
                     FOR i IN generate_series(0, len(t)-{W})])) AS sh
          FROM tk),
        fp AS (
          SELECT doc_id,
                 list_reduce(list_transform(string_split(sh, ''),
                                            c -> CAST(ascii(c) AS BIGINT)),
                             (a, b) -> (a*31 + b) % {P}) AS fp
          FROM sh),
        sig AS (
          SELECT doc_id,
                 {sig_cols}
          FROM fp GROUP BY doc_id),
        bands AS (
          SELECT doc_id, bb.band AS band, bb.bucket AS bucket
          FROM (SELECT doc_id, unnest([{band_structs}]) AS bb FROM sig)),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        asg AS (
          SELECT doc_id,
                 CASE WHEN {b100.format(x="CAST(doc_id AS VARCHAR)")}
                           < {LEAK_TRAIN_PCT}
                      THEN 'train' ELSE 'val' END AS per_doc,
                 CASE WHEN {b100.format(x="source")} < {LEAK_TRAIN_PCT}
                      THEN 'train' ELSE 'val' END AS by_source
          FROM corpus),
        j AS (
          SELECT c.id_a, c.id_b,
                 a.per_doc AS pd_a, a.by_source AS bs_a,
                 b.per_doc AS pd_b, b.by_source AS bs_b
          FROM cand c
          JOIN asg a ON c.id_a = a.doc_id
          JOIN asg b ON c.id_b = b.doc_id),
        stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(SUM(CASE WHEN pd_a <> pd_b THEN 1 ELSE 0 END)
                      AS BIGINT) AS pd_cross,
                 CAST(SUM(CASE WHEN bs_a <> bs_b THEN 1 ELSE 0 END)
                      AS BIGINT) AS bs_cross
          FROM j)
        SELECT * FROM (
          SELECT 'per_doc' AS method, n_pairs,
                 pd_cross AS n_cross_split,
                 ROUND(CAST(pd_cross AS DOUBLE) / n_pairs, 6) AS leak_rate
          FROM stats
          UNION ALL
          SELECT 'by_source', n_pairs, bs_cross,
                 ROUND(CAST(bs_cross AS DOUBLE) / n_pairs, 6)
          FROM stats)
        ORDER BY method
        """


register(
    QuerySpec(
        "x116_split_leakage",
        x116_split_leakage,
        _x116_sql(),
        "measured near-dup leakage across the split boundary: per-doc vs group-aware",
    )
)


# --- x119: cross-encoder rerank stage ----------------------------------------
# The second stage of a production retrieval stack: the IVF retriever's
# k-bounded candidates per query are re-scored by a cross-encoder and
# re-ranked. The model call runs as Arrow-batched mapInPandas (the x30
# media pattern — whole batches across the JVM↔Python boundary, schema
# declared, no shuffle introduced); the kernel here is a deterministic
# stand-in (md5-derived perturbation of the retriever score, the same
# contract a real model batch-scorer has) whose arithmetic is
# SQL-expressible, so the ENTIRE Python-stage pipeline is value-checked
# against the oracle, not just row-counted. Rounding happens JVM-side
# after the Python stage (Python's round() is banker's — never round in
# the kernel).
import hashlib as _hashlib  # noqa: E402

_CE_MOD = 1000
_CE_SCALE = 10_000.0


def _ce_kernel(batches):
    """Deterministic stand-in cross-encoder: score = cos_sim + a
    [0, 0.1) perturbation from md5(q|v). A real deployment swaps this
    for a batched model forward pass; signature and batch shape are
    production-real."""
    import pandas as pd

    for pdf in batches:
        pert = [
            (int(_hashlib.md5(f"{q}|{v}".encode()).hexdigest()[:8], 16) % _CE_MOD)
            / _CE_SCALE
            for q, v in zip(pdf["q_id"], pdf["vec_id"])
        ]
        yield pd.DataFrame(
            {
                "q_id": pdf["q_id"].astype("int64"),
                "vec_id": pdf["vec_id"].astype("int64"),
                "cos_sim": pdf["cos_sim"],
                "ce_raw": pdf["cos_sim"] + pd.Series(pert, dtype="float64"),
            }
        )


def x119_rerank_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = x21_ivf_ann(spark, sf_dir).select("q_id", "vec_id", "cos_sim", "rank")
    scored = cand.select("q_id", "vec_id", "cos_sim").mapInPandas(
        _ce_kernel,
        "q_id long, vec_id long, cos_sim double, ce_raw double",
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("ce_score"), F.asc("vec_id")
    )
    reranked = (
        scored.withColumn("ce_score", F.round(F.col("ce_raw"), 6))
        .withColumn("new_rank", F.row_number().over(w).cast("long"))
        .select("q_id", "vec_id", "cos_sim", "ce_score", "new_rank")
    )
    old = cand.select("q_id", "vec_id", F.col("rank").alias("retriever_rank"))
    return (
        reranked.join(old, ["q_id", "vec_id"])
        .select(
            "q_id", "vec_id", "retriever_rank", "new_rank", "cos_sim", "ce_score"
        )
        .orderBy("q_id", "new_rank")
    )


# Oracle: compose x21's registered SQL (anti-drift), then the same
# md5 perturbation + rerank window in DuckDB.
_X119_SQL = f"""
        WITH cand AS ({_REG["x21_ivf_ann"].oracle}),
        scored AS (
          SELECT q_id, vec_id, cos_sim, rank AS retriever_rank,
                 ROUND(cos_sim
                       + (CAST(('0x' || substring(md5(
                              CAST(q_id AS VARCHAR) || '|'
                              || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                          % {_CE_MOD}) / {_CE_SCALE!r}, 6) AS ce_score
          FROM cand)
        SELECT q_id, vec_id, retriever_rank,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY ce_score DESC, vec_id ASC) AS BIGINT) AS new_rank,
               cos_sim, ce_score
        FROM scored
        ORDER BY q_id, new_rank
        """

register(
    QuerySpec(
        "x119_rerank_stage",
        x119_rerank_stage,
        _X119_SQL,
        "retrieval rerank stage: mapInPandas cross-encoder stub over IVF candidates",
    )
)
