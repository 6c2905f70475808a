"""Similarity search over embeddings (SURVEY §2.C X3): brute-force exact
cosine top-k (the correctness baseline) and an LSH-bucketed approximate
variant (the scale path), plus vector-norm profiling.

Numeric determinism: float32 elements widened to float64 are exact, and
float64 products of float32s are exact (24+24 mantissa bits < 53), so
per-pair dot products differ across engines only in sum association
order (~1e-14). All scores are ROUND(·, 6) before ranking/aggregation,
which is 8 orders of magnitude coarser — both engines see identical
rounded values (helpers.py rule 3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from . import QuerySpec, register
from .store import build_once, store_token

N_QUERY_VECS = 5  # vec_id < 5 are the query vectors
TOP_K = 10

# The engine's embedding dimensionality.  Already a de-facto contract
# (``sign_lsh_bucket`` hashes ``F.sequence(0, 63)``); named here so the
# hot vector kernels can unroll to whole-stage-codegen'd arithmetic.
# Spark's higher-order functions (zip_with/aggregate) are
# CodegenFallback — every row drops to interpreted expression eval — so
# the kernels below emit, for VEC_DIM-length inputs, an unrolled
# element_at chain instead (optimization guide §4.2: keep per-row work
# compiled).  The addition order is the identical left-associated fold
# seeded at 0.0, so results are bit-identical; inputs of any OTHER
# length take the original HOF path via a per-row size guard, so
# non-embedding arrays (PQ subvectors, d² PCA rows) are untouched.
VEC_DIM = 64


def _fold_terms(terms) -> Column:
    # left-assoc sum STARTING AT 0.0 — the identical IEEE op sequence as
    # F.aggregate(..., F.lit(0.0), acc + v) (including the 0.0 + (-0.0)
    # sign edge), so the unrolled kernels are bit-identical to the HOF
    # fold they replace.
    e = F.lit(0.0)
    for t in terms:
        e = e + t
    return e


def _dot_hof(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    return _fold_terms(
        F.get(a, i).cast("double") * F.get(b, i).cast("double")
        for i in range(dim)
    )


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Σ a_i·b_i in index order, JVM-side.

    dim=None (default): the zip_with+aggregate fold — correct for any
    array length and for COMPUTED array expressions (each input is
    referenced exactly once).  dim=VEC_DIM (opt-in): a size-guarded
    unrolled element_at chain — same multiplies, same left-assoc
    addition order seeded at 0.0, so bit-identical results — that
    whole-stage-codegens instead of falling back to interpreted HOF
    eval.  Measured on 200k dim-64 pairs of PLAIN COLUMN inputs:
    guarded-unrolled 0.55 s vs HOF 1.7 s (the When guard is
    load-bearing for speed too — a bare 64-term chain compiles into one
    huge method the JIT refuses: 3.6 s).  Opt in ONLY where both inputs
    are materialized array columns: the 64 element references re-
    evaluate a computed-array input (e.g. a transform(...) expression)
    per element, measured 3-4× SLOWER end-to-end on x237 — the
    helpers.py rule-10 lesson at the kernel level."""
    if dim is None:
        return _dot_hof(a, b)
    return F.when(
        (F.size(a) == dim) & (F.size(b) == dim),
        _dot_unrolled(a, b, dim),
    ).otherwise(_dot_hof(a, b))


def l2norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return F.round(dot(a, b, dim) / (l2norm(a, dim) * l2norm(b, dim)), 6)


def x11_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k: broadcast the query vectors against the full corpus —
    one scan, no shuffle of the big side; per-query top-k via window."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    pairs = emb.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("q_id")
    )
    scored = pairs.select(
        "q_id",
        "vec_id",
        cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("q_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


register(
    QuerySpec(
        "x11_cosine_topk",
        x11_cosine_topk,
        f"""
        WITH q AS (
          SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_vec
          FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
        scored AS (
          SELECT q.q_id, e.vec_id,
                 ROUND(list_dot_product(q.q_vec, CAST(e.embedding AS DOUBLE[]))
                       / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                          * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                  CAST(e.embedding AS DOUBLE[])))), 6)
                     AS cos_sim
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id != q.q_id)
        SELECT q_id, vec_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rank
        FROM scored
        QUALIFY rank <= {TOP_K}
        """,
        "exact brute-force cosine top-k (broadcast queries, windowed k)",
    )
)


# LSH for the approximate path: random-hyperplane signs from a fixed seed.
LSH_PLANES = 8


def sign_lsh_bucket(vec_col) -> "F.Column":
    """The production sign-LSH bucket kernel shared by x12/x20 and the
    x190/x191 audits: ±1 hyperplane components are the sign of
    xxhash64(plane, dim_index) — pseudo-random, no stored model — and
    the bucket is the LSH_PLANES-bit string of dot-product signs.
    Identical vectors hash to identical buckets by construction (the
    theorem the audits pin)."""
    sign_dot = [
        F.aggregate(
            F.zip_with(
                vec_col,
                F.sequence(F.lit(0), F.lit(63)),
                lambda x, i: x.cast("double")
                * F.when(F.xxhash64(F.lit(p), i) % 2 == 0, 1.0).otherwise(-1.0),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for p in range(LSH_PLANES)
    ]
    out = F.lit(0).cast("long")
    for p, s in enumerate(sign_dot):
        out = out + (s > 0).cast("long") * F.lit(1 << p).cast("long")
    return out


def x12_cosine_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for ANN: sign-LSH bucketing. Each vector hashes to an
    8-bit bucket of hyperplane signs (planes derived deterministically
    from xxhash64 of (plane, dim) — pseudo-random ±1 components, no
    stored model). Search then only scans the query's bucket: the
    cross-join shrinks by ~2^planes. Bucket stats here; rows-only check
    (xxhash64 not reproducible in DuckDB).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", "label", sign_lsh_bucket(F.col("embedding")).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


register(
    QuerySpec(
        "x12_cosine_lsh_buckets",
        x12_cosine_lsh_buckets,
        None,
        "sign-LSH bucket assignment for approximate NN (8 hyperplanes)",
    )
)


def x13_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm profile; rounded norms aggregated via exact
    decimal sums (helpers rule 3)."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm6 = F.round(l2norm(F.col("embedding")), 6)
    return (
        emb.select("label", norm6.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
            (F.sum(F.col("norm").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1))).alias("avg_norm"),
        )
    )


register(
    QuerySpec(
        "x13_embedding_norms",
        x13_embedding_norms,
        """
        WITH t AS (
          SELECT label,
                 ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))), 6) AS norm
          FROM embeddings)
        SELECT label, COUNT(*) AS n_vecs,
               MIN(norm) AS min_norm, MAX(norm) AS max_norm,
               CAST(CAST(SUM(CAST(norm AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) / COUNT(*)
                   AS avg_norm
        FROM t GROUP BY label
        """,
        "per-label L2-norm stats (rounded-then-decimal aggregation)",
    )
)


NEAR_DUP_THRESHOLD = 0.99
# Blocking key width: bit-packed signs of the first SIGN_BLOCK_BITS vector
# components. Unlike the xxhash64 hyperplanes of x12/x20 this is
# SQL-expressible, so the scale-shaped (blocked, not all-pairs) plan stays
# fully oracle-backed.
SIGN_BLOCK_BITS = 8


def _sign_block(vec: Column) -> Column:
    out = F.lit(0).cast("long")
    for i in range(SIGN_BLOCK_BITS):
        out = out + (F.element_at(vec, i + 1) > 0).cast("long") * F.lit(1 << i)
    return out


def x19_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over the FULL corpus with
    injected exact copies (vec_id+10000) — the embedding analogue of
    content-hash dedup, for when payloads differ but representations
    coincide.

    Scale shape: pairs are generated only within sign-blocks (bit-packed
    component signs), never all-pairs — the join shuffles on the block key
    and costs Σ block² instead of n². Exact-copy duplicates share blocks
    by construction; near-dups with a component sign flipped near zero
    need the multi-band variant (x20's hyperplane LSH with rerank), which
    is this operator's recall-safe production twin.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.unionAll(
        emb.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    ).select("vec_id", "embedding", _sign_block(F.col("embedding")).alias("block"))
    a = corpus.alias("a")
    b = corpus.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos_sim"),
    )
    return pairs.filter(F.col("cos_sim") >= NEAR_DUP_THRESHOLD)


_SIGN_BLOCK_SQL = " + ".join(
    f"(CASE WHEN v[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
    for i in range(SIGN_BLOCK_BITS)
)

register(
    QuerySpec(
        "x19_embedding_near_dup",
        x19_embedding_near_dup,
        f"""
        WITH corpus AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          UNION ALL
          SELECT vec_id + 10000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        blocked AS (
          SELECT vec_id, v, {_SIGN_BLOCK_SQL} AS block FROM corpus)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
        FROM blocked a JOIN blocked b
          ON a.block = b.block AND a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 6) >= {NEAR_DUP_THRESHOLD}
        """,
        "embedding near-dup via sign-block join (no all-pairs; full corpus)",
    )
)


def x20_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end approximate NN: sign-LSH bucket assignment (same planes
    as x12) → candidates share the query's bucket → exact cosine rerank →
    top-5. The scale path for X3: the expensive exact scoring runs only
    inside buckets (corpus/2^8 on average), and bucketing is a single
    narrow projection. Rows-only check (xxhash64 planes); the brute-force
    twin x11 is the oracle-checked exact baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        "vec_id", "embedding", sign_lsh_bucket(F.col("embedding")).alias("bucket")
    )
    queries = corpus.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("bucket").alias("q_bucket"),
    )
    cand = corpus.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")),
    )
    scored = cand.select(
        "q_id", "vec_id", cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


register(
    QuerySpec(
        "x20_lsh_ann_topk",
        x20_lsh_ann_topk,
        None,  # xxhash64-derived planes not reproducible in DuckDB
        "LSH-bucketed approximate NN top-5 (bucket-restricted exact rerank)",
    )
)


IVF_N_CENTROIDS = 16  # FLOOR of the sizing rule; actual nlist grows, see below
IVF_N_PROBE = 2

# The coarse-cell count follows the FAISS sizing rule (adopted for x196
# in round 7, propagated family-wide in round 8 per VERDICT r7 ask #4):
# nlist = max(16, ceil(sqrt(n))) GROWS with the corpus.  With a FIXED
# cell count, per-cell population is ∝ n, so every per-query candidate
# scan grows linearly and the "index" stops being one at scale; sqrt(n)
# cells cap the expected scan at probes·sqrt(n) rows.  The centroids
# stay the first nlist corpus vectors (the determinism trick that makes
# the quantizer oracle-able), and both engines derive the same count
# from the same COUNT(*) — the shared-constant invariant, f-string the
# SQL fragment below wherever an oracle filters `vec_id < nlist`.
SQL_IVF_NLIST = (
    f"GREATEST({IVF_N_CENTROIDS}, "
    "CAST(CEIL(SQRT((SELECT COUNT(*) FROM embeddings))) AS BIGINT))"
)
_NLIST_CACHE: dict[str, int] = {}


def ivf_nlist(spark: SparkSession, sf_dir: str) -> int:
    """nlist = max(16, ⌈√n⌉) for the embeddings table at ``sf_dir`` —
    one bounded count action (the table-stats lookup at scale),
    memoized per directory since the test tables are immutable."""
    if sf_dir not in _NLIST_CACHE:
        import math

        n = load_table(spark, sf_dir, "embeddings").count()
        _NLIST_CACHE[sf_dir] = max(
            IVF_N_CENTROIDS, math.ceil(math.sqrt(float(n)))
        )
    return _NLIST_CACHE[sf_dir]


# With √n cells, a FLAT corpus→cell assignment pass is n×√n = n^1.5 work
# (measured 16× at 10× data on the sfx1 probe for x21) — so CORPUS list
# assignment is TWO-LEVEL: route each vector to the nearest of
# K0 = max(4, ⌈n^¼⌉) super-cells, then score only that super-cell's fine
# centroids (~n^1.25 total; the FAISS-IMI shape).  Query-side PROBING
# stays flat over all nlist centroids: queries are bounded at
# N_QUERY_VECS, so the flat probe scan is constant-sized — and it keeps
# probe semantics global (a query always reaches its true nearest
# lists, whatever the corpus routing did).  CEIL(SQRT(SQRT())) rather
# than POWER(n, 0.25): IEEE sqrt is correctly rounded in both engines,
# pow is not guaranteed to be.
IVF_K0_MIN = 4
SQL_IVF_K0 = (
    f"GREATEST({IVF_K0_MIN}, "
    "CAST(CEIL(SQRT(SQRT((SELECT COUNT(*) FROM embeddings)))) AS BIGINT))"
)


def ivf_k0(spark: SparkSession, sf_dir: str) -> int:
    """K0 = max(4, ⌈n^¼⌉) super-cells — the two-level routing fan-out."""
    if sf_dir not in _K0_CACHE:
        import math

        n = load_table(spark, sf_dir, "embeddings").count()
        _K0_CACHE[sf_dir] = max(
            IVF_K0_MIN, math.ceil(math.sqrt(math.sqrt(float(n))))
        )
    return _K0_CACHE[sf_dir]


_K0_CACHE: dict[str, int] = {}

# SQL twin of two_level_lists(): CTE block assuming ``e(vec_id, v)`` and
# ``cent(c_id, c_vec)`` are already defined; yields ``lists(vec_id,
# list_c)``.  Distances are rounded SQUARED L2 (monotone to euclidean;
# ROUND-at-6dp ties break by id identically in both engines).
SQL_TWO_LEVEL_LISTS = f"""sup AS (
          SELECT vec_id AS s_id, v AS s_vec FROM e
          WHERE vec_id < {SQL_IVF_K0}),
        cent_sup AS MATERIALIZED (
          SELECT s_id, c_id, c_vec FROM (
            SELECT c.c_id, c.c_vec, s.s_id,
                   ROUND(list_sum(list_transform(list_zip(c.c_vec, s.s_vec),
                         p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS sd
            FROM cent c CROSS JOIN sup s)
          QUALIFY row_number() OVER (PARTITION BY c_id
                                     ORDER BY sd, s_id) = 1),
        vec_sup AS MATERIALIZED (
          SELECT vec_id, s_id FROM (
            SELECT e.vec_id, s.s_id,
                   ROUND(list_sum(list_transform(list_zip(e.v, s.s_vec),
                         p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS sd
            FROM e CROSS JOIN sup s)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sd, s_id) = 1),
        lists AS MATERIALIZED (
          SELECT vec_id, c_id AS list_c FROM (
            SELECT e.vec_id, cs.c_id,
                   ROUND(list_sum(list_transform(list_zip(e.v, cs.c_vec),
                         p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d
            FROM e JOIN vec_sup vs USING (vec_id)
                   JOIN cent_sup cs ON vs.s_id = cs.s_id)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d, c_id) = 1)"""


def cent_sup_for(cent: DataFrame, sup: DataFrame) -> DataFrame:
    """(s_id, c_id, c_vec) — each fine centroid of ``cent`` routed to
    its nearest super-cell of ``sup`` (nlist×K0 scoring: bounded both
    sides, a tiny broadcast subtree).  Factored so x228's Lloyd-refined
    centroid frame routes through the identical tie/rounding rules."""
    wcs = Window.partitionBy("c_id").orderBy(F.asc("sd"), F.asc("s_id"))
    return (
        cent.crossJoin(F.broadcast(sup))
        .select(
            "c_id", "c_vec", "s_id",
            _sq_dist(F.col("c_vec"), F.col("s_vec")).alias("sd"),
        )
        .withColumn("srank", F.row_number().over(wcs))
        .filter(F.col("srank") == 1)
        .select("s_id", "c_id", "c_vec")
    )


def two_level_cent_sup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cent_sup_for() over the standard deterministic frames: fine
    centroids = first nlist corpus vectors, super-cells = first K0."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    nlist = ivf_nlist(spark, sf_dir)
    k0 = ivf_k0(spark, sf_dir)
    sup = emb.filter(F.col("vec_id") < k0).select(
        F.col("vec_id").alias("s_id"), F.col("embedding").alias("s_vec")
    )
    cent = emb.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    return cent_sup_for(cent, sup)


def two_level_assign(
    spark: SparkSession, sf_dir: str, n_keep: int = 1
) -> DataFrame:
    """(vec_id, c_id, crank) — each corpus vector's n_keep nearest fine
    centroids WITHIN its routed super-cell, under the two-level
    quantizer (see the block comment above).  Plan shape: two bounded
    nested-loop broadcasts (the K0-row super-cell frame, scan bounds
    pushed) plus one bounded BroadcastHashJoin (the nlist-row cent_sup
    frame keyed on super-cell); no corpus-sized broadcast, no
    corpus-wide window over more than ~n·n^¼ rows.  n_keep > 1 is the
    corpus-sized multi-probe case (x196): probing stays within the
    routed super-cell — the standard IMI recall trade."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    k0 = ivf_k0(spark, sf_dir)
    sup = emb.filter(F.col("vec_id") < k0).select(
        F.col("vec_id").alias("s_id"), F.col("embedding").alias("s_vec")
    )
    return route_two_level(
        emb,
        sup,
        two_level_cent_sup(spark, sf_dir),
        n_keep,
        cent_rows=ivf_nlist(spark, sf_dir),
    )


# Broadcast ceiling for the fine-centroid (cent_sup) frame in the
# two-level router's second hop (VERDICT r8 ask #3).  cent_sup is nlist
# = ⌈√n⌉ rows of 64 doubles (~0.6 KB/row with overhead): ~16 MB at
# n=10⁹, ~60 MB at n=10¹⁰, ~0.3 GB at n=10¹² — a broadcast is the
# right shape until roughly the half-GB mark, past which every executor
# paying the full copy beats the alternative no longer.  Past the
# ceiling the second hop becomes a shuffle-hash join keyed on s_id:
# vec_sup is already narrow (vec_id, embedding, s_id) and the join key
# has K0 = ⌈n^¼⌉ distinct values spread by Spark's hash partitioning,
# so the shuffle moves each side once and builds per-partition hash
# tables from the √n-row side.  Crossed at n ≈ 2.5·10¹¹ vectors under
# the √n rule.  The routing OUTPUT is identical either way (join shape
# only), so no oracle changes; tests/test_round9_invariants.py asserts
# both plan shapes.
TWO_LEVEL_BCAST_MAX_ROWS = 500_000


def route_two_level(
    df: DataFrame,
    sup: DataFrame,
    cent_sup: DataFrame,
    n_keep: int = 1,
    cent_rows: int | None = None,
    include_dist: bool = False,
) -> DataFrame:
    """The routing core, factored so a STREAMING micro-batch (x223) can
    assign its rows against the same frozen quantizer frames with
    bit-identical tie/rounding semantics.  df: (vec_id, embedding).
    cent_rows (when the caller knows it — nlist for the standard
    quantizer) picks the second-hop join shape: broadcast below
    TWO_LEVEL_BCAST_MAX_ROWS, s_id-keyed shuffle-hash above.
    include_dist adds the rounded squared distance column ``d`` (x228's
    quantization-error rollup needs it).

    Argmin shape note (r14, measured): the per-key minimum stays a
    row_number window ON PURPOSE.  An aggregate rewrite
    (``MIN(STRUCT(dist, id, ...))``) was tried and REVERTED: Min over a
    struct buffer plans as SortAggregate (no hash/object-hash support),
    which measured ~2× slower warm than this window (1.2 s vs 2.5 s for
    the full assignment at sf0.1) — because Spark 3.5+/4 already plans
    ``rank <= k`` windows as WindowGroupLimit with a PARTIAL mode, i.e.
    the map side keeps only the per-key top-k before the exchange, so
    the window was never shuffling every candidate row to begin with."""
    wvs = Window.partitionBy("vec_id").orderBy(F.asc("sd"), F.asc("s_id"))
    vec_sup = (
        df.crossJoin(F.broadcast(sup))
        .select(
            "vec_id", "embedding", "s_id",
            # default HOF kernel: df's embedding may be a COMPUTED array
            # (x237 routes a transform(...) of the corpus) — see dot()
            _sq_dist(F.col("embedding"), F.col("s_vec")).alias("sd"),
        )
        .withColumn("srank", F.row_number().over(wvs))
        .filter(F.col("srank") == 1)
        .select("vec_id", "embedding", "s_id")
    )
    wv = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("c_id"))
    if cent_rows is not None and cent_rows > TWO_LEVEL_BCAST_MAX_ROWS:
        hop2 = vec_sup.join(cent_sup.hint("shuffle_hash"), "s_id")
    else:
        hop2 = vec_sup.join(F.broadcast(cent_sup), "s_id")
    return (
        hop2
        .select(
            "vec_id", "c_id",
            _sq_dist(F.col("embedding"), F.col("c_vec")).alias("d"),
        )
        .withColumn("crank", F.row_number().over(wv))
        .filter(F.col("crank") <= n_keep)
        .select(
            "vec_id",
            "c_id",
            "crank",
            *(["d"] if include_dist else []),
        )
    )


def sql_two_level_assign(n_keep: int) -> str:
    """SQL twin of two_level_assign: CTE block assuming ``e(vec_id, v)``
    and ``cent(c_id, c_vec)``; yields ``assigns(vec_id, c_id, crank)``."""
    return f"""sup AS (
          SELECT vec_id AS s_id, v AS s_vec FROM e
          WHERE vec_id < {SQL_IVF_K0}),
        cent_sup AS MATERIALIZED (
          SELECT s_id, c_id, c_vec FROM (
            SELECT c.c_id, c.c_vec, s.s_id,
                   ROUND(list_sum(list_transform(list_zip(c.c_vec, s.s_vec),
                         p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS sd
            FROM cent c CROSS JOIN sup s)
          QUALIFY row_number() OVER (PARTITION BY c_id
                                     ORDER BY sd, s_id) = 1),
        vec_sup AS MATERIALIZED (
          SELECT vec_id, s_id FROM (
            SELECT e.vec_id, s.s_id,
                   ROUND(list_sum(list_transform(list_zip(e.v, s.s_vec),
                         p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS sd
            FROM e CROSS JOIN sup s)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sd, s_id) = 1),
        assigns AS MATERIALIZED (
          SELECT vec_id, c_id, crank FROM (
            SELECT e.vec_id, cs.c_id,
                   ROUND(list_sum(list_transform(list_zip(e.v, cs.c_vec),
                         p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY ROUND(list_sum(list_transform(
                           list_zip(e.v, cs.c_vec),
                           p -> (p[1] - p[2]) * (p[1] - p[2]))), 6),
                           cs.c_id) AS crank
            FROM e JOIN vec_sup vs USING (vec_id)
                   JOIN cent_sup cs ON vs.s_id = cs.s_id)
          WHERE crank <= {n_keep})"""


def two_level_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, list_c) — rank-1 restriction of two_level_assign: every
    corpus vector's single inverted-list id."""
    return two_level_assign(spark, sf_dir, 1).select(
        "vec_id", F.col("c_id").alias("list_c")
    )


def x21_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate NN, fully oracle-able: the coarse quantizer is
    deterministic (centroids = the first nlist = max(16, ⌈√n⌉) corpus
    vectors — the FAISS sizing rule, so per-cell population stays ~√n),
    every vector is assigned to its nearest centroid (inverted lists), and
    each query scans only its IVF_N_PROBE nearest lists before exact
    rerank. At scale the inverted lists are pre-materialized/partitioned
    by centroid id, so a query touches ~probes·√n vectors.

    Distances are rounded per helpers rule 3; ties broken by id, so list
    assignment is identical across engines.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < ivf_nlist(spark, sf_dir)).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )

    def assign(df, vec_col, id_col, n_keep, out_prefix):
        """nearest-centroid ranks via broadcast cross join + window."""
        scored = df.crossJoin(F.broadcast(cent)).select(
            id_col,
            "c_id",
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            vec_col,
                            F.col("c_vec"),
                            lambda x, y: (x.cast("double") - y.cast("double"))
                            * (x.cast("double") - y.cast("double")),
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                ),
                6,
            ).alias("dist"),
        )
        w = Window.partitionBy(id_col).orderBy(F.asc("dist"), F.asc("c_id"))
        return (
            scored.withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") <= n_keep)
            .select(id_col, F.col("c_id").alias(f"{out_prefix}_c"), "crank")
        )

    lists = two_level_lists(spark, sf_dir)  # corpus side: ~n^1.25, not n^1.5
    corpus = emb.join(lists, "vec_id")

    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    probes = assign(
        queries.select(F.col("q_id").alias("vec_id"), F.col("q_vec").alias("embedding")),
        F.col("embedding"),
        "vec_id",
        IVF_N_PROBE,
        "probe",
    ).select(F.col("vec_id").alias("q_id"), F.col("probe_c"))

    cand = (
        corpus.join(F.broadcast(probes), corpus.list_c == probes.probe_c)
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(queries), "q_id")
    )
    scored = cand.select(
        "q_id", "vec_id", cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


register(
    QuerySpec(
        "x21_ivf_ann",
        x21_ivf_ann,
        f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
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
        scored AS (
          SELECT c.q_id, c.vec_id,
                 ROUND(list_dot_product(q.v, e.v)
                       / (sqrt(list_dot_product(q.v, q.v))
                          * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
          FROM cand c JOIN e ON c.vec_id = e.vec_id
                      JOIN e q ON c.q_id = q.vec_id)
        SELECT q_id, vec_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rank
        FROM scored QUALIFY rank <= 5
        """,
        "IVF-style ANN: deterministic coarse quantizer + probed inverted lists",
    )
)


PQ_M = 4  # subspaces
PQ_SUBDIM = 16  # 64-dim embeddings / 4
PQ_K = 8  # centroids per subspace


def x42_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: the embedding-compression pass an ANN index
    build runs — split each 64-dim vector into PQ_M contiguous subvectors
    and encode each as the id of its nearest subspace centroid, shrinking
    a vector to PQ_M small codes (here 4×3 bits) plus a shared codebook.

    Deterministic codebook (same trick as x21's coarse quantizer): subspace
    m's centroids are the m-th subvectors of the first PQ_K corpus vectors,
    so the whole thing is oracle-able. One explode (corpus × M subvectors),
    one broadcast join against the 32-row codebook, one window top-1 per
    (vector, subspace) — the shuffle carries (vec_id, m, dist)-sized rows
    only. At scale the codebook is a real k-means fit, but the assignment
    plan — the expensive part — is exactly this.

    Output: one row per (vec_id, subspace): the code and the (rounded,
    helpers rule 3) quantization distance.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    slices = F.array(
        *[F.slice("embedding", m * PQ_SUBDIM + 1, PQ_SUBDIM) for m in range(PQ_M)]
    )
    sub = emb.select("vec_id", F.posexplode(slices).alias("m", "subvec"))
    cent = sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("c_id"), "m", F.col("subvec").alias("c_vec")
    )
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("subvec"),
                    F.col("c_vec"),
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
        6,
    )
    scored = sub.join(F.broadcast(cent), "m").select(
        "vec_id", F.col("m").cast("long").alias("m"), "c_id", dist.alias("dist")
    )
    w = Window.partitionBy("vec_id", "m").orderBy(F.asc("dist"), F.asc("c_id"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("vec_id", "m", F.col("c_id").alias("code"), "dist")
    )


register(
    QuerySpec(
        "x42_pq_codes",
        x42_pq_codes,
        f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sub AS (
          SELECT vec_id, m, v[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}] AS sv
          FROM e CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) t),
        cent AS (
          SELECT vec_id AS c_id, m, sv AS c_vec FROM sub WHERE vec_id < {PQ_K}),
        scored AS (
          SELECT s.vec_id, s.m, c.c_id,
                 ROUND(sqrt(list_sum(list_transform(
                     list_zip(s.sv, c.c_vec),
                     p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS dist
          FROM sub s JOIN cent c USING (m))
        SELECT vec_id, CAST(m AS BIGINT) AS m, c_id AS code, dist
        FROM scored
        QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c_id) = 1
        """,
        "product quantization: per-subspace nearest-centroid codes + quantization error",
    )
)


KM_K = 8  # clusters
KM_ITERS = 3


def _sq_dist(a: Column, b: Column, dim: int | None = None) -> Column:
    """Rounded squared L2 between two double arrays — sequential fold, so
    the addition order is fixed and identical in both engines (the x21
    pattern; ROUND is helpers rule 3).  Same adaptive unroll contract as
    ``dot`` (see VEC_DIM): bit-identical ops, compiled instead of
    interpreted for embedding-shaped rows."""

    def _term(i: int) -> Column:
        d = F.get(a, i).cast("double") - F.get(b, i).cast("double")
        return d * d

    def _unrolled(n: int) -> Column:
        return F.round(_fold_terms(_term(i) for i in range(n)), 6)

    hof = F.round(
        F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    if dim is None:
        return hof
    return F.when(
        (F.size(a) == dim) & (F.size(b) == dim), _unrolled(dim)
    ).otherwise(hof)


def x49_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel Lloyd k-means over the embedding corpus — the clustering
    pass behind semantic dedup and IVF index builds. Deterministic
    throughout: centroids init from the first KM_K vectors (the x21
    trick), assignment distances are rounded sequential folds, and the
    centroid update is a decimal-exact mean per (cluster, dim) — so
    KM_ITERS unrolled iterations are bit-identical in the SQL oracle.

    Scale shape per iteration: assignment is corpus × broadcast(K
    centroids) with a JVM fold per pair — no explode, no shuffle beyond
    the min-distance window keyed by vector; the update explodes only for
    the (cluster, dim)-keyed mean (n·d narrow rows, map-side combined)
    and rebuilds K packed centroid arrays. Empty clusters keep their
    previous centroid (left-join coalesce)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return kmeans_assign(emb)


def kmeans_assign(emb: DataFrame) -> DataFrame:
    """x49's Lloyd loop over any (vec_id, v: array<double>) frame —
    shared with x199 (SemDeDup), which clusters an augmented corpus."""
    cent = emb.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("c_vec")
    )
    assign = None
    for _ in range(KM_ITERS):
        scored = emb.crossJoin(F.broadcast(cent)).select(
            "vec_id", "v", "c_id", _sq_dist(F.col("v"), F.col("c_vec")).alias("d")
        )
        w = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("c_id"))
        assign = (
            scored.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select("vec_id", "v", F.col("c_id").alias("cluster"), "d")
        )
        dims = assign.select(
            "cluster", F.posexplode("v").alias("dim", "val")
        )
        means = dims.groupBy("cluster", "dim").agg(
            (F.sum(F.col("val").cast("decimal(30,10)")).cast("double") / F.count(F.lit(1))).alias("m")
        )
        packed = means.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s.m
            ).alias("new_vec")
        )
        cent = (
            cent.join(
                F.broadcast(packed), cent.c_id == packed.cluster, "left"
            )
            .select(
                "c_id",
                F.coalesce(F.col("new_vec"), F.col("c_vec")).alias("c_vec"),
            )
        )
    return assign.select(
        "vec_id", F.col("cluster").cast("long").alias("cluster"), "d"
    )


def _kmeans_sql(
    n_iter: int = KM_ITERS,
    e_body: str = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings",
) -> str:
    head = f"""
        WITH e AS ({e_body}),
        cent0 AS (
          SELECT vec_id AS c_id, v AS c_vec FROM e WHERE vec_id < {KM_K})"""
    steps = []
    for i in range(n_iter):
        steps.append(f"""
        assign{i} AS (
          SELECT vec_id, v, c_id AS cluster, d FROM (
            SELECT e.vec_id, e.v, c.c_id,
                   ROUND(list_sum(list_transform(list_zip(e.v, c.c_vec),
                         p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d
            FROM e CROSS JOIN cent{i} c)
          QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c_id) = 1),
        means{i} AS (
          SELECT cluster, dim,
                 CAST(CAST(SUM(CAST(val AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
                     / COUNT(*) AS m
          FROM (SELECT cluster,
                       generate_subscripts(v, 1) - 1 AS dim,
                       unnest(v) AS val
                FROM assign{i})
          GROUP BY cluster, dim),
        packed{i} AS (
          SELECT cluster, list(m ORDER BY dim) AS new_vec
          FROM means{i} GROUP BY cluster),
        cent{i + 1} AS (
          SELECT c.c_id, COALESCE(p.new_vec, c.c_vec) AS c_vec
          FROM cent{i} c LEFT JOIN packed{i} p ON c.c_id = p.cluster)""")
    return (
        head + "," + ",".join(steps)
        + f"""
        SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, d
        FROM assign{n_iter - 1}"""
    )


register(
    QuerySpec(
        "x49_kmeans",
        x49_kmeans,
        _kmeans_sql(),
        "parallel Lloyd k-means: deterministic init, decimal-exact centroid means",
    )
)


# --- x121: IVF index as a partitioned table (probe = partition pruning) ------
# x21's docstring promises "at scale the inverted lists are
# pre-materialized/partitioned by centroid id"; this operator DOES it:
# the assignment writes once as a hive layout partitioned by list id,
# and probing becomes a broadcast join against the query's probe set —
# Spark installs a DynamicPruningExpression on the index scan (the x100
# mechanism), so a query physically opens only its probes' directories:
# corpus/centroids × probes vectors read, the rest never leaves disk.
# Same rows as x21 by construction, so x21's registered oracle is
# reused verbatim (zero drift).


def ivf_index_path(spark: SparkSession, sf_dir: str) -> str:
    # nlist in the key: a layout built under a different cell count
    # must never be mistaken for this one (the count is data-derived)
    def build(d: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        # assignment = the shared two-level quantizer, so the layout is
        # EXACTLY x21's inverted lists (x21's oracle is reused verbatim)
        lists = emb.join(two_level_lists(spark, sf_dir), "vec_id").select(
            "vec_id", "embedding", "list_c"
        )
        lists.repartition("list_c").write.mode("overwrite").partitionBy(
            "list_c"
        ).parquet(d)

    return build_once(
        sf_dir, "ivf_index", f"_tl_nl{ivf_nlist(spark, sf_dir)}", build
    )


def x121_ivf_partitioned_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < ivf_nlist(spark, sf_dir)).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    qdist = queries.crossJoin(F.broadcast(cent)).select(
        "q_id",
        "q_vec",
        "c_id",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col("q_vec"),
                        F.col("c_vec"),
                        lambda x, y: (x.cast("double") - y.cast("double"))
                        * (x.cast("double") - y.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
            6,
        ).alias("dist"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("c_id"))
    probes = (
        qdist.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= IVF_N_PROBE)
        .select("q_id", "q_vec", F.col("c_id").alias("probe_c"))
    )
    index = spark.read.parquet(ivf_index_path(spark, sf_dir))
    cand = index.join(
        F.broadcast(probes), index.list_c == probes.probe_c
    ).filter(F.col("vec_id") != F.col("q_id"))
    scored = cand.select(
        "q_id", "vec_id", cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "vec_id", "cos_sim", F.col("rank").cast("long").alias("rank"))
    )


def _register_x121() -> None:
    from . import _REGISTRY as _SIM_REG

    register(
        QuerySpec(
            "x121_ivf_partitioned_index",
            x121_ivf_partitioned_index,
            _SIM_REG["x21_ivf_ann"].oracle,  # same rows by construction
            "IVF inverted lists as a hive-partitioned table; probing = partition pruning",
        )
    )


_register_x121()


# --- x122: PQ asymmetric-distance search (ADC) -------------------------------
# The search half of x42's compression: queries stay full-precision, the
# corpus is its PQ codes, and per-query distance tables (M × K rounded
# squared sub-distances — a 32-row broadcast per query set) turn
# distance evaluation into M table lookups + a sum. This is the IVF-PQ
# scan shape every large ANN deployment runs: the corpus-side join
# carries only (vec_id, m, code), never vectors. Approximate top-5 per
# query is flagged against the exact cosine top-5 so the compression's
# retrieval cost is visible in the output, not assumed.
PQ_TOPK = 5


def x122_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    codes = x42_pq_codes(spark, sf_dir).select("vec_id", "m", "code")
    slices = F.array(
        *[F.slice("embedding", m * PQ_SUBDIM + 1, PQ_SUBDIM) for m in range(PQ_M)]
    )
    sub = emb.select("vec_id", F.posexplode(slices).alias("m", "subvec"))
    cent = sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("c_id"), "m", F.col("subvec").alias("c_vec")
    )
    qsub = sub.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), "m", F.col("subvec").alias("q_vec")
    )
    dtab = qsub.join(F.broadcast(cent), "m").select(
        "q_id",
        F.col("m").cast("long").alias("m"),
        "c_id",
        _sq_dist(F.col("q_vec"), F.col("c_vec")).alias("d2"),
    )
    partial = codes.join(
        F.broadcast(dtab),
        (codes.m == dtab.m) & (codes.code == dtab.c_id),
    ).select(codes.vec_id, "q_id", "d2")
    adc = (
        partial.filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            F.round(
                F.sum(F.col("d2").cast("decimal(30,10)")).cast("double"), 6
            ).alias("adc_dist")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    ranked = (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select("q_id", "vec_id", "adc_dist", F.col("rank").cast("long").alias("rank"))
    )
    exact = (
        x11_cosine_topk(spark, sf_dir)
        .filter(F.col("rank") <= PQ_TOPK)
        .select("q_id", "vec_id", F.lit(1).alias("hit"))
    )
    return (
        ranked.join(exact, ["q_id", "vec_id"], "left")
        .select(
            "q_id",
            "vec_id",
            "adc_dist",
            "rank",
            F.col("hit").isNotNull().alias("in_exact_top5"),
        )
        .orderBy("q_id", "rank")
    )


def _x122_sql() -> str:
    from . import _REGISTRY as _SIM_REG

    x42_sql = _SIM_REG["x42_pq_codes"].oracle
    return f"""
        WITH codes AS ({x42_sql}),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sub AS (
          SELECT vec_id, m, v[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}] AS sv
          FROM e CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) t),
        cent AS (
          SELECT vec_id AS c_id, m, sv AS c_vec FROM sub WHERE vec_id < {PQ_K}),
        qsub AS (
          SELECT vec_id AS q_id, m, sv AS q_vec FROM sub
          WHERE vec_id < {N_QUERY_VECS}),
        dtab AS (
          SELECT q.q_id, CAST(q.m AS BIGINT) AS m, c.c_id,
                 ROUND(list_sum(list_transform(
                     list_zip(q.q_vec, c.c_vec),
                     p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d2
          FROM qsub q JOIN cent c USING (m)),
        adc AS (
          SELECT d.q_id, k.vec_id,
                 ROUND(CAST(CAST(SUM(CAST(d.d2 AS DECIMAL(30,10))) AS VARCHAR)
                            AS DOUBLE), 6) AS adc_dist
          FROM codes k JOIN dtab d ON k.m = d.m AND k.code = d.c_id
          WHERE k.vec_id != d.q_id
          GROUP BY d.q_id, k.vec_id),
        ranked AS (
          SELECT q_id, vec_id, adc_dist,
                 CAST(row_number() OVER (PARTITION BY q_id
                      ORDER BY adc_dist ASC, vec_id ASC) AS BIGINT) AS rank
          FROM adc
          QUALIFY rank <= {PQ_TOPK}),
        ex_scored AS (
          SELECT q.vec_id AS q_id, e.vec_id,
                 ROUND(list_dot_product(q.v, e.v)
                       / (sqrt(list_dot_product(q.v, q.v))
                          * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
          FROM e CROSS JOIN e q
          WHERE q.vec_id < {N_QUERY_VECS} AND e.vec_id != q.vec_id),
        exact AS (
          SELECT q_id, vec_id FROM ex_scored
          QUALIFY row_number() OVER (PARTITION BY q_id
                  ORDER BY cos_sim DESC, vec_id ASC) <= {PQ_TOPK})
        SELECT r.q_id, r.vec_id, r.adc_dist, r.rank,
               x.vec_id IS NOT NULL AS in_exact_top5
        FROM ranked r LEFT JOIN exact x
          ON r.q_id = x.q_id AND r.vec_id = x.vec_id
        ORDER BY r.q_id, r.rank
        """


def _register_x122() -> None:
    register(
        QuerySpec(
            "x122_pq_adc_search",
            x122_pq_adc_search,
            _x122_sql(),
            "PQ asymmetric-distance search: per-query distance tables over the code table",
        )
    )


_register_x122()


# --- x197: IVF-PQ with residual encoding (the production FAISS layout) -------
# Codebook training vectors: residuals of the PQ_K vectors just past the
# coarse-centroid block.  (The first nlist vectors ARE the coarse
# centroids, so their residuals are zero — using them would degenerate
# the codebook; the offset keeps it deterministic AND nonzero.  Since
# round 8 the base is the derived nlist — SQL computes the same base
# from the same COUNT via SQL_IVF_NLIST.)
IVFPQ_TOPK = 5


def x197_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ proper: every vector is assigned to its nearest coarse
    centroid (x21's deterministic quantizer), its RESIDUAL against that
    centroid is product-quantized (x42's subspace scheme on residuals —
    the residual trick is what makes PQ accurate under IVF: residuals
    are small and centered, so a shared codebook covers them), and
    queries ADC-search only their IVF_N_PROBE probed cells with a
    PER-CELL distance table built from the query's residual against
    that cell's centroid.  Completes x121 (cell-partitioned storage,
    DPP probing) + x122 (flat PQ ADC) into the layout a 100 TB ANN
    index actually ships: inverted lists of (vec_id, PQ_M codes) — ~5
    bytes/vector here — scanned via table lookups, exact vectors never
    touched after indexing.

    Scale shapes: assignments/encodings are one broadcast join against
    the bounded centroid/codebook frames + a per-key WindowGroupLimit;
    the search joins the code table against a broadcast distance table
    of Nq × probes × PQ_M × PQ_K rows (bounded), keyed on (cell, m,
    code) so only probed cells' codes participate.  All distances are
    ROUND(·,6) decimal-summed (helpers rules 1+3)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = emb.filter(F.col("vec_id") < ivf_nlist(spark, sf_dir)).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )

    def nearest_cells(df: DataFrame, id_col: str, n_keep: int) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cent)).select(
            id_col,
            "c_id",
            _sq_dist(F.col("embedding"), F.col("c_vec")).alias("d"),
        )
        w = Window.partitionBy(id_col).orderBy(F.asc("d"), F.asc("c_id"))
        return (
            scored.withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") <= n_keep)
            .select(id_col, F.col("c_id").alias("cell"))
        )

    residual = F.zip_with(
        "embedding", F.col("c_vec"), lambda x, y: x.cast("double") - y.cast("double")
    )
    assigned = (
        emb.join(
            two_level_lists(spark, sf_dir).select(
                "vec_id", F.col("list_c").alias("cell")
            ),
            "vec_id",
        )
        .join(F.broadcast(cent), F.col("cell") == F.col("c_id"))
        .select("vec_id", "cell", residual.alias("res"))
    )
    slices = F.array(
        *[F.slice("res", m * PQ_SUBDIM + 1, PQ_SUBDIM) for m in range(PQ_M)]
    )
    sub = assigned.select("vec_id", "cell", F.posexplode(slices).alias("m", "sv"))
    cb_base = ivf_nlist(spark, sf_dir)
    cb = sub.filter(
        (F.col("vec_id") >= cb_base) & (F.col("vec_id") < cb_base + PQ_K)
    ).select((F.col("vec_id") - cb_base).alias("cb_id"), "m", F.col("sv").alias("cb_vec"))
    enc = sub.join(F.broadcast(cb), "m").select(
        "vec_id", "cell", "m", "cb_id", _sq_dist(F.col("sv"), F.col("cb_vec")).alias("d")
    )
    wenc = Window.partitionBy("vec_id", "m").orderBy(F.asc("d"), F.asc("cb_id"))
    codes = (
        enc.withColumn("crank", F.row_number().over(wenc))
        .filter(F.col("crank") == 1)
        .select("vec_id", "cell", "m", F.col("cb_id").alias("code"))
    )

    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    probes = nearest_cells(
        queries.select(F.col("q_id").alias("vec_id"), F.col("q_vec").alias("embedding")),
        "vec_id",
        IVF_N_PROBE,
    ).select(F.col("vec_id").alias("q_id"), "cell")
    qres = (
        queries.join(F.broadcast(probes), "q_id")
        .join(F.broadcast(cent), F.col("cell") == F.col("c_id"))
        .select(
            "q_id",
            "cell",
            F.zip_with(
                "q_vec", F.col("c_vec"), lambda x, y: x.cast("double") - y.cast("double")
            ).alias("res"),
        )
    )
    qsub = qres.select("q_id", "cell", F.posexplode(slices).alias("m", "sv"))
    dtab = qsub.join(F.broadcast(cb), "m").select(
        "q_id", "cell", "m", "cb_id", _sq_dist(F.col("sv"), F.col("cb_vec")).alias("d2")
    )
    partial = codes.join(
        F.broadcast(dtab),
        (codes.cell == dtab.cell) & (codes.m == dtab.m) & (codes.code == dtab.cb_id),
    ).select(codes.vec_id, "q_id", "d2")
    adc = (
        partial.filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(
            F.round(
                F.sum(F.col("d2").cast("decimal(30,10)")).cast("double"), 6
            ).alias("adc_dist")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= IVFPQ_TOPK)
        .select("q_id", "vec_id", "adc_dist", F.col("rank").cast("long").alias("rank"))
        .orderBy("q_id", "rank")
    )


def _x197_sql() -> str:
    sq = (
        "ROUND(list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)"
    )
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                 WHERE vec_id < {SQL_IVF_NLIST}),
        {SQL_TWO_LEVEL_LISTS},
        res AS MATERIALIZED (
          SELECT e.vec_id, l.list_c AS cell,
                 list_transform(list_zip(e.v, c.c_vec), p -> p[1] - p[2]) AS r
          FROM e JOIN lists l USING (vec_id) JOIN cent c ON l.list_c = c.c_id),
        sub AS MATERIALIZED (
          SELECT vec_id, cell, m,
                 r[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}] AS sv
          FROM res CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) t),
        cb AS MATERIALIZED (
          SELECT vec_id - {SQL_IVF_NLIST} AS cb_id, m, sv AS cb_vec
          FROM sub
          WHERE vec_id >= {SQL_IVF_NLIST}
           AND vec_id < {SQL_IVF_NLIST} + {PQ_K}),
        codes AS (
          SELECT vec_id, cell, m, cb_id AS code FROM (
            SELECT s.vec_id, s.cell, s.m, c.cb_id,
                   {sq.format(a="s.sv", b="c.cb_vec")} AS d
            FROM sub s JOIN cb c USING (m))
          QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cb_id) = 1),
        probes AS (
          SELECT q_id, c_id AS cell FROM (
            SELECT e.vec_id AS q_id, c.c_id, {sq.format(a="e.v", b="c.c_vec")} AS d
            FROM e CROSS JOIN cent c WHERE e.vec_id < {N_QUERY_VECS})
          QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY d, c_id)
                  <= {IVF_N_PROBE}),
        qsub AS (
          SELECT q_id, cell, m,
                 r[m * {PQ_SUBDIM} + 1 : (m + 1) * {PQ_SUBDIM}] AS sv
          FROM (SELECT p.q_id, p.cell,
                       list_transform(list_zip(e.v, c.c_vec), x -> x[1] - x[2]) AS r
                FROM probes p JOIN e ON e.vec_id = p.q_id
                     JOIN cent c ON p.cell = c.c_id)
               CROSS JOIN (SELECT unnest(range(0, {PQ_M})) AS m) t),
        dtab AS (
          SELECT q.q_id, q.cell, q.m, c.cb_id,
                 {sq.format(a="q.sv", b="c.cb_vec")} AS d2
          FROM qsub q JOIN cb c USING (m)),
        adc AS (
          SELECT d.q_id, k.vec_id,
                 ROUND(CAST(CAST(SUM(CAST(d.d2 AS DECIMAL(30,10))) AS VARCHAR)
                            AS DOUBLE), 6) AS adc_dist
          FROM codes k
          JOIN dtab d ON k.cell = d.cell AND k.m = d.m AND k.code = d.cb_id
          WHERE k.vec_id != d.q_id
          GROUP BY d.q_id, k.vec_id)
        SELECT q_id, vec_id, adc_dist,
               CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY adc_dist ASC, vec_id ASC) AS BIGINT) AS rank
        FROM adc
        QUALIFY rank <= {IVFPQ_TOPK}
        ORDER BY q_id, rank
        """


register(
    QuerySpec(
        "x197_ivfpq_residual",
        x197_ivfpq_residual,
        _x197_sql(),
        "IVF-PQ with residual encoding: per-cell ADC over probed inverted lists",
    )
)


# --- x215: filtered vector search (predicate inside the candidate scan) ------
FANN_TOPK = 5


def x215_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — ANN under a metadata predicate (here:
    corpus label must equal the query's label), the shape every serving
    stack hits when queries carry tenant/language/freshness filters.
    The predicate is applied INSIDE the candidate scan (pre-filtering
    the probed inverted lists), not to the final top-k: post-filtering
    an unfiltered ANN result returns fewer than k survivors whenever
    the filter is selective — the classic filtered-HNSW/IVF failure.

    The quantizer and list layout are x21's verbatim (first-K centroids,
    nearest-centroid lists, IVF_N_PROBE probes).  Output per query: the
    pre-filter candidate count, the filtered-ANN top-k hits vs the
    EXACT filtered top-k (brute force over the label slice), and
    recall@k — the built-in quality audit, x102's pattern under a
    predicate."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.col("label").cast("long").alias("label")
    )
    cent = emb.filter(F.col("vec_id") < ivf_nlist(spark, sf_dir)).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )

    def assign(df, n_keep):
        scored = df.crossJoin(F.broadcast(cent)).select(
            "vec_id",
            "c_id",
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            F.col("embedding"),
                            F.col("c_vec"),
                            lambda x, y: (x.cast("double") - y.cast("double"))
                            * (x.cast("double") - y.cast("double")),
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                ),
                6,
            ).alias("dist"),
        )
        w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("c_id"))
        return (
            scored.withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") <= n_keep)
            .select("vec_id", "c_id")
        )

    lists = two_level_lists(spark, sf_dir)  # corpus side: ~n^1.25
    corpus = emb.join(lists, "vec_id")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    probes = assign(
        emb.filter(F.col("vec_id") < N_QUERY_VECS), IVF_N_PROBE
    ).select(F.col("vec_id").alias("q_id"), F.col("c_id").alias("probe_c"))
    # candidate scan: probed lists AND the predicate, pre-filter
    cand = (
        corpus.join(F.broadcast(probes), corpus.list_c == probes.probe_c)
        .join(F.broadcast(queries), "q_id")
        .filter(
            (F.col("vec_id") != F.col("q_id"))
            & (F.col("label") == F.col("q_label"))
        )
    )
    cscored = cand.select(
        "q_id",
        "vec_id",
        cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    approx = (
        cscored.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= FANN_TOPK)
        .select("q_id", "vec_id")
    )
    n_cand = cscored.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_cand"))
    # exact filtered truth: brute force over the label slice
    exact_scored = (
        emb.join(F.broadcast(queries), emb.label == queries.q_label)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim"),
        )
    )
    exact = (
        exact_scored.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= FANN_TOPK)
        .select("q_id", "vec_id")
    )
    hits = (
        approx.join(exact, ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        queries.select("q_id")
        .join(n_cand, "q_id", "left")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce("hits", F.lit(0)).cast("double")
                / F.lit(float(FANN_TOPK)),
                6,
            ).alias("recall_at_k"),
        )
        .orderBy("q_id")
    )


def _x215_sql() -> str:
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 CAST(label AS BIGINT) AS label
          FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                 WHERE vec_id < {SQL_IVF_NLIST}),
        {SQL_TWO_LEVEL_LISTS},
        qdist AS (
          SELECT e.vec_id, c.c_id,
                 ROUND(sqrt(list_sum(list_transform(
                     list_zip(e.v, c.c_vec),
                     p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS dist
          FROM e CROSS JOIN cent c WHERE e.vec_id < {N_QUERY_VECS}),
        probes AS (
          SELECT vec_id AS q_id, c_id AS probe_c FROM qdist
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, c_id) <= {IVF_N_PROBE}),
        qs AS (SELECT vec_id AS q_id, v AS q_vec, label AS q_label FROM e
               WHERE vec_id < {N_QUERY_VECS}),
        cscored AS MATERIALIZED (
          SELECT p.q_id, e.vec_id,
                 ROUND(list_dot_product(q.q_vec, e.v)
                       / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                          * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
          FROM e
          JOIN lists l ON e.vec_id = l.vec_id
          JOIN probes p ON l.list_c = p.probe_c
          JOIN qs q ON p.q_id = q.q_id
          WHERE e.vec_id != p.q_id AND e.label = q.q_label),
        approx AS (
          SELECT q_id, vec_id FROM cscored
          QUALIFY row_number() OVER (PARTITION BY q_id
              ORDER BY cos_sim DESC, vec_id ASC) <= {FANN_TOPK}),
        ncand AS (SELECT q_id, COUNT(*) AS n_cand FROM cscored GROUP BY q_id),
        escored AS (
          SELECT q.q_id, e.vec_id,
                 ROUND(list_dot_product(q.q_vec, e.v)
                       / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                          * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
          FROM e JOIN qs q ON e.label = q.q_label
          WHERE e.vec_id != q.q_id),
        exact AS (
          SELECT q_id, vec_id FROM escored
          QUALIFY row_number() OVER (PARTITION BY q_id
              ORDER BY cos_sim DESC, vec_id ASC) <= {FANN_TOPK}),
        hits AS (
          SELECT a.q_id, COUNT(*) AS hits
          FROM approx a JOIN exact x
            ON a.q_id = x.q_id AND a.vec_id = x.vec_id
          GROUP BY a.q_id)
        SELECT q.q_id,
               CAST(COALESCE(n.n_cand, 0) AS BIGINT) AS n_cand,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
               ROUND(CAST(COALESCE(h.hits, 0) AS DOUBLE) / {FANN_TOPK},
                     6) AS recall_at_k
        FROM qs q
        LEFT JOIN ncand n ON q.q_id = n.q_id
        LEFT JOIN hits h ON q.q_id = h.q_id
        ORDER BY q.q_id
        """


register(
    QuerySpec(
        "x215_filtered_ann",
        x215_filtered_ann,
        _x215_sql(),
        "filtered vector search: predicate inside the IVF candidate scan + recall audit",
    )
)


# --- x216: binary quantization + exact rescore --------------------------------
BQ_CAND = 32  # hamming candidates kept per query before exact rescore
BQ_TOPK = 5


def x216_binary_quant_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized retrieval: each vector compresses to its sign
    bits (64 dims → two 32-bit halves packed into BIGINTs — 32× smaller
    than float32), candidates are the BQ_CAND nearest by Hamming
    distance (bit_count(xor) — a register-width scan that needs no
    index at all), and the final top-k is an exact cosine rescore of
    just those candidates.  This is the 1-bit quantization + rescoring
    ladder production vector stores ship (sign-bit BQ preserves cosine
    ordering approximately because E[hamming] is monotone in angle).

    Scale shape: the packed signature table is 16 bytes/vector; the
    query×corpus hamming scan is a broadcast of N_QUERY_VECS signatures
    over one corpus pass; only BQ_CAND rows per query carry vectors
    into the rescore."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )

    powers = F.array(*[F.lit(1 << k).cast("long") for k in range(32)])

    def half(lo: int):
        # bits lo..lo+31 of the sign signature, packed into a long
        # (LSB = first dim of the slice, matching the oracle's 1 << k)
        return F.aggregate(
            F.zip_with(
                F.slice(F.col("v"), lo + 1, 32),
                powers,
                lambda x, p: F.when(x > 0.0, p).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    sig = emb.select("vec_id", half(0).alias("h0"), half(32).alias("h1"))
    qsig = sig.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("h0").alias("q0"),
        F.col("h1").alias("q1"),
    )
    ham = (
        sig.crossJoin(F.broadcast(qsig))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                F.bit_count(F.col("h0").bitwiseXOR(F.col("q0")))
                + F.bit_count(F.col("h1").bitwiseXOR(F.col("q1")))
            ).cast("long").alias("ham"),
        )
    )
    wq = Window.partitionBy("q_id").orderBy(F.asc("ham"), F.asc("vec_id"))
    cand = (
        ham.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= BQ_CAND)
        .select("q_id", "vec_id", "ham")
    )
    qvec = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("q_vec")
    )
    rescored = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(qvec), "q_id")
        .select(
            "q_id",
            "vec_id",
            "ham",
            cosine(F.col("q_vec"), F.col("v")).alias("cos_sim"),
        )
    )
    wr = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= BQ_TOPK)
        .select(
            "q_id",
            "vec_id",
            "ham",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("q_id", "rank")
    )


def _x216_sql() -> str:
    def half(lo: int) -> str:
        return f"""list_sum(list_transform(
            list_zip(v[{lo + 1}:{lo + 32}], range(0, 32)),
            p -> CASE WHEN p[1] > 0.0
                 THEN (CAST(1 AS BIGINT) << CAST(p[2] AS INT))
                 ELSE 0 END))"""

    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sig AS MATERIALIZED (
          SELECT vec_id, CAST({half(0)} AS BIGINT) AS h0,
                 CAST({half(32)} AS BIGINT) AS h1
          FROM e),
        qsig AS (SELECT vec_id AS q_id, h0 AS q0, h1 AS q1 FROM sig
                 WHERE vec_id < {N_QUERY_VECS}),
        ham AS (
          SELECT q.q_id, s.vec_id,
                 CAST(bit_count(xor(s.h0, q.q0))
                      + bit_count(xor(s.h1, q.q1)) AS BIGINT) AS ham
          FROM sig s CROSS JOIN qsig q
          WHERE s.vec_id != q.q_id),
        cand AS (
          SELECT q_id, vec_id, ham FROM ham
          QUALIFY row_number() OVER (PARTITION BY q_id
              ORDER BY ham ASC, vec_id ASC) <= {BQ_CAND}),
        rescored AS (
          SELECT c.q_id, c.vec_id, c.ham,
                 ROUND(list_dot_product(q.v, e.v)
                       / (sqrt(list_dot_product(q.v, q.v))
                          * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
          FROM cand c
          JOIN e ON c.vec_id = e.vec_id
          JOIN e q ON c.q_id = q.vec_id)
        SELECT q_id, vec_id, ham, cos_sim,
               CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rank
        FROM rescored
        QUALIFY rank <= {BQ_TOPK}
        ORDER BY q_id, rank
        """


register(
    QuerySpec(
        "x216_binary_quant_rescore",
        x216_binary_quant_rescore,
        _x216_sql(),
        "1-bit binary quantization: hamming candidate scan + exact cosine rescore",
    )
)


# --- x217: two-level quantizer routing health ---------------------------------
def x217_two_level_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Health audit of the two-level coarse quantizer the whole IVF
    family now routes through (the "beyond-√n path" promised by x196's
    docstring, VERDICT r7 ask #6): per super-cell — how many of the
    nlist = max(16, ⌈√n⌉) fine cells were routed to it, how many corpus
    vectors landed in it, and the largest/smallest fine-cell population
    inside it.  This is the x80-class pre-ship check for the TWO-LEVEL
    layout: a super-cell hoarding most fine cells (or a fine cell
    hoarding most vectors) means the routing is skewed and the n^1.25
    assignment bound degrades toward n^1.5.

    Scale shapes: composes two_level_cent_sup (nlist×K0, bounded) and
    two_level_lists (the family's shared ~n^1.25 assignment); the
    rollups are key-shuffle aggs over narrow (id, id) rows.  Both
    broadcast levels stay bounded — asserted by tests/test_plans.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    k0 = ivf_k0(spark, sf_dir)
    routing = two_level_cent_sup(spark, sf_dir).select("s_id", "c_id")
    pops = (
        two_level_lists(spark, sf_dir)
        .groupBy("list_c")
        .agg(F.count(F.lit(1)).alias("pop"))
    )
    per_cell = routing.join(
        pops, routing.c_id == pops.list_c, "left"
    ).select("s_id", "c_id", F.coalesce("pop", F.lit(0)).alias("pop"))
    per_sup = per_cell.groupBy("s_id").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("pop").alias("n_vecs"),
        F.max("pop").alias("max_cell_pop"),
        F.min("pop").alias("min_cell_pop"),
    )
    return (
        emb.filter(F.col("vec_id") < k0)
        .select(F.col("vec_id").alias("s_id"))
        .join(per_sup, "s_id", "left")
        .select(
            F.col("s_id").cast("long").alias("s_id"),
            F.coalesce("n_cells", F.lit(0)).cast("long").alias("n_cells"),
            F.coalesce("n_vecs", F.lit(0)).cast("long").alias("n_vecs"),
            F.coalesce("max_cell_pop", F.lit(0)).cast("long").alias("max_cell_pop"),
            F.coalesce("min_cell_pop", F.lit(0)).cast("long").alias("min_cell_pop"),
        )
        .orderBy("s_id")
    )


def _x217_sql() -> str:
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                 WHERE vec_id < {SQL_IVF_NLIST}),
        {SQL_TWO_LEVEL_LISTS},
        pops AS (SELECT list_c, COUNT(*) AS pop FROM lists GROUP BY list_c),
        per_cell AS (
          SELECT cs.s_id, cs.c_id, COALESCE(p.pop, 0) AS pop
          FROM cent_sup cs LEFT JOIN pops p ON cs.c_id = p.list_c),
        per_sup AS (
          SELECT s_id, COUNT(*) AS n_cells, SUM(pop) AS n_vecs,
                 MAX(pop) AS max_cell_pop, MIN(pop) AS min_cell_pop
          FROM per_cell GROUP BY s_id)
        SELECT CAST(s.vec_id AS BIGINT) AS s_id,
               CAST(COALESCE(p.n_cells, 0) AS BIGINT) AS n_cells,
               CAST(COALESCE(p.n_vecs, 0) AS BIGINT) AS n_vecs,
               CAST(COALESCE(p.max_cell_pop, 0) AS BIGINT) AS max_cell_pop,
               CAST(COALESCE(p.min_cell_pop, 0) AS BIGINT) AS min_cell_pop
        FROM e s LEFT JOIN per_sup p ON s.vec_id = p.s_id
        WHERE s.vec_id < {SQL_IVF_K0}
        ORDER BY s_id
        """


register(
    QuerySpec(
        "x217_two_level_router",
        x217_two_level_router,
        _x217_sql(),
        "two-level quantizer routing health: per-super-cell fan-out and populations",
    )
)


# --- x218: filtered-ANN selectivity sweep --------------------------------------
# The x104 band-sweep pattern applied to x215: pre-filtering's value only
# shows when the predicate is selective, so measure recall@k and candidate
# volume at three selectivities — 'all' (no predicate, selectivity 1.0),
# 'half' (label parity match, ~0.5), 'tenth' (label equality, ~0.1 on the
# 10-label corpus).  One row per (selectivity, query).
# name -> predicate over the scored base's (label, q_label) columns.
# The SAME text is F.expr'd on the Spark side and f-strung into the
# oracle's CASE arms (and the sels CTE list is built from the keys) —
# one shared structure feeds both engines, so a retune cannot
# desynchronize the fan stage from the oracle (ADVICE r8; the
# shared-constant invariant, same pattern as x219's NPROBE_LEVELS).
SEL_PREDS: dict[str, str] = {
    "all": "TRUE",
    "half": "label % 2 = q_label % 2",
    "tenth": "label = q_label",
}
SEL_LEVELS = tuple(SEL_PREDS)


def x218_filtered_ann_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x215's pre-filtered candidate scan swept across predicate
    selectivities: per (sel, q_id) — surviving candidate count, hits
    against the EXACT filtered top-k, recall@k.  The sweep is the
    quality evidence for the pre-filtering design choice: at sel=1.0 it
    must match plain x21-style ANN; as the filter tightens, the
    candidate pool shrinks but recall holds because the predicate is
    applied INSIDE the probed lists, not to the final top-k.

    Scale shapes: the probed-candidate base and the exact-truth base
    are each built ONCE (bounded: probes·√n and n×N_QUERY_VECS rows)
    and fanned across the three selectivity levels as a filter on
    narrow columns — no per-level rescan of the corpus."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.col("label").cast("long").alias("label")
    )
    cent = emb.filter(F.col("vec_id") < ivf_nlist(spark, sf_dir)).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    qdist = queries.crossJoin(F.broadcast(cent)).select(
        "q_id",
        "c_id",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col("q_vec"),
                        F.col("c_vec"),
                        lambda x, y: (x.cast("double") - y.cast("double"))
                        * (x.cast("double") - y.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
            6,
        ).alias("dist"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("c_id"))
    probes = (
        qdist.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= IVF_N_PROBE)
        .select("q_id", F.col("c_id").alias("probe_c"))
    )
    lists = two_level_lists(spark, sf_dir)
    corpus = emb.join(lists, "vec_id")
    cbase = (
        corpus.join(F.broadcast(probes), corpus.list_c == probes.probe_c)
        .join(F.broadcast(queries), "q_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            "q_label",
            cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim"),
        )
        # narrow scalars only (ids, labels, one rounded double): pay the
        # probe scan once, fan the three selectivity filters over it
        .localCheckpoint()
    )
    ebase = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            "q_label",
            cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim"),
        )
        .localCheckpoint()  # same: one exact-truth pass, three filters
    )

    def _sel_pred(sel: str):
        return F.expr(SEL_PREDS[sel])

    def _fan(base: DataFrame) -> DataFrame:
        parts = [
            base.filter(_sel_pred(sel)).select(
                F.lit(sel).alias("sel"), "q_id", "vec_id", "cos_sim"
            )
            for sel in SEL_LEVELS
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    wsq = Window.partitionBy("sel", "q_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    cscored = _fan(cbase)
    approx = (
        cscored.withColumn("rk", F.row_number().over(wsq))
        .filter(F.col("rk") <= FANN_TOPK)
        .select("sel", "q_id", "vec_id")
    )
    exact = (
        _fan(ebase)
        .withColumn("rk", F.row_number().over(wsq))
        .filter(F.col("rk") <= FANN_TOPK)
        .select("sel", "q_id", "vec_id")
    )
    n_cand = cscored.groupBy("sel", "q_id").agg(
        F.count(F.lit(1)).alias("n_cand")
    )
    hits = (
        approx.join(exact, ["sel", "q_id", "vec_id"])
        .groupBy("sel", "q_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    from .helpers import inline_rows

    sels = inline_rows(spark, [(s,) for s in SEL_LEVELS], "sel string")
    return (
        queries.select("q_id")
        .crossJoin(sels)
        .join(n_cand, ["sel", "q_id"], "left")
        .join(hits, ["sel", "q_id"], "left")
        .select(
            "sel",
            "q_id",
            F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce("hits", F.lit(0)).cast("double")
                / F.lit(float(FANN_TOPK)),
                6,
            ).alias("recall_at_k"),
        )
        .orderBy("sel", "q_id")
    )


def _x218_sql() -> str:
    # CASE arms and the sels list both derive from SEL_PREDS — column
    # refs resolve to the base alias ``b`` (the only relation carrying
    # label/q_label in the fan CTEs).
    sel_case = (
        "CASE s.sel "
        + " ".join(f"WHEN '{s}' THEN {p}" for s, p in SEL_PREDS.items())
        + " END"
    )
    sels_list = ", ".join(f"'{s}'" for s in SEL_LEVELS)
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 CAST(label AS BIGINT) AS label
          FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                 WHERE vec_id < {SQL_IVF_NLIST}),
        {SQL_TWO_LEVEL_LISTS},
        qdist AS (
          SELECT e.vec_id, c.c_id,
                 ROUND(sqrt(list_sum(list_transform(
                     list_zip(e.v, c.c_vec),
                     p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS dist
          FROM e CROSS JOIN cent c WHERE e.vec_id < {N_QUERY_VECS}),
        probes AS (
          SELECT vec_id AS q_id, c_id AS probe_c FROM qdist
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, c_id) <= {IVF_N_PROBE}),
        qs AS (SELECT vec_id AS q_id, v AS q_vec, label AS q_label FROM e
               WHERE vec_id < {N_QUERY_VECS}),
        sels AS (SELECT unnest([{sels_list}]) AS sel),
        cbase AS MATERIALIZED (
          SELECT p.q_id, e.vec_id, e.label, q.q_label,
                 ROUND(list_dot_product(q.q_vec, e.v)
                       / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                          * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
          FROM e
          JOIN lists l ON e.vec_id = l.vec_id
          JOIN probes p ON l.list_c = p.probe_c
          JOIN qs q ON p.q_id = q.q_id
          WHERE e.vec_id != p.q_id),
        ebase AS MATERIALIZED (
          SELECT q.q_id, e.vec_id, e.label, q.q_label,
                 ROUND(list_dot_product(q.q_vec, e.v)
                       / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                          * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
          FROM e CROSS JOIN qs q
          WHERE e.vec_id != q.q_id),
        cscored AS MATERIALIZED (
          SELECT s.sel, b.q_id, b.vec_id, b.cos_sim
          FROM cbase b CROSS JOIN sels s WHERE {sel_case}),
        escored AS (
          SELECT s.sel, b.q_id, b.vec_id, b.cos_sim
          FROM ebase b CROSS JOIN sels s WHERE {sel_case}),
        approx AS (
          SELECT sel, q_id, vec_id FROM cscored
          QUALIFY row_number() OVER (PARTITION BY sel, q_id
              ORDER BY cos_sim DESC, vec_id ASC) <= {FANN_TOPK}),
        exact AS (
          SELECT sel, q_id, vec_id FROM escored
          QUALIFY row_number() OVER (PARTITION BY sel, q_id
              ORDER BY cos_sim DESC, vec_id ASC) <= {FANN_TOPK}),
        ncand AS (SELECT sel, q_id, COUNT(*) AS n_cand
                  FROM cscored GROUP BY sel, q_id),
        hits AS (
          SELECT a.sel, a.q_id, COUNT(*) AS hits
          FROM approx a JOIN exact x
            ON a.sel = x.sel AND a.q_id = x.q_id AND a.vec_id = x.vec_id
          GROUP BY a.sel, a.q_id)
        SELECT s.sel, q.q_id,
               CAST(COALESCE(n.n_cand, 0) AS BIGINT) AS n_cand,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
               ROUND(CAST(COALESCE(h.hits, 0) AS DOUBLE) / {FANN_TOPK},
                     6) AS recall_at_k
        FROM qs q CROSS JOIN sels s
        LEFT JOIN ncand n ON s.sel = n.sel AND q.q_id = n.q_id
        LEFT JOIN hits h ON s.sel = h.sel AND q.q_id = h.q_id
        ORDER BY s.sel, q.q_id
        """


register(
    QuerySpec(
        "x218_filtered_ann_sweep",
        x218_filtered_ann_sweep,
        _x218_sql(),
        "filtered-ANN recall/candidate sweep across three predicate selectivities",
    )
)


# --- x219: nprobe sweep — the IVF quality/cost tuning curve --------------------
NPROBE_LEVELS = (1, 2, 4)


def x219_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 and candidate volume at nprobe ∈ {1, 2, 4} — the curve
    an index operator actually tunes before shipping an IVF layout
    (FAISS's nprobe knob): more probed lists buy recall linearly in
    scan cost.  A corpus vector lives in exactly ONE list, so each
    (query, vector) candidate carries the rank of its list in the
    query's probe order ("via_crank"), and the nprobe=p candidate set
    is just via_crank ≤ p — the three levels are filters over ONE
    probed base, never three corpus rescans.  Candidate sets are nested
    by construction, and recall is provably non-decreasing in nprobe: a
    new candidate can displace a true top-k hit only by out-ranking it
    on cosine, which would make the new candidate a true top-k member
    itself.  Invariant-tested; exact truth is x11's brute-force top-5
    (bounded: N_QUERY_VECS × corpus, query side broadcast)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = emb.filter(F.col("vec_id") < ivf_nlist(spark, sf_dir)).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    max_p = max(NPROBE_LEVELS)
    qdist = queries.crossJoin(F.broadcast(cent)).select(
        "q_id",
        "c_id",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col("q_vec"),
                        F.col("c_vec"),
                        lambda x, y: (x.cast("double") - y.cast("double"))
                        * (x.cast("double") - y.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
            6,
        ).alias("dist"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("c_id"))
    probes = (
        qdist.withColumn("via_crank", F.row_number().over(wq))
        .filter(F.col("via_crank") <= max_p)
        .select("q_id", F.col("c_id").alias("probe_c"), "via_crank")
    )
    corpus = emb.join(two_level_lists(spark, sf_dir), "vec_id")
    cbase = (
        corpus.join(F.broadcast(probes), corpus.list_c == probes.probe_c)
        .join(F.broadcast(queries), "q_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "via_crank",
            cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim"),
        )
        .localCheckpoint()  # narrow scalars; three level-filters share it
    )
    exact = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.desc("cos_sim"), F.asc("vec_id")
                )
            ),
        )
        .filter(F.col("rk") <= FANN_TOPK)
        .select("q_id", "vec_id")
    )
    from .helpers import inline_rows

    levels = inline_rows(
        spark, [(p,) for p in NPROBE_LEVELS], "nprobe long"
    )
    fanned = cbase.crossJoin(F.broadcast(levels)).filter(
        F.col("via_crank") <= F.col("nprobe")
    )
    wnq = Window.partitionBy("nprobe", "q_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    approx = (
        fanned.withColumn("rk", F.row_number().over(wnq))
        .filter(F.col("rk") <= FANN_TOPK)
        .select("nprobe", "q_id", "vec_id")
    )
    n_cand = fanned.groupBy("nprobe", "q_id").agg(
        F.count(F.lit(1)).alias("n_cand")
    )
    hits = (
        approx.join(exact, ["q_id", "vec_id"])
        .groupBy("nprobe", "q_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        queries.select("q_id")
        .crossJoin(levels)
        .join(n_cand, ["nprobe", "q_id"], "left")
        .join(hits, ["nprobe", "q_id"], "left")
        .select(
            "nprobe",
            "q_id",
            F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce("hits", F.lit(0)).cast("double")
                / F.lit(float(FANN_TOPK)),
                6,
            ).alias("recall_at_k"),
        )
        .orderBy("nprobe", "q_id")
    )


def _x219_sql() -> str:
    max_p = max(NPROBE_LEVELS)
    levels = ", ".join(f"({p})" for p in NPROBE_LEVELS)
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                 WHERE vec_id < {SQL_IVF_NLIST}),
        {SQL_TWO_LEVEL_LISTS},
        qdist AS (
          SELECT e.vec_id, c.c_id,
                 ROUND(sqrt(list_sum(list_transform(
                     list_zip(e.v, c.c_vec),
                     p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS dist
          FROM e CROSS JOIN cent c WHERE e.vec_id < {N_QUERY_VECS}),
        probes AS (
          SELECT vec_id AS q_id, c_id AS probe_c,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist, c_id) AS via_crank
          FROM qdist
          QUALIFY via_crank <= {max_p}),
        qs AS (SELECT vec_id AS q_id, v AS q_vec FROM e
               WHERE vec_id < {N_QUERY_VECS}),
        cbase AS MATERIALIZED (
          SELECT p.q_id, e.vec_id, p.via_crank,
                 ROUND(list_dot_product(q.q_vec, e.v)
                       / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                          * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
          FROM e
          JOIN lists l ON e.vec_id = l.vec_id
          JOIN probes p ON l.list_c = p.probe_c
          JOIN qs q ON p.q_id = q.q_id
          WHERE e.vec_id != p.q_id),
        exact AS (
          SELECT q_id, vec_id FROM (
            SELECT q.q_id, e.vec_id,
                   ROUND(list_dot_product(q.q_vec, e.v)
                         / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                            * sqrt(list_dot_product(e.v, e.v)))
                         , 6) AS cos_sim
            FROM e CROSS JOIN qs q WHERE e.vec_id != q.q_id)
          QUALIFY row_number() OVER (PARTITION BY q_id
              ORDER BY cos_sim DESC, vec_id ASC) <= {FANN_TOPK}),
        levels AS (SELECT * FROM (VALUES {levels}) AS t(nprobe)),
        fanned AS MATERIALIZED (
          SELECT lv.nprobe, b.q_id, b.vec_id, b.cos_sim
          FROM cbase b CROSS JOIN levels lv
          WHERE b.via_crank <= lv.nprobe),
        approx AS (
          SELECT nprobe, q_id, vec_id FROM fanned
          QUALIFY row_number() OVER (PARTITION BY nprobe, q_id
              ORDER BY cos_sim DESC, vec_id ASC) <= {FANN_TOPK}),
        ncand AS (SELECT nprobe, q_id, COUNT(*) AS n_cand
                  FROM fanned GROUP BY nprobe, q_id),
        hits AS (
          SELECT a.nprobe, a.q_id, COUNT(*) AS hits
          FROM approx a JOIN exact x
            ON a.q_id = x.q_id AND a.vec_id = x.vec_id
          GROUP BY a.nprobe, a.q_id)
        SELECT CAST(lv.nprobe AS BIGINT) AS nprobe,
               q.q_id AS q_id,
               CAST(COALESCE(n.n_cand, 0) AS BIGINT) AS n_cand,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
               ROUND(CAST(COALESCE(h.hits, 0) AS DOUBLE) / {FANN_TOPK},
                     6) AS recall_at_k
        FROM qs q CROSS JOIN levels lv
        LEFT JOIN ncand n ON lv.nprobe = n.nprobe AND q.q_id = n.q_id
        LEFT JOIN hits h ON lv.nprobe = h.nprobe AND q.q_id = h.q_id
        ORDER BY nprobe, q.q_id
        """


register(
    QuerySpec(
        "x219_nprobe_sweep",
        x219_nprobe_sweep,
        _x219_sql(),
        "IVF nprobe tuning curve: recall@5 and candidate volume at 1/2/4 probes",
    )
)


# --- x220: incremental IVF maintenance (index CDC) -----------------------------
# A production ANN index is never rebuilt per batch: new vectors are
# assigned to the FROZEN quantizer's cells, and cells that overflow are
# split in place (FAISS add + rebalance).  Batch membership is
# deterministic (vec_id % 10 == 9, ~10% adds); the split threshold is
# data-derived as 2× the average cell population so the op exercises at
# every SF, shared with the oracle via _SPLIT_T_SQL.
ADD_MOD = 10  # vec_id % ADD_MOD == ADD_MOD-1 → the "new batch"
_SPLIT_T_SQL = (
    "(SELECT 2 * CAST(CEIL(COUNT(*) * 1.0 / "
    f"{SQL_IVF_NLIST}) AS BIGINT) FROM embeddings)"
)


def x220_ivf_incremental_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Index CDC: assign the new batch to the frozen two-level
    quantizer's cells, then split any cell whose merged population
    exceeds 2× the average — members re-route to the cell's two
    lowest-id vectors as sub-centroids (deterministic, nearest-of-2
    with rounded-distance/id tie-break).  Output: one row per
    (cell, sub) with base/added/total populations — the maintenance
    ledger an index build job would write.

    Scale shapes: ONE shared assignment pass (~n^1.25) covers base and
    batch (the quantizer is frozen — that is the point of incremental
    maintenance); populations are a key-shuffle agg; the sub-centroid
    frame is ≤ 2·nlist rows and broadcasts; the re-route join fans each
    hot-cell member across exactly 2 candidates."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    placed = (
        emb.select(
            "vec_id",
            (F.col("vec_id") % ADD_MOD == ADD_MOD - 1).alias("is_add"),
        )
        .join(two_level_lists(spark, sf_dir), "vec_id")
        .select("vec_id", "is_add", F.col("list_c").alias("cell"))
        # narrow scalars; pop/hot/members/rerouted all consume it — pay
        # the ~n^1.25 assignment once (the x214 materialization lesson)
        .localCheckpoint()
    )
    return maintenance_ledger(spark, sf_dir, placed)


def maintenance_ledger(
    spark: SparkSession, sf_dir: str, placed: DataFrame
) -> DataFrame:
    """x220's ledger stage, factored so the streaming twin (x223) can
    drain its per-micro-batch assignments into the SAME split logic and
    reuse x220's registered oracle verbatim.  placed: (vec_id, is_add,
    cell), already materialized by the caller."""
    import math

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = load_table(spark, sf_dir, "embeddings").count()
    nlist = ivf_nlist(spark, sf_dir)
    split_t = 2 * math.ceil(n / nlist)
    pop = placed.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("is_add").cast("long")).alias("n_added"),
    )
    hot = pop.filter(F.col("n_total") > split_t).select("cell")
    cold = (
        pop.join(hot, "cell", "left_anti")
        .select(
            "cell",
            F.lit(0).alias("sub"),
            (F.col("n_total") - F.col("n_added")).alias("n_base"),
            "n_added",
            "n_total",
        )
    )
    members = placed.join(hot, "cell")
    wm = Window.partitionBy("cell").orderBy(F.asc("vec_id"))
    subc = (
        members.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= 2)
        .join(emb, "vec_id")
        .select(
            "cell",
            (F.col("rn") - 1).alias("sc_sub"),
            F.col("vec_id").alias("sc_id"),
            F.col("embedding").alias("sc_vec"),
        )
    )
    wr = Window.partitionBy("vec_id").orderBy(
        F.asc("d"), F.asc("sc_id")
    )
    rerouted = (
        members.join(emb, "vec_id")
        .join(F.broadcast(subc), "cell")
        .select(
            "cell",
            "vec_id",
            "is_add",
            "sc_sub",
            "sc_id",
            _sq_dist(F.col("embedding"), F.col("sc_vec")).alias("d"),
        )
        .withColumn("pick", F.row_number().over(wr))
        .filter(F.col("pick") == 1)
    )
    split = rerouted.groupBy("cell", "sc_sub").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("is_add").cast("long")).alias("n_added"),
    ).select(
        "cell",
        (F.col("sc_sub") + 1).alias("sub"),  # 1/2 = split halves, 0 = unsplit
        (F.col("n_total") - F.col("n_added")).alias("n_base"),
        "n_added",
        "n_total",
    )
    return (
        cold.unionAll(split)
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("sub").cast("long").alias("sub"),
            F.col("n_base").cast("long").alias("n_base"),
            F.col("n_added").cast("long").alias("n_added"),
            F.col("n_total").cast("long").alias("n_total"),
        )
        .orderBy("cell", "sub")
    )


def _x220_sql() -> str:
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                 WHERE vec_id < {SQL_IVF_NLIST}),
        {SQL_TWO_LEVEL_LISTS},
        placed AS MATERIALIZED (
          SELECT l.vec_id, l.list_c AS cell,
                 (l.vec_id % {ADD_MOD} = {ADD_MOD - 1}) AS is_add
          FROM lists l),
        pop AS (
          SELECT cell, COUNT(*) AS n_total,
                 SUM(CASE WHEN is_add THEN 1 ELSE 0 END) AS n_added
          FROM placed GROUP BY cell),
        hot AS (SELECT cell FROM pop WHERE n_total > {_SPLIT_T_SQL}),
        cold AS (
          SELECT p.cell, 0 AS sub, p.n_total - p.n_added AS n_base,
                 p.n_added, p.n_total
          FROM pop p ANTI JOIN hot h ON p.cell = h.cell),
        members AS (SELECT p.* FROM placed p JOIN hot USING (cell)),
        subc AS (
          SELECT m.cell, m.rn - 1 AS sc_sub, m.vec_id AS sc_id, e.v AS sc_vec
          FROM (SELECT cell, vec_id,
                       row_number() OVER (PARTITION BY cell
                                          ORDER BY vec_id) AS rn
                FROM members) m
          JOIN e ON m.vec_id = e.vec_id
          WHERE m.rn <= 2),
        rerouted AS (
          SELECT cell, vec_id, is_add, sc_sub FROM (
            SELECT m.cell, m.vec_id, m.is_add, s.sc_sub, s.sc_id,
                   ROUND(list_sum(list_transform(list_zip(e.v, s.sc_vec),
                         p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS d
            FROM members m
            JOIN e ON m.vec_id = e.vec_id
            JOIN subc s ON m.cell = s.cell)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d, sc_id) = 1),
        split AS (
          SELECT cell, sc_sub + 1 AS sub,
                 COUNT(*) - SUM(CASE WHEN is_add THEN 1 ELSE 0 END) AS n_base,
                 SUM(CASE WHEN is_add THEN 1 ELSE 0 END) AS n_added,
                 COUNT(*) AS n_total
          FROM rerouted GROUP BY cell, sc_sub)
        SELECT CAST(cell AS BIGINT) AS cell, CAST(sub AS BIGINT) AS sub,
               CAST(n_base AS BIGINT) AS n_base,
               CAST(n_added AS BIGINT) AS n_added,
               CAST(n_total AS BIGINT) AS n_total
        FROM (SELECT * FROM cold UNION ALL SELECT * FROM split)
        ORDER BY cell, sub
        """


register(
    QuerySpec(
        "x220_ivf_incremental_maintenance",
        x220_ivf_incremental_maintenance,
        _x220_sql(),
        "index CDC: frozen-quantizer batch adds + deterministic overflow cell splits",
    )
)


# --- x224: tombstone-aware index compaction planning ----------------------------
# Deletes in a vector store are tombstones, not rewrites: search filters
# them out (exactly x215's predicate-inside-the-scan shape) and a
# compaction job rewrites only the inverted lists whose dead fraction
# crossed a threshold.  This is the planning ledger that job consumes —
# the delete-side completion of the build (x21/x121) → add/split (x220)
# → stream (x223) index lifecycle.
TOMB_MOD = 7       # vec_id % TOMB_MOD == 2 → tombstoned (~14.3%)
TOMB_PCT = 15      # compact when dead fraction exceeds 15% (integer %)


def tombstone_rollup(placed: DataFrame) -> DataFrame:
    """x224's ledger tail over narrow (cell, dead) rows — factored so
    the streaming-delete twin (x234) feeds its drained micro-batch
    tombstone partials through the IDENTICAL arithmetic (the x223
    anti-drift pattern on the delete side)."""
    return (
        placed.groupBy("cell")
        .agg(
            F.sum((~F.col("dead")).cast("long")).alias("n_live"),
            F.sum(F.col("dead").cast("long")).alias("n_dead"),
        )
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_live",
            "n_dead",
            (
                F.col("n_dead") * 100
                > (F.col("n_live") + F.col("n_dead")) * TOMB_PCT
            )
            .cast("long")
            .alias("needs_compact"),
            F.when(
                F.col("n_dead") * 100
                > (F.col("n_live") + F.col("n_dead")) * TOMB_PCT,
                F.col("n_dead"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("reclaimed"),
        )
        .orderBy("cell")
    )


def x224_tombstone_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per inverted list: live/dead populations, the compaction decision
    (dead% > TOMB_PCT, pure integer arithmetic so the oracle is exact),
    and the rows a compaction rewrite would reclaim.  Scale shapes: the
    ~n^1.25 two-level assignment feeds ONE key-shuffle agg of narrow
    (cell, flag) rows; the decision is row-local on the ≤nlist-row
    rollup."""
    placed = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            (F.col("vec_id") % TOMB_MOD == 2).alias("dead"),
        )
        .join(two_level_lists(spark, sf_dir), "vec_id")
        .select(F.col("list_c").alias("cell"), "dead")
    )
    return tombstone_rollup(placed)


def _x224_sql() -> str:
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                 WHERE vec_id < {SQL_IVF_NLIST}),
        {SQL_TWO_LEVEL_LISTS},
        placed AS (
          SELECT l.list_c AS cell,
                 (l.vec_id % {TOMB_MOD} = 2) AS dead
          FROM lists l),
        roll AS (
          SELECT cell,
                 SUM(CASE WHEN dead THEN 0 ELSE 1 END) AS n_live,
                 SUM(CASE WHEN dead THEN 1 ELSE 0 END) AS n_dead
          FROM placed GROUP BY cell)
        SELECT CAST(cell AS BIGINT) AS cell,
               CAST(n_live AS BIGINT) AS n_live,
               CAST(n_dead AS BIGINT) AS n_dead,
               CAST(CASE WHEN n_dead * 100 > (n_live + n_dead) * {TOMB_PCT}
                    THEN 1 ELSE 0 END AS BIGINT) AS needs_compact,
               CAST(CASE WHEN n_dead * 100 > (n_live + n_dead) * {TOMB_PCT}
                    THEN n_dead ELSE 0 END AS BIGINT) AS reclaimed
        FROM roll
        ORDER BY cell
        """


register(
    QuerySpec(
        "x224_tombstone_compaction",
        x224_tombstone_compaction,
        _x224_sql(),
        "tombstone ledger: per-list live/dead counts and the compaction decision",
    )
)


# --- x227: compaction EXECUTION — rewrite the lists, gate the results ----------
# x224 emits the compaction decision; this operator APPLIES it (VERDICT
# r8 ask #4 — "execute a compaction, don't just plan it"): the inverted
# lists whose dead fraction crossed TOMB_PCT are physically rewritten
# with their tombstoned rows removed (hive layout partitioned by cell,
# x121's materialization pattern), cold lists keep their tombstones
# (filtered at query time until the next compaction — how FAISS/Lucene
# segment compaction actually staggers work), and a probed search runs
# against the COMPACTED index.  The oracle is the UNcompacted
# tombstone-filtered search (x223's anti-drift shape on the delete
# side): a hash match proves the rewrite preserved every live row and
# dropped only dead ones — the invariant a production compactor must
# hold.


def _tomb_placed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, dead, cell) — every vector with its tombstone
    flag and inverted-list id; the deterministic source frame both
    compaction phases derive from."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.join(two_level_lists(spark, sf_dir), "vec_id").select(
        "vec_id",
        "embedding",
        (F.col("vec_id") % TOMB_MOD == 2).alias("dead"),
        F.col("list_c").alias("cell"),
    )


def _tomb_write_base(spark: SparkSession, sf_dir: str, dest: str) -> None:
    """Phase 1 — the UNcompacted layout: every cell partition written
    with its tombstones kept (the state an index is in when the
    compactor wakes up)."""
    import os

    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return
    _tomb_placed(spark, sf_dir).repartition("cell").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(dest)


def _tomb_compact_hot(spark: SparkSession, sf_dir: str, dest: str) -> None:
    """Phase 2 — the INCREMENTAL compaction (VERDICT r9 ask #2): only
    hot cells (dead% > TOMB_PCT, x224's integer arithmetic) have their
    partitions rewritten live-only, via dynamic partition overwrite —
    the write carries rows for hot cells ONLY, so Spark replaces exactly
    those partition directories and cold cells' files stay physically
    byte-untouched.  That is the 100 TB shape: compaction I/O is
    proportional to the hot set, not the index.  Rewrite rows are
    re-derived from the source frame (not read back from ``dest``) so
    the overwrite never reads the path it replaces.  A hot cell whose
    rows are ALL dead produces no incoming rows — its stale partition
    directory is removed explicitly (bounded: ≤nlist driver-side ops)."""
    import os
    import shutil

    marker = os.path.join(dest, "_COMPACTED")
    if os.path.exists(marker):
        return
    placed = _tomb_placed(spark, sf_dir)
    roll = (
        placed.groupBy("cell")
        .agg(
            F.sum(F.col("dead").cast("long")).alias("n_dead"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .filter(F.col("n_dead") * 100 > F.col("n_total") * TOMB_PCT)
        .select("cell", "n_dead", "n_total")
        .collect()  # ≤nlist rows: the bounded compaction work-list
    )
    live_hot_cells = [r.cell for r in roll if r.n_dead < r.n_total]
    for r in roll:
        if r.n_dead == r.n_total:  # fully-dead list: drop its directory
            shutil.rmtree(os.path.join(dest, f"cell={r.cell}"), ignore_errors=True)
    if live_hot_cells:
        live_hot = placed.filter(
            F.col("cell").isin(live_hot_cells) & ~F.col("dead")
        )
        (
            live_hot.repartition("cell")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell")
            .parquet(dest)
        )
    with open(marker, "w"):
        pass


def tomb_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per source state) the post-compaction index layout:
    (vec_id, embedding, dead, cell=partition).  Hot cells (dead% >
    TOMB_PCT) are rewritten live-only by an INCREMENTAL second phase
    that touches only their partition directories; cold cells keep
    their tombstones in the phase-1 files, physically untouched
    (asserted byte-identical by tests/test_round10_invariants.py).
    The key embeds nlist, the tombstone parameters and a token over
    every routing + tombstone constant, so a layout built under
    different rules is never mistaken for this one."""

    def build(d: str) -> None:
        _tomb_write_base(spark, sf_dir, d)
        _tomb_compact_hot(spark, sf_dir, d)

    tok = store_token(
        "two-level-v1", IVF_N_CENTROIDS, IVF_K0_MIN, TOMB_MOD, TOMB_PCT
    )
    key = f"_nl{ivf_nlist(spark, sf_dir)}_m{TOMB_MOD}_p{TOMB_PCT}_r{tok}"
    return build_once(sf_dir, "tomb_index", key, build)


def x227_compaction_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-filtered IVF top-k over the PHYSICALLY COMPACTED index.
    Scale shapes: the compaction is INCREMENTAL — a ≤nlist-row decision
    roll-up picks the hot cells, and a dynamic partition overwrite
    rewrites ONLY their partition directories (cold cells' files stay
    byte-identical — the 100 TB property: compaction I/O ∝ hot set, not
    index size); the search is x121's shape — bounded probe broadcast
    against the cell-partitioned scan, residual `dead` filter pushed to
    the parquet scan — so query cost is probes·~√n rows regardless of
    compaction state."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = emb.filter(F.col("vec_id") < ivf_nlist(spark, sf_dir)).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    qdist = queries.crossJoin(F.broadcast(cent)).select(
        "q_id",
        "q_vec",
        "c_id",
        _sq_dist(F.col("q_vec"), F.col("c_vec")).alias("dist"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("c_id"))
    probes = (
        qdist.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= IVF_N_PROBE)
        .select("q_id", "q_vec", F.col("c_id").alias("probe_c"))
    )
    index = spark.read.parquet(tomb_index_path(spark, sf_dir)).filter(
        ~F.col("dead")  # cold cells' tombstones, pushed to the scan
    )
    cand = index.join(
        F.broadcast(probes), index.cell == probes.probe_c
    ).filter(F.col("vec_id") != F.col("q_id"))
    scored = cand.select(
        "q_id",
        "vec_id",
        cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= FANN_TOPK)
        .select(
            "q_id",
            "vec_id",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("q_id", "rank")
    )


def _x227_sql() -> str:
    # The UNcompacted tombstone-filtered search — no compaction anywhere
    # in the oracle.  The gate's hash match IS the compactor's proof.
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                 WHERE vec_id < {SQL_IVF_NLIST}),
        {SQL_TWO_LEVEL_LISTS},
        live AS (SELECT vec_id, list_c FROM lists
                 WHERE vec_id % {TOMB_MOD} != 2),
        qdist AS (
          SELECT e.vec_id, c.c_id,
                 ROUND(list_sum(list_transform(
                     list_zip(e.v, c.c_vec),
                     p -> (p[1] - p[2]) * (p[1] - p[2]))), 6) AS dist
          FROM e CROSS JOIN cent c WHERE e.vec_id < {N_QUERY_VECS}),
        probes AS (
          SELECT vec_id AS q_id, c_id AS probe_c FROM qdist
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, c_id) <= {IVF_N_PROBE}),
        qs AS (SELECT vec_id AS q_id, v AS q_vec FROM e
               WHERE vec_id < {N_QUERY_VECS}),
        scored AS (
          SELECT p.q_id, e.vec_id,
                 ROUND(list_dot_product(q.q_vec, e.v)
                       / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                          * sqrt(list_dot_product(e.v, e.v))), 6) AS cos_sim
          FROM e
          JOIN live l ON e.vec_id = l.vec_id
          JOIN probes p ON l.list_c = p.probe_c
          JOIN qs q ON p.q_id = q.q_id
          WHERE e.vec_id != p.q_id)
        SELECT q_id, vec_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rank
        FROM scored
        QUALIFY rank <= {FANN_TOPK}
        ORDER BY q_id, rank
        """


register(
    QuerySpec(
        "x227_compaction_execute",
        x227_compaction_execute,
        _x227_sql(),
        "compaction executed: probed search over the rewritten lists == uncompacted answer",
    )
)


# --- x228/x229: Lloyd-refined coarse quantizer (optional, measured) -----------
# The family default quantizer is deterministic (centroids = first nlist
# corpus vectors) — oracle-able and balanced on uniform fixtures, but on
# REAL embedding corpora (clustered, skewed — the shape
# tests/clustered_fixture.py builds) first-n-vectors centroids track the
# data distribution badly: populous blobs hoard vectors per cell and the
# n^1.25 routing bound degrades toward n^1.5 (VERDICT r8 ask #1).  The
# standard fix is k-means refinement of the coarse quantizer (FAISS
# trains IVF coarse centroids with Lloyd iterations on a bounded sample;
# Jégou et al. 2011) — composed here from x49's existing loop: a few
# rounds over a ~LLOYD_SAMPLE_PER_CELL·nlist deterministic sample
# (linear total work: sample×nlist = c·n per round), decimal-exact
# means, so the refined centroids are bit-identical in the SQL twin and
# the whole comparison stays oracle-able.  The deterministic quantizer
# REMAINS the family default; x228/x229 register the refined variant
# and its balance/recall delta as gate queries.
LLOYD_ROUNDS = 2
LLOYD_SAMPLE_PER_CELL = 32  # FAISS-ish train-points-per-centroid budget

# Deterministic sample: every SAMP_MOD-th vec_id, SAMP_MOD = max(1,
# n // (32·nlist)) — both engines derive it from the same COUNT(*)
# (the shared-constant invariant).  Integer division: `//` in DuckDB
# truncates, Python // floors — equal on the non-negative operands here.
SQL_SAMP_MOD = (
    "GREATEST(1, (SELECT COUNT(*) FROM embeddings) // "
    f"({LLOYD_SAMPLE_PER_CELL} * {SQL_IVF_NLIST}))"
)


def _samp_mod(spark: SparkSession, sf_dir: str) -> int:
    n = load_table(spark, sf_dir, "embeddings").count()
    return max(1, n // (LLOYD_SAMPLE_PER_CELL * ivf_nlist(spark, sf_dir)))


def lloyd_refine(samp: DataFrame, cent: DataFrame, rounds: int) -> DataFrame:
    """x49's Lloyd update applied to the coarse-quantizer frame:
    ``rounds`` iterations of assign-to-nearest + decimal-exact
    per-(cluster, dim) mean over the SAMPLE ``samp(vec_id, v)``,
    starting from ``cent(c_id, c_vec)``.  Empty clusters keep their
    previous centroid (left-join coalesce).  Per round: sample ×
    broadcast(nlist) scoring (~32·n flops total — linear) + an
    (n_samp·d)-row map-side-combined mean."""
    for _ in range(rounds):
        scored = samp.crossJoin(F.broadcast(cent)).select(
            "vec_id", "v", "c_id", _sq_dist(F.col("v"), F.col("c_vec")).alias("d")
        )
        w = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("c_id"))
        assign = (
            scored.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select("vec_id", "v", F.col("c_id").alias("cluster"))
        )
        dims = assign.select("cluster", F.posexplode("v").alias("dim", "val"))
        means = dims.groupBy("cluster", "dim").agg(
            (
                F.sum(F.col("val").cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        packed = means.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s.m,
            ).alias("new_vec")
        )
        cent = cent.join(
            F.broadcast(packed), cent.c_id == packed.cluster, "left"
        ).select(
            "c_id", F.coalesce(F.col("new_vec"), F.col("c_vec")).alias("c_vec")
        )
    return cent


def lloyd_cent_path(spark: SparkSession, sf_dir: str) -> str:
    """Train-once/serve-many for the refined quantizer (what FAISS does:
    the coarse quantizer is TRAINED once and stored with the index, not
    re-trained per query): the Lloyd-refined centroid frame is computed
    once per source state and persisted as an nlist-row parquet.  The
    decimal-exact training is deterministic, so the persisted values are
    bit-identical to what the SQL twins recompute inline — and the path
    embeds the training constants, a routing-rule token, and the source
    fingerprint, so no rule change or data regeneration can serve a
    stale quantizer."""
    nlist = ivf_nlist(spark, sf_dir)

    def build(d: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        cent_seed = emb.filter(F.col("vec_id") < nlist).select(
            F.col("vec_id").alias("c_id"), F.col("v").alias("c_vec")
        )
        samp = emb.filter(
            F.col("vec_id") % _samp_mod(spark, sf_dir) == 0
        ).select("vec_id", "v")
        lloyd_refine(samp, cent_seed, LLOYD_ROUNDS).write.mode(
            "overwrite"
        ).parquet(d)

    tok = store_token(
        "lloyd-v1", IVF_N_CENTROIDS, IVF_K0_MIN, LLOYD_ROUNDS,
        LLOYD_SAMPLE_PER_CELL,
    )
    return build_once(sf_dir, "lloyd_cent", f"_nl{nlist}_{tok}", build)


def _quantizer_frames(spark: SparkSession, sf_dir: str):
    """(corpus, sup, cent_seed, cent_lloyd, nlist) — the shared setup of
    the x228-x235 quantizer family.  All vectors widened to
    array<double> up front so the Lloyd means see the exact values the
    oracle's CAST(embedding AS DOUBLE[]) sees.  cent_lloyd is served
    from the persisted train-once store (``lloyd_cent_path``) — an
    nlist-row parquet scan, so every consumer reuses the same trained
    quantizer instead of replaying the training lineage."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    nlist = ivf_nlist(spark, sf_dir)
    k0 = ivf_k0(spark, sf_dir)
    cent_seed = emb.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("c_vec")
    )
    cent_lloyd = spark.read.parquet(lloyd_cent_path(spark, sf_dir))
    sup = emb.filter(F.col("vec_id") < k0).select(
        F.col("vec_id").alias("s_id"), F.col("v").alias("s_vec")
    )
    corpus = emb.select("vec_id", F.col("v").alias("embedding"))
    return corpus, sup, cent_seed, cent_lloyd, nlist


def x228_refined_quantizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance/quantization-error comparison of the deterministic seed
    quantizer vs its Lloyd refinement, one row per quantizer: cells
    actually used, max/min cell population, vectors routed (always n —
    the conservation check), and the decimal-exact sum of rounded
    squared quantization errors.  On clustered corpora the refined row
    shows the lower max_pop and sq_err — the robustness evidence the
    first-n-vectors trick alone cannot provide.

    Scale shapes: Lloyd rounds are sample×broadcast(nlist) = ~32·n
    flops each; both corpus assignments route two-level (~n^1.25,
    broadcasts bounded at K0 then nlist with the 500k-row ceiling);
    stats are one key-shuffle agg per quantizer over narrow rows."""
    corpus, sup, cent_seed, cent_lloyd, nlist = _quantizer_frames(
        spark, sf_dir
    )

    def quant_stats(cent: DataFrame, tag: str) -> DataFrame:
        asn = route_two_level(
            corpus,
            sup,
            cent_sup_for(cent, sup),
            cent_rows=nlist,
            include_dist=True,
        )
        pops = asn.groupBy("c_id").agg(
            F.count(F.lit(1)).alias("pop"),
            F.sum(F.col("d").cast("decimal(30,10)")).alias("errsum"),
        )
        return pops.agg(
            F.count(F.lit(1)).alias("n_cells_used"),
            F.max("pop").alias("max_pop"),
            F.min("pop").alias("min_pop"),
            F.sum("pop").alias("n_vecs"),
            F.round(F.sum("errsum").cast("double"), 6).alias("sq_err"),
        ).select(
            F.lit(tag).alias("quantizer"),
            F.col("n_cells_used").cast("long").alias("n_cells_used"),
            F.col("max_pop").cast("long").alias("max_pop"),
            F.col("min_pop").cast("long").alias("min_pop"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            "sq_err",
        )

    return (
        quant_stats(cent_seed, "seed")
        .unionAll(quant_stats(cent_lloyd, "lloyd"))
        .orderBy("quantizer")
    )


_SQD = (
    "ROUND(list_sum(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)"
)


def _lloyd_sql_steps(
    src: str = "samp", seed: str = "cent_seed", prefix: str = "l"
) -> str:
    """CTE chain {prefix}cent0 → {prefix}cent{LLOYD_ROUNDS}: x49's
    decimal-exact Lloyd update over ``src``, seeded from ``seed``.
    Parameterized (round 11) so x237's RE-training — Lloyd over the
    drifted sample seeded from the SERVED quantizer — unrolls with the
    same factory; defaults keep every pre-existing twin byte-identical.
    The assign CTE is MATERIALIZED (the x225 lesson: chained CTEs
    inline exponentially)."""
    steps = [f"{prefix}cent0 AS (SELECT c_id, c_vec FROM {seed})"]
    for i in range(LLOYD_ROUNDS):
        steps.append(f"""{prefix}assign{i} AS MATERIALIZED (
          SELECT vec_id, v, c_id AS cluster FROM (
            SELECT s.vec_id, s.v, c.c_id,
                   {_SQD.format(a="s.v", b="c.c_vec")} AS d
            FROM {src} s CROSS JOIN {prefix}cent{i} c)
          QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d, c_id) = 1),
        {prefix}means{i} AS (
          SELECT cluster, dim,
                 CAST(CAST(SUM(CAST(val AS DECIMAL(30,10))) AS VARCHAR)
                      AS DOUBLE) / COUNT(*) AS m
          FROM (SELECT cluster,
                       generate_subscripts(v, 1) - 1 AS dim,
                       unnest(v) AS val
                FROM {prefix}assign{i})
          GROUP BY cluster, dim),
        {prefix}packed{i} AS (
          SELECT cluster, list(m ORDER BY dim) AS new_vec
          FROM {prefix}means{i} GROUP BY cluster),
        {prefix}cent{i + 1} AS MATERIALIZED (
          SELECT c.c_id, COALESCE(p.new_vec, c.c_vec) AS c_vec
          FROM {prefix}cent{i} c
          LEFT JOIN {prefix}packed{i} p ON c.c_id = p.cluster)""")
    return ",\n        ".join(steps)


def _sql_vecsup(e_cte: str, out: str) -> str:
    """Vector→super-cell routing twin over an arbitrary corpus CTE
    (x237 routes the DRIFTED snapshot through the same frozen ``sup``)."""
    return f"""{out} AS MATERIALIZED (
          SELECT vec_id, s_id FROM (
            SELECT {e_cte}.vec_id, s.s_id,
                   {_SQD.format(a=f"{e_cte}.v", b="s.s_vec")} AS sd
            FROM {e_cte} CROSS JOIN sup s)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY sd, s_id) = 1)"""


# sup + shared vector→super-cell routing (quantizer-independent: the
# super-cells are corpus vectors, not fine centroids)
_SQL_SUP_VECSUP = f"""sup AS (
          SELECT vec_id AS s_id, v AS s_vec FROM e
          WHERE vec_id < {SQL_IVF_K0}),
        {_sql_vecsup("e", "vec_sup")}"""


def _sql_cs(cent_cte: str, out: str) -> str:
    """cent_sup_for()'s twin: route ``cent_cte``'s fine centroids to sup."""
    return f"""{out} AS MATERIALIZED (
          SELECT s_id, c_id, c_vec FROM (
            SELECT c.c_id, c.c_vec, s.s_id,
                   {_SQD.format(a="c.c_vec", b="s.s_vec")} AS sd
            FROM {cent_cte} c CROSS JOIN sup s)
          QUALIFY row_number() OVER (PARTITION BY c_id
                                     ORDER BY sd, s_id) = 1)"""


def _sql_asn(
    cs_cte: str, out: str, e_cte: str = "e", vs_cte: str = "vec_sup"
) -> str:
    """route_two_level()'s second-hop twin with the distance kept.
    ``e_cte``/``vs_cte`` select which corpus snapshot is being routed
    (x237 assigns the drifted snapshot through the frozen quantizer)."""
    return f"""{out} AS MATERIALIZED (
          SELECT vec_id, c_id, d FROM (
            SELECT {e_cte}.vec_id, cs.c_id,
                   {_SQD.format(a=f"{e_cte}.v", b="cs.c_vec")} AS d
            FROM {e_cte} JOIN {vs_cte} vs USING (vec_id)
                   JOIN {cs_cte} cs ON vs.s_id = cs.s_id)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d, c_id) = 1)"""


def _x228_sql() -> str:
    def stats(asn_cte: str, tag: str) -> str:
        return f"""SELECT '{tag}' AS quantizer,
                 CAST(COUNT(*) AS BIGINT) AS n_cells_used,
                 CAST(MAX(pop) AS BIGINT) AS max_pop,
                 CAST(MIN(pop) AS BIGINT) AS min_pop,
                 CAST(SUM(pop) AS BIGINT) AS n_vecs,
                 ROUND(CAST(CAST(SUM(errsum) AS VARCHAR) AS DOUBLE), 6)
                     AS sq_err
          FROM (SELECT c_id, COUNT(*) AS pop,
                       SUM(CAST(d AS DECIMAL(30,10))) AS errsum
                FROM {asn_cte} GROUP BY c_id)"""

    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent_seed AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                      WHERE vec_id < {SQL_IVF_NLIST}),
        samp AS MATERIALIZED (
          SELECT vec_id, v FROM e WHERE vec_id % {SQL_SAMP_MOD} = 0),
        {_lloyd_sql_steps()},
        {_SQL_SUP_VECSUP},
        {_sql_cs("cent_seed", "cs_seed")},
        {_sql_cs(f"lcent{LLOYD_ROUNDS}", "cs_lloyd")},
        {_sql_asn("cs_seed", "asn_seed")},
        {_sql_asn("cs_lloyd", "asn_lloyd")}
        SELECT * FROM ({stats("asn_seed", "seed")}
                       UNION ALL
                       {stats("asn_lloyd", "lloyd")})
        ORDER BY quantizer
        """


register(
    QuerySpec(
        "x228_refined_quantizer",
        x228_refined_quantizer,
        _x228_sql(),
        "Lloyd-refined vs seed coarse quantizer: balance + quantization error, per quantizer",
    )
)


def x229_refined_quantizer_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 delta of the Lloyd-refined quantizer vs the seed
    quantizer, per query: the IVF search (IVF_N_PROBE probed lists,
    exact cosine rerank) runs under BOTH quantizers against ONE shared
    brute-force truth.  The production question this answers: does
    refining the coarse quantizer buy recall at equal probe budget?

    Scale shapes: one exact-truth pass (bounded: N_QUERY_VECS ×
    corpus, query side broadcast, k-capped before the hit join); per
    quantizer, a two-level corpus assignment (~n^1.25) and a
    probes·~√n candidate scan."""
    corpus, sup, cent_seed, cent_lloyd, nlist = _quantizer_frames(
        spark, sf_dir
    )
    queries = corpus.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    wq = Window.partitionBy("q_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    exact = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim"),
        )
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= FANN_TOPK)
        .select("q_id", "vec_id")
        .localCheckpoint()  # narrow (q_id, vec_id); both sides consume it
    )

    def hits_for(cent: DataFrame, col: str) -> DataFrame:
        lists = route_two_level(
            corpus, sup, cent_sup_for(cent, sup), cent_rows=nlist
        ).select("vec_id", F.col("c_id").alias("list_c"))
        qd = queries.crossJoin(F.broadcast(cent)).select(
            "q_id",
            "c_id",
            _sq_dist(F.col("q_vec"), F.col("c_vec")).alias("d"),
        )
        wp = Window.partitionBy("q_id").orderBy(F.asc("d"), F.asc("c_id"))
        probes = (
            qd.withColumn("crank", F.row_number().over(wp))
            .filter(F.col("crank") <= IVF_N_PROBE)
            .select("q_id", F.col("c_id").alias("probe_c"))
        )
        cand = (
            corpus.join(lists, "vec_id")
            .join(F.broadcast(probes), F.col("list_c") == F.col("probe_c"))
            .join(F.broadcast(queries), "q_id")
            .filter(F.col("vec_id") != F.col("q_id"))
            .select(
                "q_id",
                "vec_id",
                cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim"),
            )
        )
        approx = (
            cand.withColumn("rk", F.row_number().over(wq))
            .filter(F.col("rk") <= FANN_TOPK)
            .select("q_id", "vec_id")
        )
        return (
            approx.join(exact, ["q_id", "vec_id"])
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).alias(col))
        )

    return (
        queries.select("q_id")
        .join(hits_for(cent_seed, "hits_seed"), "q_id", "left")
        .join(hits_for(cent_lloyd, "hits_lloyd"), "q_id", "left")
        .select(
            "q_id",
            F.coalesce("hits_seed", F.lit(0)).cast("long").alias("hits_seed"),
            F.coalesce("hits_lloyd", F.lit(0))
            .cast("long")
            .alias("hits_lloyd"),
            F.round(
                F.coalesce("hits_seed", F.lit(0)).cast("double")
                / F.lit(float(FANN_TOPK)),
                6,
            ).alias("recall_seed"),
            F.round(
                F.coalesce("hits_lloyd", F.lit(0)).cast("double")
                / F.lit(float(FANN_TOPK)),
                6,
            ).alias("recall_lloyd"),
        )
        .orderBy("q_id")
    )


def _x229_sql() -> str:
    cos = (
        "ROUND(list_dot_product({q}, {v})"
        " / (sqrt(list_dot_product({q}, {q}))"
        " * sqrt(list_dot_product({v}, {v}))), 6)"
    )

    def search(cent_cte: str, asn_cte: str, tag: str) -> str:
        return f"""probes_{tag} AS (
          SELECT q_id, c_id AS probe_c FROM (
            SELECT e.vec_id AS q_id, c.c_id,
                   {_SQD.format(a="e.v", b="c.c_vec")} AS d
            FROM e CROSS JOIN {cent_cte} c
            WHERE e.vec_id < {N_QUERY_VECS})
          QUALIFY row_number() OVER (PARTITION BY q_id
                                     ORDER BY d, c_id) <= {IVF_N_PROBE}),
        approx_{tag} AS (
          SELECT q_id, vec_id FROM (
            SELECT p.q_id, a.vec_id,
                   {cos.format(q="q.q_vec", v="e.v")} AS cos_sim
            FROM {asn_cte} a
            JOIN e ON a.vec_id = e.vec_id
            JOIN probes_{tag} p ON a.c_id = p.probe_c
            JOIN qs q ON p.q_id = q.q_id
            WHERE a.vec_id != p.q_id)
          QUALIFY row_number() OVER (PARTITION BY q_id
              ORDER BY cos_sim DESC, vec_id ASC) <= {FANN_TOPK}),
        hits_{tag} AS (
          SELECT a.q_id, COUNT(*) AS hits
          FROM approx_{tag} a JOIN exact x
            ON a.q_id = x.q_id AND a.vec_id = x.vec_id
          GROUP BY a.q_id)"""

    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent_seed AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                      WHERE vec_id < {SQL_IVF_NLIST}),
        samp AS MATERIALIZED (
          SELECT vec_id, v FROM e WHERE vec_id % {SQL_SAMP_MOD} = 0),
        {_lloyd_sql_steps()},
        {_SQL_SUP_VECSUP},
        {_sql_cs("cent_seed", "cs_seed")},
        {_sql_cs(f"lcent{LLOYD_ROUNDS}", "cs_lloyd")},
        {_sql_asn("cs_seed", "asn_seed")},
        {_sql_asn("cs_lloyd", "asn_lloyd")},
        qs AS (SELECT vec_id AS q_id, v AS q_vec FROM e
               WHERE vec_id < {N_QUERY_VECS}),
        exact AS MATERIALIZED (
          SELECT q_id, vec_id FROM (
            SELECT q.q_id, e.vec_id,
                   {cos.format(q="q.q_vec", v="e.v")} AS cos_sim
            FROM e CROSS JOIN qs q WHERE e.vec_id != q.q_id)
          QUALIFY row_number() OVER (PARTITION BY q_id
              ORDER BY cos_sim DESC, vec_id ASC) <= {FANN_TOPK}),
        {search("cent_seed", "asn_seed", "seed")},
        {search(f"lcent{LLOYD_ROUNDS}", "asn_lloyd", "lloyd")}
        SELECT q.q_id,
               CAST(COALESCE(hs.hits, 0) AS BIGINT) AS hits_seed,
               CAST(COALESCE(hl.hits, 0) AS BIGINT) AS hits_lloyd,
               ROUND(CAST(COALESCE(hs.hits, 0) AS DOUBLE) / {FANN_TOPK},
                     6) AS recall_seed,
               ROUND(CAST(COALESCE(hl.hits, 0) AS DOUBLE) / {FANN_TOPK},
                     6) AS recall_lloyd
        FROM qs q
        LEFT JOIN hits_seed hs ON q.q_id = hs.q_id
        LEFT JOIN hits_lloyd hl ON q.q_id = hl.q_id
        ORDER BY q.q_id
        """


register(
    QuerySpec(
        "x229_refined_quantizer_recall",
        x229_refined_quantizer_recall,
        _x229_sql(),
        "recall@5 under the Lloyd-refined vs seed quantizer, shared exact truth",
    )
)


# --- x230: PRODUCTION IVF search over the Lloyd-refined quantizer -------------
# x228/x229 measured that Lloyd refinement recovers balance and error on
# clustered corpora, but nothing consumed the refined centroids (VERDICT
# r9 ask #1: "wire the Lloyd-refined quantizer into a production
# consumer").  This is that consumer: the x21 search shape — inverted
# lists, bounded probe set, exact cosine rerank — with every routing
# decision (corpus list assignment AND query probing) made against
# cent_lloyd instead of the seed centroids.  Same probes, same top-k,
# same tie rules; only the quantizer differs, so the clustered-fixture
# invariants (tests/test_round10_invariants.py) can compare this search
# against the seed-quantizer search end-to-end: recall at equal probe
# budget must hold while the layout it scans carries the lower max cell
# population x228 measured.


def x230_refined_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k search routed end-to-end through the Lloyd-refined
    coarse quantizer: corpus vectors assigned two-level to their nearest
    refined centroid, queries probed flat against the refined centroid
    frame (bounded at N_QUERY_VECS × nlist), candidates exact-cosine
    reranked.

    Scale shapes: Lloyd training is sample×broadcast(nlist) = ~32·n
    flops per round on a localCheckpointed √n-row frame; the corpus
    assignment routes two-level (~n^1.25) with the second hop under the
    500k-row broadcast ceiling; the candidate scan is probes·~√n rows
    per query.  Identical cost envelope to x21 — refinement changes the
    centroid VALUES, not the plan."""
    corpus, sup, _cent_seed, cent_lloyd, nlist = _quantizer_frames(
        spark, sf_dir
    )
    return ivf_search_over(corpus, sup, cent_lloyd, nlist)


def ivf_search_over(
    corpus: DataFrame, sup: DataFrame, cent: DataFrame, nlist: int
) -> DataFrame:
    """The x21-shape probed search over an ARBITRARY centroid frame:
    two-level corpus assignment, flat bounded query probing, exact
    cosine rerank, FANN_TOPK rows per query.  Factored so x230 (always
    Lloyd) and x235 (policy-chosen) run the identical plan over
    different centroid values."""
    lists = route_two_level(
        corpus, sup, cent_sup_for(cent, sup), cent_rows=nlist
    ).select("vec_id", F.col("c_id").alias("list_c"))
    queries = corpus.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    qd = queries.crossJoin(F.broadcast(cent)).select(
        "q_id", "c_id", _sq_dist(F.col("q_vec"), F.col("c_vec")).alias("d")
    )
    wp = Window.partitionBy("q_id").orderBy(F.asc("d"), F.asc("c_id"))
    probes = (
        qd.withColumn("crank", F.row_number().over(wp))
        .filter(F.col("crank") <= IVF_N_PROBE)
        .select("q_id", F.col("c_id").alias("probe_c"))
    )
    cand = (
        corpus.join(lists, "vec_id")
        .join(F.broadcast(probes), F.col("list_c") == F.col("probe_c"))
        .join(F.broadcast(queries), "q_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= FANN_TOPK)
        .select(
            "q_id",
            "vec_id",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("q_id", "rank")
    )


def _x230_sql() -> str:
    cos = (
        "ROUND(list_dot_product({q}, {v})"
        " / (sqrt(list_dot_product({q}, {q}))"
        " * sqrt(list_dot_product({v}, {v}))), 6)"
    )
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent_seed AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                      WHERE vec_id < {SQL_IVF_NLIST}),
        samp AS MATERIALIZED (
          SELECT vec_id, v FROM e WHERE vec_id % {SQL_SAMP_MOD} = 0),
        {_lloyd_sql_steps()},
        {_SQL_SUP_VECSUP},
        {_sql_cs(f"lcent{LLOYD_ROUNDS}", "cs_lloyd")},
        {_sql_asn("cs_lloyd", "asn_lloyd")},
        qs AS (SELECT vec_id AS q_id, v AS q_vec FROM e
               WHERE vec_id < {N_QUERY_VECS}),
        probes AS (
          SELECT q_id, c_id AS probe_c FROM (
            SELECT e.vec_id AS q_id, c.c_id,
                   {_SQD.format(a="e.v", b="c.c_vec")} AS d
            FROM e CROSS JOIN lcent{LLOYD_ROUNDS} c
            WHERE e.vec_id < {N_QUERY_VECS})
          QUALIFY row_number() OVER (PARTITION BY q_id
                                     ORDER BY d, c_id) <= {IVF_N_PROBE}),
        scored AS (
          SELECT p.q_id, a.vec_id,
                 {cos.format(q="q.q_vec", v="e.v")} AS cos_sim
          FROM asn_lloyd a
          JOIN e ON a.vec_id = e.vec_id
          JOIN probes p ON a.c_id = p.probe_c
          JOIN qs q ON p.q_id = q.q_id
          WHERE a.vec_id != p.q_id)
        SELECT q_id, vec_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rank
        FROM scored
        QUALIFY rank <= {FANN_TOPK}
        ORDER BY q_id, rank
        """


register(
    QuerySpec(
        "x230_refined_ivf_search",
        x230_refined_ivf_search,
        _x230_sql(),
        "IVF top-k searched through the Lloyd-refined coarse quantizer (x228's production consumer)",
    )
)


# --- x231: quantizer selection policy ------------------------------------------
# x228 measures both quantizers; x230 searches through the refined one.
# The missing piece of a production index build is the DECISION: which
# quantizer does the build adopt?  The policy is the integer-exact rule
# the clustered probe motivates — adopt the Lloyd refinement iff it
# strictly shrinks the largest inverted list (the quantity that bounds
# worst-case candidate-scan I/O per probe; CLUSTERED_PROBE.json measures
# sq_err moving the other way at n=20k, so max-pop is deliberately the
# ONLY criterion).  Pure BIGINT comparison on x228's stats rows, so the
# oracle is exact.


def x231_quantizer_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: both quantizers' largest-cell populations and the
    adopted quantizer under the max-pop policy.  Scale shapes: exactly
    x228's (two ~n^1.25 assignments + two narrow rollups) followed by a
    2-row pivot."""
    stats = x228_refined_quantizer(spark, sf_dir)
    pivoted = stats.groupBy().agg(
        F.max(
            F.when(F.col("quantizer") == "seed", F.col("max_pop"))
        ).alias("seed_max_pop"),
        F.max(
            F.when(F.col("quantizer") == "lloyd", F.col("max_pop"))
        ).alias("lloyd_max_pop"),
    )
    return pivoted.select(
        F.col("seed_max_pop").cast("long").alias("seed_max_pop"),
        F.col("lloyd_max_pop").cast("long").alias("lloyd_max_pop"),
        F.when(
            F.col("lloyd_max_pop") < F.col("seed_max_pop"), F.lit("lloyd")
        )
        .otherwise(F.lit("seed"))
        .alias("chosen_quantizer"),
    )


def _x231_sql() -> str:
    return f"""
        SELECT CAST(seed_max_pop AS BIGINT) AS seed_max_pop,
               CAST(lloyd_max_pop AS BIGINT) AS lloyd_max_pop,
               CASE WHEN lloyd_max_pop < seed_max_pop
                    THEN 'lloyd' ELSE 'seed' END AS chosen_quantizer
        FROM (
          SELECT MAX(CASE WHEN quantizer = 'seed' THEN max_pop END)
                     AS seed_max_pop,
                 MAX(CASE WHEN quantizer = 'lloyd' THEN max_pop END)
                     AS lloyd_max_pop
          FROM ({_x228_sql()}) stats)
        """


register(
    QuerySpec(
        "x231_quantizer_policy",
        x231_quantizer_policy,
        _x231_sql(),
        "index-build quantizer decision: adopt Lloyd iff it shrinks the largest inverted list",
    )
)


# --- x232: incremental-compaction I/O plan --------------------------------------
# x224 emits the per-list compaction decision and x227 executes it
# incrementally; this quantifies WHY incremental is the 100 TB shape:
# the rows a dynamic-partition-overwrite compactor physically rewrites
# (hot cells' live rows) vs the rows it leaves in place (cold cells'
# files, byte-untouched) vs the rows it reclaims (hot cells' dead
# rows).  io_saved_pct is the fraction of the index a FULL rewrite
# would have copied needlessly — integer arithmetic end-to-end
# (truncating division matches across engines on non-negative
# operands), so the oracle is exact.


def x232_compaction_io_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: hot/cold cell counts, rows rewritten / reclaimed /
    preserved-in-place by the incremental compaction, and the integer
    percentage of index rows a full-layout rewrite would have copied
    needlessly.  Scale shapes: one ~n^1.25 assignment feeding one
    key-shuffle rollup of narrow (cell, flag) rows; everything after is
    a ≤nlist-row aggregate."""
    placed = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            (F.col("vec_id") % TOMB_MOD == 2).alias("dead"),
        )
        .join(two_level_lists(spark, sf_dir), "vec_id")
    )
    roll = placed.groupBy(F.col("list_c").alias("cell")).agg(
        F.sum(F.col("dead").cast("long")).alias("n_dead"),
        F.count(F.lit(1)).alias("n_total"),
    )
    hot = (F.col("n_dead") * 100 > F.col("n_total") * TOMB_PCT).cast("long")
    per_cell = roll.select(
        hot.alias("is_hot"),
        "n_dead",
        "n_total",
    )
    totals = per_cell.agg(
        F.sum("is_hot").alias("n_cells_hot"),
        F.sum(1 - F.col("is_hot")).alias("n_cells_cold"),
        F.sum(
            F.col("is_hot") * (F.col("n_total") - F.col("n_dead"))
        ).alias("rows_rewritten"),
        F.sum(F.col("is_hot") * F.col("n_dead")).alias("rows_reclaimed"),
        F.sum((1 - F.col("is_hot")) * F.col("n_total")).alias(
            "rows_preserved"
        ),
        F.sum("n_total").alias("n_rows"),
    )
    return totals.select(
        F.col("n_cells_hot").cast("long").alias("n_cells_hot"),
        F.col("n_cells_cold").cast("long").alias("n_cells_cold"),
        F.col("rows_rewritten").cast("long").alias("rows_rewritten"),
        F.col("rows_reclaimed").cast("long").alias("rows_reclaimed"),
        F.col("rows_preserved").cast("long").alias("rows_preserved"),
        F.expr("rows_preserved * 100 div n_rows")
        .cast("long")
        .alias("io_saved_pct"),
    )


def _x232_sql() -> str:
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                 WHERE vec_id < {SQL_IVF_NLIST}),
        {SQL_TWO_LEVEL_LISTS},
        roll AS (
          SELECT l.list_c AS cell,
                 SUM(CASE WHEN l.vec_id % {TOMB_MOD} = 2
                     THEN 1 ELSE 0 END) AS n_dead,
                 COUNT(*) AS n_total
          FROM lists l GROUP BY l.list_c),
        per_cell AS (
          SELECT CASE WHEN n_dead * 100 > n_total * {TOMB_PCT}
                 THEN 1 ELSE 0 END AS is_hot,
                 n_dead, n_total
          FROM roll)
        SELECT CAST(SUM(is_hot) AS BIGINT) AS n_cells_hot,
               CAST(SUM(1 - is_hot) AS BIGINT) AS n_cells_cold,
               CAST(SUM(is_hot * (n_total - n_dead)) AS BIGINT)
                   AS rows_rewritten,
               CAST(SUM(is_hot * n_dead) AS BIGINT) AS rows_reclaimed,
               CAST(SUM((1 - is_hot) * n_total) AS BIGINT)
                   AS rows_preserved,
               CAST(SUM((1 - is_hot) * n_total) * 100
                    // SUM(n_total) AS BIGINT) AS io_saved_pct
        FROM per_cell
        """


register(
    QuerySpec(
        "x232_compaction_io_plan",
        x232_compaction_io_plan,
        _x232_sql(),
        "incremental vs full compaction I/O: rows rewritten / reclaimed / preserved in place",
    )
)


# --- x235: policy-routed production search --------------------------------------
# The closed loop: x228 measures both quantizers, x231 decides, x230
# searches through the refinement — x235 composes them into the single
# operator an index build actually runs: MEASURE the layouts, ADOPT the
# quantizer whose largest inverted list is smaller, SEARCH through the
# adopted centroids.  The decision is one bounded driver scalar (the
# x225/x45 bounded-decision pattern: a 1-row collect off two ≤nlist-row
# rollups — never corpus-sized); the oracle makes the identical integer
# decision in SQL and selects the matching search's rows, so a hash
# match proves decision AND search agree cross-engine.


def x235_policy_routed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x21-shape probed search through the quantizer x231's max-pop
    policy adopts, with the adopted quantizer named in the output.
    Scale shapes: two ~n^1.25 assignments for the decision (their
    rollups are ≤nlist rows; the collect is 1 row), then one assignment
    + probes·~√n candidate scan for the search — identical cost
    envelope to x228 followed by x230."""
    corpus, sup, cent_seed, cent_lloyd, nlist = _quantizer_frames(
        spark, sf_dir
    )
    chosen = (
        x231_quantizer_policy(spark, sf_dir).collect()[0].chosen_quantizer
    )
    cent = cent_lloyd if chosen == "lloyd" else cent_seed
    return ivf_search_over(corpus, sup, cent, nlist).select(
        F.lit(chosen).alias("quantizer"),
        "q_id",
        "vec_id",
        "cos_sim",
        "rank",
    )


def _x235_sql() -> str:
    cos = (
        "ROUND(list_dot_product({q}, {v})"
        " / (sqrt(list_dot_product({q}, {q}))"
        " * sqrt(list_dot_product({v}, {v}))), 6)"
    )

    def res(cent_cte: str, asn_cte: str, tag: str) -> str:
        return f"""probes_{tag} AS (
          SELECT q_id, c_id AS probe_c FROM (
            SELECT e.vec_id AS q_id, c.c_id,
                   {_SQD.format(a="e.v", b="c.c_vec")} AS d
            FROM e CROSS JOIN {cent_cte} c
            WHERE e.vec_id < {N_QUERY_VECS})
          QUALIFY row_number() OVER (PARTITION BY q_id
                                     ORDER BY d, c_id) <= {IVF_N_PROBE}),
        res_{tag} AS (
          SELECT q_id, vec_id, cos_sim,
                 CAST(row_number() OVER (PARTITION BY q_id
                     ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rank
          FROM (
            SELECT p.q_id, a.vec_id,
                   {cos.format(q="q.q_vec", v="e.v")} AS cos_sim
            FROM {asn_cte} a
            JOIN e ON a.vec_id = e.vec_id
            JOIN probes_{tag} p ON a.c_id = p.probe_c
            JOIN qs q ON p.q_id = q.q_id
            WHERE a.vec_id != p.q_id)
          QUALIFY rank <= {FANN_TOPK})"""

    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent_seed AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                      WHERE vec_id < {SQL_IVF_NLIST}),
        samp AS MATERIALIZED (
          SELECT vec_id, v FROM e WHERE vec_id % {SQL_SAMP_MOD} = 0),
        {_lloyd_sql_steps()},
        {_SQL_SUP_VECSUP},
        {_sql_cs("cent_seed", "cs_seed")},
        {_sql_cs(f"lcent{LLOYD_ROUNDS}", "cs_lloyd")},
        {_sql_asn("cs_seed", "asn_seed")},
        {_sql_asn("cs_lloyd", "asn_lloyd")},
        pol AS (
          SELECT CASE WHEN l.mx < s.mx THEN 'lloyd' ELSE 'seed' END AS chosen
          FROM (SELECT MAX(pop) AS mx FROM (
                  SELECT COUNT(*) AS pop FROM asn_seed GROUP BY c_id)) s,
               (SELECT MAX(pop) AS mx FROM (
                  SELECT COUNT(*) AS pop FROM asn_lloyd GROUP BY c_id)) l),
        qs AS (SELECT vec_id AS q_id, v AS q_vec FROM e
               WHERE vec_id < {N_QUERY_VECS}),
        {res("cent_seed", "asn_seed", "seed")},
        {res(f"lcent{LLOYD_ROUNDS}", "asn_lloyd", "lloyd")}
        SELECT (SELECT chosen FROM pol) AS quantizer,
               q_id, vec_id, cos_sim, rank
        FROM res_lloyd WHERE (SELECT chosen FROM pol) = 'lloyd'
        UNION ALL
        SELECT (SELECT chosen FROM pol) AS quantizer,
               q_id, vec_id, cos_sim, rank
        FROM res_seed WHERE (SELECT chosen FROM pol) = 'seed'
        ORDER BY q_id, rank
        """


register(
    QuerySpec(
        "x235_policy_routed_search",
        x235_policy_routed_search,
        _x235_sql(),
        "measure -> decide -> search: IVF search through the policy-adopted quantizer",
    )
)


# --- x236: embedding-distribution drift over the trained quantizer's cells -----
# The drift monitor a training-data pipeline runs on its VECTOR corpus:
# x73's PSI watches scalar feature distributions; this watches the
# EMBEDDING distribution by comparing two ingestion snapshots' occupancy
# of the trained coarse quantizer's cells (the standard
# codebook-histogram drift check: a distribution shift in embedding
# space shows up as cell-population reallocation long before any scalar
# stat moves).  Third consumer of the persisted Lloyd quantizer
# (x230/x235 search through it; this monitors with it).  Snapshots are
# the deterministic vec_id parity halves (two ingestion epochs in a
# real feed); PSI per SUPER-cell (K0 rows — the routing level an
# operator would page on), Laplace-smoothed per super-cell so empty
# cells stay finite, ln terms rounded then decimal-summed (helpers
# rules 1+3).
DRIFT_MOD = 2  # snapshot split: vec_id % DRIFT_MOD == 0 -> 'old'


def x236_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per super-cell: cells under it, old/new snapshot
    populations, and the PSI of the two snapshots' smoothed cell-share
    vectors.  Scale shapes: ONE ~n^1.25 two-level assignment serves
    both snapshots (the half tag is row-local); the rollup is a
    key-shuffle of narrow (cell, half) rows; everything after runs on
    ≤nlist-row frames."""
    from .helpers import dec_sum

    corpus, sup, _cent_seed, cent_lloyd, nlist = _quantizer_frames(
        spark, sf_dir
    )
    cs = cent_sup_for(cent_lloyd, sup).select("s_id", "c_id")
    asn = route_two_level(
        corpus, sup, cent_sup_for(cent_lloyd, sup), cent_rows=nlist
    )
    from .helpers import inline_rows

    halves = inline_rows(spark, [("old",), ("new",)], "half string")
    cnts = (
        asn.select(
            "c_id",
            F.when(F.col("vec_id") % DRIFT_MOD == 0, "old")
            .otherwise("new")
            .alias("half"),
        )
        .groupBy("c_id", "half")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spine = cs.crossJoin(F.broadcast(halves))
    dense = (
        spine.join(cnts, ["c_id", "half"], "left")
        .fillna(0, subset=["cnt"])
        .select("s_id", "c_id", "half", "cnt")
    )
    totals = dense.groupBy("s_id", "half").agg(
        F.sum("cnt").alias("n_half"), F.count(F.lit(1)).alias("k_cells")
    )
    shares = dense.join(F.broadcast(totals), ["s_id", "half"]).select(
        "s_id",
        "c_id",
        "half",
        (
            (F.col("cnt") + 1).cast("double")
            / (F.col("n_half") + F.col("k_cells")).cast("double")
        ).alias("share"),
    )
    p = shares.filter(F.col("half") == "old").select(
        "s_id", "c_id", F.col("share").alias("p")
    )
    q = shares.filter(F.col("half") == "new").select(
        "s_id", "c_id", F.col("share").alias("q")
    )
    term = F.round(
        (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 6
    )
    pops = totals.groupBy("s_id").agg(
        F.max(F.when(F.col("half") == "old", F.col("n_half"))).alias("n_old"),
        F.max(F.when(F.col("half") == "new", F.col("n_half"))).alias("n_new"),
        F.max("k_cells").alias("n_cells"),
    )
    psi = (
        p.join(q, ["s_id", "c_id"])
        .select("s_id", term.alias("t"))
        .groupBy("s_id")
        .agg(dec_sum("t", "psi"))
    )
    return (
        pops.join(psi, "s_id")
        .select(
            F.col("s_id").cast("long").alias("s_id"),
            F.col("n_cells").cast("long").alias("n_cells"),
            F.col("n_old").cast("long").alias("n_old"),
            F.col("n_new").cast("long").alias("n_new"),
            "psi",
        )
        .orderBy("s_id")
    )


def _x236_sql() -> str:
    from .helpers import SQL_DEC_SUM

    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent_seed AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                      WHERE vec_id < {SQL_IVF_NLIST}),
        samp AS MATERIALIZED (
          SELECT vec_id, v FROM e WHERE vec_id % {SQL_SAMP_MOD} = 0),
        {_lloyd_sql_steps()},
        {_SQL_SUP_VECSUP},
        {_sql_cs(f"lcent{LLOYD_ROUNDS}", "cs_lloyd")},
        {_sql_asn("cs_lloyd", "asn")},
        cnts AS (
          SELECT a.c_id,
                 CASE WHEN a.vec_id % {DRIFT_MOD} = 0
                      THEN 'old' ELSE 'new' END AS half,
                 COUNT(*) AS cnt
          FROM asn a GROUP BY 1, 2),
        spine AS (
          SELECT cs.c_id, cs.s_id, h.half
          FROM cs_lloyd cs, (VALUES ('old'), ('new')) AS h(half)),
        dense AS (
          SELECT s.s_id, s.c_id, s.half, COALESCE(c.cnt, 0) AS cnt
          FROM spine s LEFT JOIN cnts c
            ON c.c_id = s.c_id AND c.half = s.half),
        totals AS (
          SELECT s_id, half, SUM(cnt) AS n_half, COUNT(*) AS k_cells
          FROM dense GROUP BY 1, 2),
        shares AS (
          SELECT d.s_id, d.c_id, d.half,
                 CAST(d.cnt + 1 AS DOUBLE)
                 / CAST(t.n_half + t.k_cells AS DOUBLE) AS share
          FROM dense d JOIN totals t
            ON t.s_id = d.s_id AND t.half = d.half),
        terms AS (
          SELECT p.s_id,
                 ROUND((p.share - q.share) * ln(p.share / q.share), 6) AS t
          FROM shares p JOIN shares q
            ON p.s_id = q.s_id AND p.c_id = q.c_id
           AND p.half = 'old' AND q.half = 'new'),
        pops AS (
          SELECT s_id,
                 MAX(CASE WHEN half = 'old' THEN n_half END) AS n_old,
                 MAX(CASE WHEN half = 'new' THEN n_half END) AS n_new,
                 MAX(k_cells) AS n_cells
          FROM totals GROUP BY s_id),
        psi AS (
          SELECT s_id, {SQL_DEC_SUM.format(x="t")} AS psi
          FROM terms GROUP BY s_id)
        SELECT CAST(p.s_id AS BIGINT) AS s_id,
               CAST(p.n_cells AS BIGINT) AS n_cells,
               CAST(p.n_old AS BIGINT) AS n_old,
               CAST(p.n_new AS BIGINT) AS n_new,
               y.psi
        FROM pops p JOIN psi y ON p.s_id = y.s_id
        ORDER BY s_id
        """


register(
    QuerySpec(
        "x236_embedding_drift",
        x236_embedding_drift,
        _x236_sql(),
        "embedding-space drift: PSI of two snapshots' cell occupancy under the trained quantizer",
    )
)


# --- x237: drift-triggered quantizer retraining ---------------------------------
# The maintenance loop's missing act.  x236 MEASURES embedding drift;
# x231 DECIDES between quantizers; x230 SERVES the refined one — x237
# composes detect → decide → retrain → verify into the single operator
# a production index pipeline actually schedules (FAISS/Milvus-style
# index rebuild on distribution change): compute the PSI between the
# serving corpus's and an incoming snapshot's occupancy of the SERVED
# quantizer's cells; if it exceeds the textbook PSI>0.2 action bar,
# RE-train the coarse quantizer with Lloyd rounds on a bounded sample
# of the NEW snapshot (seeded from the served centroids — warm-start,
# the standard practice); adopt the retrained quantizer iff it shrinks
# the largest inverted list on the new snapshot (x231's criterion).
# The incoming snapshot is a deterministic covariate shift of the
# corpus (per-coordinate affine map v*GAIN+OFFSET — row-local IEEE ops,
# exactly rounded in both engines, helpers rule 2), so the whole loop
# — PSI, decision, retraining, adoption — is oracle-able end-to-end.
DRIFT_GAIN = 1.5     # simulated covariate shift: v' = v*GAIN + OFFSET
DRIFT_OFFSET = 0.1
DRIFT_RETRAIN_PSI = 0.2  # industry-standard "significant shift" bar


def _drifted(corpus: DataFrame) -> DataFrame:
    """The incoming snapshot: every coordinate through the affine map."""
    return corpus.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: x * F.lit(DRIFT_GAIN) + F.lit(DRIFT_OFFSET),
        ).alias("embedding"),
    )


def drift_retrain_cent_path(spark: SparkSession, sf_dir: str) -> str:
    """Train-once store for the RE-trained quantizer (same economics as
    ``lloyd_cent_path``: a drift event triggers ONE retrain job, every
    later invocation serves the stored nlist-row frame).  The path
    embeds every constant the training depends on (drift map, Lloyd
    budget, nlist) plus the source fingerprint — the GATE_DIR
    cache-keying invariant."""

    def build(d: str) -> None:
        corpus, _sup, _cent_seed, cent_lloyd, _nl = _quantizer_frames(
            spark, sf_dir
        )
        samp_new = _drifted(corpus).filter(
            F.col("vec_id") % _samp_mod(spark, sf_dir) == 0
        ).select("vec_id", F.col("embedding").alias("v"))
        lloyd_refine(samp_new, cent_lloyd, LLOYD_ROUNDS).write.mode(
            "overwrite"
        ).parquet(d)

    tok = store_token(
        "drift-retrain-v1", DRIFT_GAIN, DRIFT_OFFSET, IVF_N_CENTROIDS,
        IVF_K0_MIN, LLOYD_ROUNDS, LLOYD_SAMPLE_PER_CELL,
    )
    key = f"_nl{ivf_nlist(spark, sf_dir)}_{tok}"
    return build_once(sf_dir, "drift_recent", key, build)


def drift_psi(
    cells: DataFrame, pops_old: DataFrame, pops_new: DataFrame
) -> DataFrame:
    """1-row (psi): Laplace-smoothed PSI of two occupancy vectors over
    the same ``cells(c_id)`` spine — ``pops_old(c_id, co)`` vs
    ``pops_new(c_id, cn)``.  Factored so the STREAMING monitor (x242,
    whose new-snapshot counts arrive as drained micro-batch partials)
    computes the identical statistic over identical arithmetic as the
    batch monitor (x237)."""
    from .helpers import dec_sum

    dense = (
        cells.join(pops_old, "c_id", "left")
        .join(pops_new, "c_id", "left")
        .fillna(0, subset=["co", "cn"])
    )
    tot = dense.agg(
        F.sum("co").alias("n_old"),
        F.sum("cn").alias("n_new"),
        F.count(F.lit(1)).alias("k"),
    )
    shares = dense.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("co") + 1).cast("double")
            / (F.col("n_old") + F.col("k")).cast("double")
        ).alias("p"),
        (
            (F.col("cn") + 1).cast("double")
            / (F.col("n_new") + F.col("k")).cast("double")
        ).alias("q"),
    )
    term = F.round(
        (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 6
    )
    return shares.select(term.alias("t")).agg(dec_sum("t", "psi"))


def serving_occupancy_path(spark: SparkSession, sf_dir: str) -> str:
    """Store for the SERVING corpus's cell occupancy under the served
    quantizer — in a real vector store these are the inverted-list
    lengths the index already maintains as metadata, so the drift
    monitor should never re-scan the serving corpus to learn them.
    Computed once per source state (one ~n^1.25 assignment), persisted
    as an nlist-row parquet keyed on the training constants + source
    fingerprint (the same key discipline as ``lloyd_cent_path``, whose
    quantizer this occupancy belongs to)."""
    nlist = ivf_nlist(spark, sf_dir)

    def build(d: str) -> None:
        corpus, sup, _cent_seed, cent_lloyd, _nl = _quantizer_frames(
            spark, sf_dir
        )
        (
            route_two_level(
                corpus, sup, cent_sup_for(cent_lloyd, sup), cent_rows=nlist
            )
            .groupBy("c_id")
            .agg(F.count(F.lit(1)).alias("co"))
            .write.mode("overwrite")
            .parquet(d)
        )

    tok = store_token(
        "serve-occ-v1", IVF_N_CENTROIDS, IVF_K0_MIN, LLOYD_ROUNDS,
        LLOYD_SAMPLE_PER_CELL,
    )
    return build_once(sf_dir, "serve_occ", f"_nl{nlist}_{tok}", build)


def x237_drift_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: PSI of serving-vs-incoming cell occupancy under the
    served quantizer, the retrain decision, and both layouts' largest
    inverted list on the incoming snapshot, with the adopted quantizer
    named.  Scale shapes: the monitor pays ONE ~n^1.25 two-level
    assignment (the incoming snapshot; the serving side's occupancy is
    index metadata served from ``serving_occupancy_path``), one bounded
    Lloyd retrain (sample×broadcast(nlist) = ~32·n flops per round,
    trained ONCE per drift event via the persisted store), one ~n^1.25
    verification assignment; the decision is a 1-row collect off a
    checkpointed scalar (x235's bounded-decision pattern).  r15: the
    assignments and the decision arithmetic live in ``_drift_adoption``
    — ONE definition shared with x260/x261 and the migration (VERDICT
    r14 ask #2), so the loop cannot desynchronize across consumers;
    this fn derives its output row from the helper's checkpointed
    frames (same 2 assignments, now reused instead of re-planned)."""
    _adopted, _old, new, psi_df, pops_new = _drift_adoption(spark, sf_dir)
    stale = pops_new.agg(F.max("cn").alias("stale_max_pop"))
    base = psi_df.crossJoin(stale)
    if new is not None:
        re_mp = (
            new.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("cr"))
            .agg(F.max("cr").alias("retrained_max_pop"))
        )
        out = base.crossJoin(re_mp)
    else:  # hold: the retrain job is never scheduled (the whole point)
        out = base.withColumn(
            "retrained_max_pop", F.lit(None).cast("long")
        )
    return out.select(
        "psi",
        F.when(F.col("psi") > F.lit(DRIFT_RETRAIN_PSI), F.lit("retrain"))
        .otherwise(F.lit("hold"))
        .alias("decision"),
        F.col("stale_max_pop").cast("long").alias("stale_max_pop"),
        F.col("retrained_max_pop").cast("long").alias("retrained_max_pop"),
        F.when(
            (F.col("psi") > F.lit(DRIFT_RETRAIN_PSI))
            & (F.col("retrained_max_pop") < F.col("stale_max_pop")),
            F.lit("retrained"),
        )
        .otherwise(F.lit("stale"))
        .alias("adopted"),
    )


def _drift_monitor_ctes() -> str:
    """Oracle twin of the MONITOR half (shared by x237 and the streaming
    x242): CTE block from ``e`` through ``psi``/``pn``/``stale``."""
    from .helpers import SQL_DEC_SUM

    share = (
        "CAST({c} + 1 AS DOUBLE) / CAST({n} + t.k AS DOUBLE)"
    )
    p = share.format(c="d.co", n="t.n_old")
    q = share.format(c="d.cn", n="t.n_new")
    return f"""e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent_seed AS (SELECT vec_id AS c_id, v AS c_vec FROM e
                      WHERE vec_id < {SQL_IVF_NLIST}),
        samp AS MATERIALIZED (
          SELECT vec_id, v FROM e WHERE vec_id % {SQL_SAMP_MOD} = 0),
        {_lloyd_sql_steps()},
        e2 AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(v, x -> x * CAST({DRIFT_GAIN} AS DOUBLE)
                                        + CAST({DRIFT_OFFSET} AS DOUBLE)) AS v
          FROM e),
        {_SQL_SUP_VECSUP},
        {_sql_vecsup("e2", "vec_sup2")},
        {_sql_cs(f"lcent{LLOYD_ROUNDS}", "cs_lloyd")},
        {_sql_asn("cs_lloyd", "asn_old")},
        {_sql_asn("cs_lloyd", "asn_new", e_cte="e2", vs_cte="vec_sup2")},
        po AS (SELECT c_id, COUNT(*) AS co FROM asn_old GROUP BY c_id),
        pn AS (SELECT c_id, COUNT(*) AS cn FROM asn_new GROUP BY c_id),
        dense AS (
          SELECT c.c_id, COALESCE(po.co, 0) AS co, COALESCE(pn.cn, 0) AS cn
          FROM lcent{LLOYD_ROUNDS} c
          LEFT JOIN po ON po.c_id = c.c_id
          LEFT JOIN pn ON pn.c_id = c.c_id),
        tot AS (SELECT SUM(co) AS n_old, SUM(cn) AS n_new,
                       COUNT(*) AS k
                FROM dense),
        terms AS (
          SELECT ROUND(({p} - {q}) * ln(({p}) / ({q})), 6) AS t
          FROM dense d, tot t),
        psi AS (SELECT {SQL_DEC_SUM.format(x="t")} AS psi FROM terms),
        stale AS (SELECT MAX(cn) AS mp FROM pn)"""


SQL_DRIFT_THR = f"CAST({DRIFT_RETRAIN_PSI} AS DOUBLE)"


def _x237_sql() -> str:
    return f"""
        WITH {_drift_monitor_ctes()},
        samp2 AS MATERIALIZED (
          SELECT vec_id, v FROM e2 WHERE vec_id % {SQL_SAMP_MOD} = 0),
        {_lloyd_sql_steps(src="samp2", seed=f"lcent{LLOYD_ROUNDS}",
                          prefix="r")},
        {_sql_cs(f"rcent{LLOYD_ROUNDS}", "cs_re")},
        {_sql_asn("cs_re", "asn_re", e_cte="e2", vs_cte="vec_sup2")},
        re AS (SELECT MAX(cr) AS mp FROM (
                 SELECT COUNT(*) AS cr FROM asn_re GROUP BY c_id))
        SELECT p.psi AS psi,
               CASE WHEN p.psi > {SQL_DRIFT_THR}
                    THEN 'retrain' ELSE 'hold' END AS decision,
               CAST(s.mp AS BIGINT) AS stale_max_pop,
               CAST(CASE WHEN p.psi > {SQL_DRIFT_THR} THEN r.mp END
                    AS BIGINT) AS retrained_max_pop,
               CASE WHEN p.psi > {SQL_DRIFT_THR} AND r.mp < s.mp
                    THEN 'retrained' ELSE 'stale' END AS adopted
        FROM psi p, stale s, re r
        """


register(
    QuerySpec(
        "x237_drift_retrain",
        x237_drift_retrain,
        _x237_sql(),
        "drift-triggered retrain: PSI monitor -> retrain decision -> warm-start Lloyd -> adoption gate",
    )
)


# --- x260/x261: drift-adopted RE-INDEX execution --------------------------------
# x237 adopts the retrained quantizer but nothing migrated the
# inverted-list layout the adoption implies — the same execute-arrow
# gap x227 closed for compaction (VERDICT r10 ask #7).  These compose
# x237's adoption with an incremental re-index over the physical
# layout: the drifted snapshot's lists under the SERVED quantizer are
# the phase-1 store (the index state when the drift event fires); if
# the retrained quantizer is adopted, ONLY the cells whose membership
# changes — a cell any mover leaves or enters — have their partition
# directories rewritten (x227's dynamic-partition machinery verbatim);
# cells with identical membership keep their phase-1 files physically
# byte-untouched (tests/test_round13_invariants.py, on a
# localized-drift fixture).  x261 is the integer I/O ledger.
#
# Honest scale note: at THIS corpus's drift magnitude (PSI 0.39-0.75
# under the v·1.5+0.1 covariate shift) the retrained centroids move
# far enough that EVERY cell's membership changes — the ledger reports
# pct_rows_preserved = 0 and the "incremental" migration degenerates
# to the full rewrite a production store would also pay after a shift
# this large.  The machinery still matters: under localized drift
# (most cells' membership stable — the fixture shape) migration I/O is
# proportional to the moved set, and the ledger is what tells an
# operator which regime they are in BEFORE paying the rewrite.


def _drift_old_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell): the drifted snapshot routed through the SERVED
    quantizer — the inverted-list assignment the index holds when the
    drift event fires (one ~n^1.25 two-level pass)."""
    corpus, sup, _cs, cent_lloyd, nlist = _quantizer_frames(spark, sf_dir)
    return route_two_level(
        _drifted(corpus), sup, cent_sup_for(cent_lloyd, sup),
        cent_rows=nlist,
    ).select("vec_id", F.col("c_id").alias("cell"))


def _drift_new_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell): the drifted snapshot routed through the
    RETRAINED quantizer (served from its train-once store)."""
    corpus, sup, _cs, _cl, nlist = _quantizer_frames(spark, sf_dir)
    cent_re = spark.read.parquet(drift_retrain_cent_path(spark, sf_dir))
    return route_two_level(
        _drifted(corpus), sup, cent_sup_for(cent_re, sup), cent_rows=nlist
    ).select("vec_id", F.col("c_id").alias("cell"))


def _drift_adoption(
    spark: SparkSession, sf_dir: str
) -> "tuple[str, DataFrame, DataFrame | None, DataFrame, DataFrame]":
    """(adopted, old, new, psi_df, pops_new): x237's drift-adoption act
    with each ~n^1.25 corpus assignment computed ONCE, checkpointed, and
    returned for reuse (r15 pass-sharing, VERDICT r14 ask #2 / guide
    §1.2 step 1 — the shape x261 pioneered in r14, now the ONE
    definition every drift consumer routes through so the decision
    arithmetic cannot desynchronize).  ``old`` is the drifted snapshot
    under the SERVED quantizer (the monitor's incoming-occupancy
    assignment == the pre-migration layout), ``new`` is it under the
    RETRAINED quantizer (the verification assignment == the
    post-migration layout) or None when PSI holds — the retrain job is
    never scheduled on hold, x237's semantics.  ``psi_df``/``pops_new``
    are the checkpointed monitor scalars x237's output row is built
    from.  The decision is x237's verbatim: retrain iff PSI exceeds the
    threshold, adopt iff the retrained layout's largest inverted list
    strictly shrinks."""
    corpus, sup, _cs, cent_lloyd, nlist = _quantizer_frames(spark, sf_dir)
    drift = _drifted(corpus)
    old = (
        route_two_level(
            drift, sup, cent_sup_for(cent_lloyd, sup), cent_rows=nlist
        )
        .select("vec_id", F.col("c_id").alias("cell"))
        .localCheckpoint()
    )
    pops_new = old.groupBy(F.col("cell").alias("c_id")).agg(
        F.count(F.lit(1)).alias("cn")
    )
    # the serving side's occupancy is index metadata (inverted-list
    # lengths) — read from the store, never re-scanned per monitor run
    pops_old = spark.read.parquet(serving_occupancy_path(spark, sf_dir))
    psi_df = drift_psi(
        cent_lloyd.select("c_id"), pops_old, pops_new
    ).localCheckpoint()
    psi_val = psi_df.collect()[0].psi
    new = None
    if psi_val > DRIFT_RETRAIN_PSI:
        cent_re = spark.read.parquet(drift_retrain_cent_path(spark, sf_dir))
        new = (
            route_two_level(
                drift, sup, cent_sup_for(cent_re, sup), cent_rows=nlist
            )
            .select("vec_id", F.col("c_id").alias("cell"))
            .localCheckpoint()
        )
        mps = (
            pops_new.agg(F.max("cn").alias("stale_mp"))
            .crossJoin(
                new.groupBy("cell")
                .agg(F.count(F.lit(1)).alias("c"))
                .agg(F.max("c").alias("re_mp"))
            )
            .collect()[0]
        )
        adopted = "retrained" if mps.re_mp < mps.stale_mp else "stale"
    else:  # hold: the retrain job is never scheduled (the whole point)
        adopted = "stale"
    return adopted, old, new, psi_df, pops_new


def _drift_reindex_write_base(
    spark: SparkSession, sf_dir: str, dest: str, old: "DataFrame | None" = None
) -> None:
    """Phase 1 — the pre-migration layout: every drifted vector in its
    served-quantizer cell, partitioned by cell.  ``old`` lets the store
    builder pass `_drift_adoption`'s checkpointed assignment instead of
    re-routing the corpus (r15 pass-sharing)."""
    import os

    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return
    corpus, _sup, _cs, _cl, _nl = _quantizer_frames(spark, sf_dir)
    if old is None:
        old = _drift_old_layout(spark, sf_dir)
    (
        _drifted(corpus)
        .join(old, "vec_id")
        .select("vec_id", F.col("embedding").alias("v"), "cell")
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(dest)
    )


def _drift_reindex_migrate(
    spark: SparkSession,
    sf_dir: str,
    dest: str,
    adoption: "tuple | None" = None,
) -> None:
    """Phase 2 — the INCREMENTAL re-route, executed only when x237's
    loop adopts the retrained quantizer: movers = vectors whose cell
    changes; touched cells = every cell a mover leaves or enters.  The
    dynamic partition overwrite carries the NEW membership of touched
    cells only, so untouched cells' files stay byte-identical; a
    touched cell left with no members (everyone moved out, nobody in)
    gets its stale directory dropped explicitly (x227's fully-dead
    branch; bounded: ≤nlist driver-side ops).  The touched list is a
    ≤2·nlist-row collect — bounded index metadata, never corpus rows."""
    import os
    import shutil

    marker = os.path.join(dest, "_REINDEXED")
    if os.path.exists(marker):
        return
    # r15 pass-sharing (VERDICT r14 ask #2): the adoption's checkpointed
    # monitor/verification assignments ARE the old/new layouts — reuse
    # them instead of re-routing the corpus twice (store-write path:
    # 4 ~n^1.25 assignments -> 2 per drift event).
    adopted, old, new, _psi, _pn = (
        adoption if adoption is not None else _drift_adoption(spark, sf_dir)
    )
    if adopted == "retrained":
        j = old.select(
            "vec_id", F.col("cell").alias("oc")
        ).join(new.select("vec_id", F.col("cell").alias("nc")), "vec_id")
        movers = j.filter(F.col("oc") != F.col("nc"))
        touched = sorted(
            {
                r.cell
                for r in movers.select(F.col("oc").alias("cell"))
                .unionAll(movers.select(F.col("nc").alias("cell")))
                .distinct()
                .collect()  # ≤ 2·nlist rows
            }
        )
        if touched:
            corpus, _sup, _cs, _cl, _nl = _quantizer_frames(spark, sf_dir)
            incoming = (
                _drifted(corpus)
                .join(
                    new.filter(F.col("cell").isin(touched)), "vec_id"
                )
                .select("vec_id", F.col("embedding").alias("v"), "cell")
            )
            gaining = {
                r.cell
                for r in new.filter(F.col("cell").isin(touched))
                .select("cell")
                .distinct()
                .collect()  # ≤ nlist rows — bounded index metadata
            }
            for c in touched:
                if c not in gaining:  # emptied cell: drop its directory
                    shutil.rmtree(
                        os.path.join(dest, f"cell={c}"), ignore_errors=True
                    )
            (
                incoming.repartition("cell")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("cell")
                .parquet(dest)
            )
    with open(marker, "w"):
        pass


def drift_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per source state) the post-drift index layout:
    (vec_id, v, cell=partition) over the DRIFTED snapshot — phase-1
    lists under the served quantizer, incrementally re-routed to the
    retrained quantizer iff x237's loop adopts it.  Path embeds every
    constant the loop depends on + the source fingerprint (the
    GATE_DIR cache-keying invariant)."""

    def build(d: str) -> None:
        # one adoption act shared by both phases (r15): its checkpointed
        # assignments serve the phase-1 layout AND the migration — the
        # whole store build pays 2 corpus assignments instead of 5.
        adoption = _drift_adoption(spark, sf_dir)
        _drift_reindex_write_base(spark, sf_dir, d, old=adoption[1])
        _drift_reindex_migrate(spark, sf_dir, d, adoption=adoption)

    tok = store_token(
        "drift-reindex-v1", DRIFT_GAIN, DRIFT_OFFSET, DRIFT_RETRAIN_PSI,
        IVF_N_CENTROIDS, IVF_K0_MIN, LLOYD_ROUNDS, LLOYD_SAMPLE_PER_CELL,
    )
    key = f"_nl{ivf_nlist(spark, sf_dir)}_{tok}"
    return build_once(sf_dir, "drift_idx", key, build)


def x260_drift_reindex_execute(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Probed IVF top-k over the PHYSICALLY RE-INDEXED drifted corpus,
    through the quantizer x237's loop adopted, the adoption named in
    the output: (adopted, q_id, vec_id, cos_sim, rank).  The oracle
    replays the whole loop in SQL — monitor, retrain, adoption — and
    searches the adopted assignment computed INLINE (no store, no
    migration mechanics), so a hash match proves the incremental
    re-route produced exactly the layout the adopted quantizer
    implies (x227's gate shape composed with x237's decision).  Scale
    shapes: the migration is paid once per drift event (store); the
    search is x121's — bounded query probe broadcast against the
    cell-partitioned scan, probes·~√n candidates."""
    corpus, _sup, _cs, cent_lloyd, _nl = _quantizer_frames(spark, sf_dir)
    # 1-row bounded decision via the shared adoption act (r15: one
    # definition for the whole drift family — VERDICT r14 ask #2)
    adopted, _old, _new, _psi, _pn = _drift_adoption(spark, sf_dir)
    cent = (
        spark.read.parquet(drift_retrain_cent_path(spark, sf_dir))
        if adopted == "retrained"
        else cent_lloyd
    )
    index = spark.read.parquet(drift_index_path(spark, sf_dir))
    queries = _drifted(corpus).filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    qdist = queries.crossJoin(F.broadcast(cent)).select(
        "q_id",
        "q_vec",
        "c_id",
        _sq_dist(F.col("q_vec"), F.col("c_vec")).alias("dist"),
    )
    wq = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("c_id"))
    probes = (
        qdist.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= IVF_N_PROBE)
        .select("q_id", "q_vec", F.col("c_id").alias("probe_c"))
    )
    cand = index.join(
        F.broadcast(probes), index.cell == probes.probe_c
    ).filter(F.col("vec_id") != F.col("q_id"))
    scored = cand.select(
        "q_id",
        "vec_id",
        cosine(F.col("q_vec"), F.col("v")).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= FANN_TOPK)
        .select(
            F.lit(adopted).alias("adopted"),
            "q_id",
            "vec_id",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("q_id", "rank")
    )


def _x260_sql() -> str:
    cos = (
        "ROUND(list_dot_product({q}, {v})"
        " / (sqrt(list_dot_product({q}, {q}))"
        " * sqrt(list_dot_product({v}, {v}))), 6)"
    )

    def res(cent_cte: str, asn_cte: str, tag: str) -> str:
        return f"""probes_{tag} AS (
          SELECT q_id, c_id AS probe_c FROM (
            SELECT e2.vec_id AS q_id, c.c_id,
                   {_SQD.format(a="e2.v", b="c.c_vec")} AS d
            FROM e2 CROSS JOIN {cent_cte} c
            WHERE e2.vec_id < {N_QUERY_VECS})
          QUALIFY row_number() OVER (PARTITION BY q_id
                                     ORDER BY d, c_id) <= {IVF_N_PROBE}),
        res_{tag} AS (
          SELECT q_id, vec_id, cos_sim,
                 CAST(row_number() OVER (PARTITION BY q_id
                     ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rank
          FROM (
            SELECT p.q_id, a.vec_id,
                   {cos.format(q="q.q_vec", v="e2.v")} AS cos_sim
            FROM {asn_cte} a
            JOIN e2 ON a.vec_id = e2.vec_id
            JOIN probes_{tag} p ON a.c_id = p.probe_c
            JOIN q2 q ON p.q_id = q.q_id
            WHERE a.vec_id != p.q_id)
          QUALIFY rank <= {FANN_TOPK})"""

    return f"""
        WITH {_drift_monitor_ctes()},
        samp2 AS MATERIALIZED (
          SELECT vec_id, v FROM e2 WHERE vec_id % {SQL_SAMP_MOD} = 0),
        {_lloyd_sql_steps(src="samp2", seed=f"lcent{LLOYD_ROUNDS}",
                          prefix="r")},
        {_sql_cs(f"rcent{LLOYD_ROUNDS}", "cs_re")},
        {_sql_asn("cs_re", "asn_re", e_cte="e2", vs_cte="vec_sup2")},
        re AS (SELECT MAX(cr) AS mp FROM (
                 SELECT COUNT(*) AS cr FROM asn_re GROUP BY c_id)),
        adopt AS (
          SELECT CASE WHEN p.psi > {SQL_DRIFT_THR} AND r.mp < s.mp
                      THEN 'retrained' ELSE 'stale' END AS a
          FROM psi p, stale s, re r),
        q2 AS (SELECT vec_id AS q_id, v AS q_vec FROM e2
               WHERE vec_id < {N_QUERY_VECS}),
        {res(f"lcent{LLOYD_ROUNDS}", "asn_new", "stale")},
        {res(f"rcent{LLOYD_ROUNDS}", "asn_re", "retrained")}
        SELECT (SELECT a FROM adopt) AS adopted,
               q_id, vec_id, cos_sim, rank
        FROM res_retrained
        WHERE (SELECT a FROM adopt) = 'retrained'
        UNION ALL
        SELECT (SELECT a FROM adopt) AS adopted,
               q_id, vec_id, cos_sim, rank
        FROM res_stale
        WHERE (SELECT a FROM adopt) = 'stale'
        ORDER BY q_id, rank
        """


register(
    QuerySpec(
        "x260_drift_reindex_execute",
        x260_drift_reindex_execute,
        _x260_sql(),
        "drift re-index executed: probed search over the migrated lists == the adopted quantizer's inline answer",
    )
)


def x261_drift_reindex_io(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row of exact integers — the re-index's I/O ledger (x232's
    framing for the drift loop): movers, cells touched vs untouched by
    the executed migration, layout rows physically rewritten vs
    preserved in place, and the integer percentage preserved.  Under a
    'hold'/'stale' outcome no migration runs, so the ledger reports
    zero movers and 100% preserved by construction.  Scale shapes: two
    ~n^1.25 assignments joined on vec_id (narrow rows), ≤2·nlist cell
    rollups, a 1-row decision collect (the x235 pattern).

    r14 pass-sharing (guide §1.2 step 1 — don't compute things twice):
    the monitor's incoming-occupancy assignment IS the old layout, and
    the verification assignment IS the new layout, so each is computed
    once, checkpointed, and reused for the decision scalars AND the
    ledger: 4 corpus assignments → 2.  r15: that sharing (plus the
    decision arithmetic) is ``_drift_adoption`` — the ONE definition
    x237/x260/the migration also route through, closing the r14 logic
    clone (VERDICT r14 ask #2) and the ADVICE r14 stale_mp redundancy
    (the helper's max-pop compare reuses its pops_new frame)."""
    adopted, old, new, _psi, _pn = _drift_adoption(spark, sf_dir)
    if adopted != "retrained":
        base = old.agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count_distinct("cell").alias("n_cells"),
        )
        return base.select(
            F.lit(adopted).alias("adopted"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.lit(0).cast("long").alias("n_movers"),
            F.col("n_cells").cast("long").alias("n_cells"),
            F.lit(0).cast("long").alias("n_cells_touched"),
            F.col("n_cells").cast("long").alias("n_cells_untouched"),
            F.lit(0).cast("long").alias("rows_rewritten"),
            F.col("n_vecs").cast("long").alias("rows_preserved"),
            F.lit(100).cast("long").alias("pct_rows_preserved"),
        )
    j = old.select("vec_id", F.col("cell").alias("oc")).join(
        new.select("vec_id", F.col("cell").alias("nc")), "vec_id"
    )
    movers = j.filter(F.col("oc") != F.col("nc"))
    touched = (
        movers.select(F.col("oc").alias("cell"))
        .unionAll(movers.select(F.col("nc").alias("cell")))
        .distinct()
        .withColumn("t", F.lit(1))
    )
    allc = (
        j.select(F.col("oc").alias("cell"))
        .unionAll(j.select(F.col("nc").alias("cell")))
        .distinct()
    )
    cellstats = allc.join(F.broadcast(touched), "cell", "left").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.coalesce(F.col("t"), F.lit(0))).alias("n_cells_touched"),
        F.sum(1 - F.coalesce(F.col("t"), F.lit(0))).alias(
            "n_cells_untouched"
        ),
    )
    rowstats = j.join(
        F.broadcast(touched.withColumnRenamed("cell", "nc")), "nc", "left"
    ).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum((F.col("oc") != F.col("nc")).cast("long")).alias("n_movers"),
        F.sum(F.coalesce(F.col("t"), F.lit(0))).alias("rows_rewritten"),
        F.sum(1 - F.coalesce(F.col("t"), F.lit(0))).alias("rows_preserved"),
    )
    return rowstats.crossJoin(cellstats).select(
        F.lit(adopted).alias("adopted"),
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.col("n_movers").cast("long").alias("n_movers"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("n_cells_touched").cast("long").alias("n_cells_touched"),
        F.col("n_cells_untouched").cast("long").alias("n_cells_untouched"),
        F.col("rows_rewritten").cast("long").alias("rows_rewritten"),
        F.col("rows_preserved").cast("long").alias("rows_preserved"),
        F.expr("rows_preserved * 100 div n_vecs")
        .cast("long")
        .alias("pct_rows_preserved"),
    )


def _x261_sql() -> str:
    return f"""
        WITH {_drift_monitor_ctes()},
        samp2 AS MATERIALIZED (
          SELECT vec_id, v FROM e2 WHERE vec_id % {SQL_SAMP_MOD} = 0),
        {_lloyd_sql_steps(src="samp2", seed=f"lcent{LLOYD_ROUNDS}",
                          prefix="r")},
        {_sql_cs(f"rcent{LLOYD_ROUNDS}", "cs_re")},
        {_sql_asn("cs_re", "asn_re", e_cte="e2", vs_cte="vec_sup2")},
        re AS (SELECT MAX(cr) AS mp FROM (
                 SELECT COUNT(*) AS cr FROM asn_re GROUP BY c_id)),
        adopt AS (
          SELECT CASE WHEN p.psi > {SQL_DRIFT_THR} AND r.mp < s.mp
                      THEN 'retrained' ELSE 'stale' END AS a
          FROM psi p, stale s, re r),
        mov AS (
          SELECT o.vec_id, o.c_id AS oc, n.c_id AS nc,
                 CASE WHEN o.c_id != n.c_id THEN 1 ELSE 0 END AS m
          FROM asn_new o JOIN asn_re n USING (vec_id)),
        touched AS (
          SELECT DISTINCT cell FROM (
            SELECT oc AS cell FROM mov WHERE m = 1
            UNION ALL SELECT nc FROM mov WHERE m = 1)),
        allc AS (
          SELECT DISTINCT cell FROM (
            SELECT oc AS cell FROM mov UNION ALL SELECT nc FROM mov)),
        cellstats AS (
          SELECT COUNT(*) AS n_cells,
                 SUM(CASE WHEN t.cell IS NOT NULL THEN 1 ELSE 0 END)
                     AS n_cells_touched,
                 SUM(CASE WHEN t.cell IS NULL THEN 1 ELSE 0 END)
                     AS n_cells_untouched
          FROM allc a LEFT JOIN touched t USING (cell)),
        rowstats AS (
          SELECT COUNT(*) AS n_vecs, SUM(m) AS n_movers,
                 SUM(CASE WHEN t.cell IS NOT NULL THEN 1 ELSE 0 END)
                     AS rows_rewritten,
                 SUM(CASE WHEN t.cell IS NULL THEN 1 ELSE 0 END)
                     AS rows_preserved
          FROM mov LEFT JOIN touched t ON mov.nc = t.cell),
        holdstats AS (
          SELECT COUNT(*) AS n_vecs,
                 COUNT(DISTINCT c_id) AS n_cells
          FROM asn_new)
        SELECT a.a AS adopted,
               CAST(CASE WHEN a.a = 'retrained' THEN r.n_vecs
                         ELSE h.n_vecs END AS BIGINT) AS n_vecs,
               CAST(CASE WHEN a.a = 'retrained' THEN r.n_movers
                         ELSE 0 END AS BIGINT) AS n_movers,
               CAST(CASE WHEN a.a = 'retrained' THEN c.n_cells
                         ELSE h.n_cells END AS BIGINT) AS n_cells,
               CAST(CASE WHEN a.a = 'retrained' THEN c.n_cells_touched
                         ELSE 0 END AS BIGINT) AS n_cells_touched,
               CAST(CASE WHEN a.a = 'retrained' THEN c.n_cells_untouched
                         ELSE h.n_cells END AS BIGINT) AS n_cells_untouched,
               CAST(CASE WHEN a.a = 'retrained' THEN r.rows_rewritten
                         ELSE 0 END AS BIGINT) AS rows_rewritten,
               CAST(CASE WHEN a.a = 'retrained' THEN r.rows_preserved
                         ELSE h.n_vecs END AS BIGINT) AS rows_preserved,
               CAST(CASE WHEN a.a = 'retrained'
                         THEN r.rows_preserved * 100 // r.n_vecs
                         ELSE 100 END AS BIGINT) AS pct_rows_preserved
        FROM adopt a, rowstats r, cellstats c, holdstats h
        """


register(
    QuerySpec(
        "x261_drift_reindex_io",
        x261_drift_reindex_io,
        _x261_sql(),
        "drift re-index I/O ledger: movers, cells touched vs untouched, layout rows rewritten vs preserved",
    )
)


# --- x268/x269: localized-drift re-index — the INCREMENTAL regime gated ---------
# x260/x261 put the drift re-index under the driver's hash, but the
# gate corpus's global covariate shift degenerates the migration to a
# full rewrite (pct_rows_preserved = 0, honestly reported) — so the
# incremental path's preservation claim lived only in pytest (VERDICT
# r11 ask #3).  These register the LOCALIZED regime: a blob-structured
# corpus BOTH engines derive from vec_id arithmetic alone (LOCD_BLOBS
# well-separated one-hot centers + a deterministic jitter — the
# engineered shape of tests/test_round13_invariants.py's fixture,
# expressed as SQL-able math so the driver can hash it), where the
# drift event translates exactly one blob into another blob's cells.
# The re-seeded quantizer (the first-nlist determinism trick, taken on
# the DRIFTED snapshot) recovers the moved blob, so movers are bounded
# to one blob BY CONSTRUCTION: the executed migration rewrites the
# moved blob's source and destination cells only, every other cell's
# files stay physically byte-untouched
# (tests/test_round14_invariants.py), and the gate ledger's
# pct_rows_preserved is nonzero under the driver's hash — the
# incremental claim x261's global row cannot show.  The real-corpus
# regime detection (PSI monitor, Lloyd retrain, adoption) is x237's
# gate-proven edge and is NOT re-proven here; the adoption comparison
# kept below is the integer max-pop criterion the migration routes
# through (both branches: a 'stale' outcome leaves phase 1 untouched).
LOCD_DIM = 8
LOCD_BLOBS = 8
LOCD_SCALE = 10.0   # blob-center magnitude (one-hot axis)
LOCD_JITTER_MOD = 7  # jitter = ((vec_id·(j+1)) mod 7) / 100
LOCD_SHIFT = 20.0   # drift: blob 0 translated along axis 1
LOCD_NLIST = 16     # first-16 seed cells: 2 per blob


def _locd_vec(drifted: bool) -> Column:
    """The fixture vector as a Column over ``vec_id``: one-hot blob
    center + deterministic jitter; when ``drifted``, blob 0 is
    translated by LOCD_SHIFT along axis 1 (into blob 1's half-space —
    the localized drift event).  Integer-derived doubles with one
    fixed operation order, so both engines compute bit-identical
    coordinates."""
    cols = []
    for j in range(LOCD_DIM):
        c = F.when(
            F.col("vec_id") % LOCD_BLOBS == j, F.lit(LOCD_SCALE)
        ).otherwise(F.lit(0.0)) + (
            (F.col("vec_id") * F.lit(j + 1)) % LOCD_JITTER_MOD
        ).cast("double") / F.lit(100.0)
        if drifted and j == 1:
            c = c + F.when(
                F.col("vec_id") % LOCD_BLOBS == 0, F.lit(LOCD_SHIFT)
            ).otherwise(F.lit(0.0))
        cols.append(c)
    return F.array(*cols)


def _locd_sql_vec(drifted: bool) -> str:
    terms = []
    for j in range(LOCD_DIM):
        t = (
            f"CASE WHEN vec_id % {LOCD_BLOBS} = {j} "
            f"THEN {LOCD_SCALE} ELSE 0.0 END"
            f" + CAST((vec_id * {j + 1}) % {LOCD_JITTER_MOD} AS DOUBLE)"
            " / 100.0"
        )
        if drifted and j == 1:
            t += (
                f" + CASE WHEN vec_id % {LOCD_BLOBS} = 0 "
                f"THEN {LOCD_SHIFT} ELSE 0.0 END"
            )
        terms.append(t)
    return "[" + ", ".join(terms) + "]"


def _locd_assign(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cell): nearest-of-LOCD_NLIST flat assignment (the
    cell count is fixed by the fixture's geometry, not grown with n —
    the production √n routing is x260's, not re-proven here)."""
    scored = corpus.crossJoin(F.broadcast(cents)).select(
        "vec_id", "v", "c_id", _sq_dist(F.col("v"), F.col("c_vec")).alias("d")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("c_id"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("vec_id", "v", F.col("c_id").alias("cell"))
    )


def _locd_frames(spark: SparkSession, sf_dir: str):
    """(post, asn_old, asn_new): the drifted fixture corpus and its
    assignments under the pre-drift and re-seeded quantizers."""
    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    pre = ids.select("vec_id", _locd_vec(False).alias("v"))
    post = ids.select("vec_id", _locd_vec(True).alias("v"))
    cents_old = pre.filter(F.col("vec_id") < LOCD_NLIST).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("c_vec")
    )
    cents_new = post.filter(F.col("vec_id") < LOCD_NLIST).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("c_vec")
    )
    return post, _locd_assign(post, cents_old), _locd_assign(post, cents_new)


def _locd_adopted(asn_old: DataFrame, asn_new: DataFrame) -> str:
    """x231's integer criterion on the two layouts: migrate iff the
    re-seeded layout strictly shrinks the largest inverted list.  Two
    bounded max-pop aggregates + a 1-row collect (the x235 pattern)."""
    s = (
        asn_old.groupBy("cell").count().agg(F.max("count").alias("m"))
        .crossJoin(
            asn_new.groupBy("cell").count().agg(F.max("count").alias("r"))
        )
        .collect()[0]
    )
    return "migrated" if s.r < s.m else "stale"


def _locd_write_base(spark: SparkSession, sf_dir: str, dest: str) -> None:
    """Phase 1 — the pre-migration layout: the drifted fixture corpus
    in its PRE-drift-quantizer cells, partitioned by cell."""
    import os

    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return
    _post, asn_old, _asn_new = _locd_frames(spark, sf_dir)
    (
        asn_old.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(dest)
    )


def _locd_migrate(spark: SparkSession, sf_dir: str, dest: str) -> None:
    """Phase 2 — x260's incremental migration, executed only under the
    'migrated' adoption outcome: rewrite exactly the cells the moved
    blob leaves or enters via dynamic partition overwrite (emptied
    cells dropped explicitly); every other cell's files stay
    byte-identical (tests/test_round14_invariants.py)."""
    import os
    import shutil

    marker = os.path.join(dest, "_REINDEXED")
    if os.path.exists(marker):
        return
    _post, asn_old, asn_new = _locd_frames(spark, sf_dir)
    if _locd_adopted(asn_old, asn_new) == "migrated":
        j = asn_old.select("vec_id", F.col("cell").alias("oc")).join(
            asn_new.select("vec_id", F.col("cell").alias("nc")), "vec_id"
        )
        movers = j.filter(F.col("oc") != F.col("nc"))
        touched = sorted(
            {
                r.cell
                for r in movers.select(F.col("oc").alias("cell"))
                .unionAll(movers.select(F.col("nc").alias("cell")))
                .distinct()
                .collect()  # ≤ 2·LOCD_NLIST rows
            }
        )
        if touched:
            incoming = asn_new.filter(F.col("cell").isin(touched))
            gaining = {
                r.cell
                for r in incoming.select("cell").distinct().collect()
            }
            for c in touched:
                if c not in gaining:  # emptied cell: drop its directory
                    shutil.rmtree(
                        os.path.join(dest, f"cell={c}"), ignore_errors=True
                    )
            (
                incoming.repartition("cell")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("cell")
                .parquet(dest)
            )
    with open(marker, "w"):
        pass


def locdrift_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per source state) the localized-drift index layout:
    phase 1 (``_locd_write_base``) + incremental phase-2 migration
    (``_locd_migrate``).  Path embeds every fixture constant + the
    source fingerprint (the GATE_DIR cache-keying invariant)."""

    def build(d: str) -> None:
        _locd_write_base(spark, sf_dir, d)
        _locd_migrate(spark, sf_dir, d)

    tok = store_token(
        "locdrift-v1", LOCD_DIM, LOCD_BLOBS, LOCD_SCALE,
        LOCD_JITTER_MOD, LOCD_SHIFT, LOCD_NLIST,
    )
    return build_once(sf_dir, "locd_idx", f"_{tok}", build)


_LOCD_SQL_BASE = f"""ids AS (SELECT vec_id FROM embeddings),
        pre AS (SELECT vec_id, {_locd_sql_vec(False)} AS v FROM ids),
        post AS MATERIALIZED (
          SELECT vec_id, {_locd_sql_vec(True)} AS v FROM ids),
        co AS (SELECT vec_id AS c_id, v AS c_vec FROM pre
               WHERE vec_id < {LOCD_NLIST}),
        cn AS (SELECT vec_id AS c_id, v AS c_vec FROM post
               WHERE vec_id < {LOCD_NLIST}),
        asn_o AS MATERIALIZED (
          SELECT vec_id, cell FROM (
            SELECT p.vec_id, c.c_id AS cell,
                   {_SQD.format(a="p.v", b="c.c_vec")} AS d
            FROM post p CROSS JOIN co c)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d, cell) = 1),
        asn_n AS MATERIALIZED (
          SELECT vec_id, cell FROM (
            SELECT p.vec_id, c.c_id AS cell,
                   {_SQD.format(a="p.v", b="c.c_vec")} AS d
            FROM post p CROSS JOIN cn c)
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d, cell) = 1),
        adopt AS (
          SELECT CASE WHEN r.mp < s.mp THEN 'migrated' ELSE 'stale' END AS a
          FROM (SELECT MAX(cnt) AS mp FROM (
                  SELECT COUNT(*) AS cnt FROM asn_o GROUP BY cell)) s,
               (SELECT MAX(cnt) AS mp FROM (
                  SELECT COUNT(*) AS cnt FROM asn_n GROUP BY cell)) r)"""


def x268_locdrift_reindex_execute(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-cell content proof over the PHYSICALLY MIGRATED localized-
    drift layout, the adoption named in the output: (adopted, cell,
    n_rows, id_digest) where id_digest is the order-insensitive
    md5-prefix sum of the cell's vec_ids folded mod 2^62 (x265's
    digest idiom).  The oracle derives the same fixture corpus from
    vec_id arithmetic, re-makes the integer adoption, and computes the
    adopted assignment INLINE — no store, no migration mechanics — so
    a hash match proves the incremental rewrite (touched cells only)
    produced EXACTLY the layout the re-seeded quantizer implies.
    Scale shapes: fixture derivation is one projection; assignment is
    n × LOCD_NLIST broadcast scoring (linear — the cell count is fixed
    by the fixture's geometry); the gate is a cell-keyed agg over
    narrow columns; the migration is paid once per source state."""
    post, asn_old, asn_new = _locd_frames(spark, sf_dir)
    adopted = _locd_adopted(asn_old, asn_new)
    layout = spark.read.parquet(locdrift_index_path(spark, sf_dir))
    digest = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 12), 16, 10
    ).cast("decimal(38,0)")
    return (
        layout.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(digest) % F.lit(2**62)).alias("id_digest"),
        )
        .select(
            F.lit(adopted).alias("adopted"),
            F.col("cell").cast("long").alias("cell"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("id_digest").cast("long").alias("id_digest"),
        )
        .orderBy("cell")
    )


def _x268_sql() -> str:
    dig = (
        "CAST(SUM(CAST(('0x' || substring("
        "md5(CAST(vec_id AS VARCHAR)), 1, 12)) AS BIGINT))"
        f" % {2**62} AS BIGINT)"
    )
    per_cell = (
        "SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        f"{dig} AS id_digest FROM {{src}} GROUP BY cell"
    )
    return f"""
        WITH {_LOCD_SQL_BASE},
        dig_o AS ({per_cell.format(src="asn_o")}),
        dig_n AS ({per_cell.format(src="asn_n")})
        SELECT (SELECT a FROM adopt) AS adopted,
               cell, n_rows, id_digest
        FROM dig_n WHERE (SELECT a FROM adopt) = 'migrated'
        UNION ALL
        SELECT (SELECT a FROM adopt) AS adopted,
               cell, n_rows, id_digest
        FROM dig_o WHERE (SELECT a FROM adopt) = 'stale'
        ORDER BY cell
        """


register(
    QuerySpec(
        "x268_locdrift_reindex_execute",
        x268_locdrift_reindex_execute,
        _x268_sql(),
        "localized-drift re-index executed: the incrementally migrated layout == the re-seeded quantizer's inline answer",
    )
)


def x269_locdrift_reindex_io(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One row of exact integers — the LOCALIZED regime's I/O ledger
    (x261's columns plus both max pops): under this drift exactly one
    blob moves, so the gate row proves nonzero preservation
    (pct_rows_preserved > 0) WITH the migration executed — the
    incremental claim the global-drift gate row (x261) cannot show.
    Scale shapes: two n × LOCD_NLIST assignments joined on vec_id
    (narrow rows), ≤2·LOCD_NLIST cell rollups, a 1-row decision
    collect."""
    _post, asn_old, asn_new = _locd_frames(spark, sf_dir)
    adopted = _locd_adopted(asn_old, asn_new)
    pops = (
        asn_old.groupBy("cell").count().agg(F.max("count").alias("stale_mp"))
        .crossJoin(
            asn_new.groupBy("cell").count()
            .agg(F.max("count").alias("reseeded_mp"))
        )
    )
    j = asn_old.select("vec_id", F.col("cell").alias("oc")).join(
        asn_new.select("vec_id", F.col("cell").alias("nc")), "vec_id"
    )
    movers = j.filter(F.col("oc") != F.col("nc"))
    touched = (
        movers.select(F.col("oc").alias("cell"))
        .unionAll(movers.select(F.col("nc").alias("cell")))
        .distinct()
        .withColumn("t", F.lit(1))
    )
    allc = (
        j.select(F.col("oc").alias("cell"))
        .unionAll(j.select(F.col("nc").alias("cell")))
        .distinct()
    )
    cellstats = allc.join(F.broadcast(touched), "cell", "left").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.coalesce(F.col("t"), F.lit(0))).alias("n_cells_touched"),
        F.sum(1 - F.coalesce(F.col("t"), F.lit(0))).alias(
            "n_cells_untouched"
        ),
    )
    rowstats = j.join(
        F.broadcast(touched.withColumnRenamed("cell", "nc")), "nc", "left"
    ).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum((F.col("oc") != F.col("nc")).cast("long")).alias("n_movers"),
        F.sum(F.coalesce(F.col("t"), F.lit(0))).alias("rows_rewritten"),
        F.sum(1 - F.coalesce(F.col("t"), F.lit(0))).alias("rows_preserved"),
    )
    return rowstats.crossJoin(cellstats).crossJoin(pops).select(
        F.lit(adopted).alias("adopted"),
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.col("n_movers").cast("long").alias("n_movers"),
        F.col("stale_mp").cast("long").alias("stale_max_pop"),
        F.col("reseeded_mp").cast("long").alias("reseeded_max_pop"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("n_cells_touched").cast("long").alias("n_cells_touched"),
        F.col("n_cells_untouched").cast("long").alias("n_cells_untouched"),
        F.col("rows_rewritten").cast("long").alias("rows_rewritten"),
        F.col("rows_preserved").cast("long").alias("rows_preserved"),
        F.expr("rows_preserved * 100 div n_vecs")
        .cast("long")
        .alias("pct_rows_preserved"),
    )


def _x269_sql() -> str:
    return f"""
        WITH {_LOCD_SQL_BASE},
        mov AS (
          SELECT o.vec_id, o.cell AS oc, n.cell AS nc,
                 CASE WHEN o.cell != n.cell THEN 1 ELSE 0 END AS m
          FROM asn_o o JOIN asn_n n USING (vec_id)),
        touched AS (
          SELECT DISTINCT cell FROM (
            SELECT oc AS cell FROM mov WHERE m = 1
            UNION ALL SELECT nc FROM mov WHERE m = 1)),
        allc AS (
          SELECT DISTINCT cell FROM (
            SELECT oc AS cell FROM mov UNION ALL SELECT nc FROM mov)),
        pops AS (
          SELECT (SELECT MAX(cnt) FROM (
                    SELECT COUNT(*) AS cnt FROM asn_o GROUP BY cell))
                     AS stale_mp,
                 (SELECT MAX(cnt) FROM (
                    SELECT COUNT(*) AS cnt FROM asn_n GROUP BY cell))
                     AS reseeded_mp),
        cellstats AS (
          SELECT COUNT(*) AS n_cells,
                 SUM(CASE WHEN t.cell IS NOT NULL THEN 1 ELSE 0 END)
                     AS n_cells_touched,
                 SUM(CASE WHEN t.cell IS NULL THEN 1 ELSE 0 END)
                     AS n_cells_untouched
          FROM allc a LEFT JOIN touched t USING (cell)),
        rowstats AS (
          SELECT COUNT(*) AS n_vecs, SUM(m) AS n_movers,
                 SUM(CASE WHEN t.cell IS NOT NULL THEN 1 ELSE 0 END)
                     AS rows_rewritten,
                 SUM(CASE WHEN t.cell IS NULL THEN 1 ELSE 0 END)
                     AS rows_preserved
          FROM mov LEFT JOIN touched t ON mov.nc = t.cell)
        SELECT (SELECT a FROM adopt) AS adopted,
               CAST(r.n_vecs AS BIGINT) AS n_vecs,
               CAST(r.n_movers AS BIGINT) AS n_movers,
               CAST(p.stale_mp AS BIGINT) AS stale_max_pop,
               CAST(p.reseeded_mp AS BIGINT) AS reseeded_max_pop,
               CAST(c.n_cells AS BIGINT) AS n_cells,
               CAST(c.n_cells_touched AS BIGINT) AS n_cells_touched,
               CAST(c.n_cells_untouched AS BIGINT) AS n_cells_untouched,
               CAST(r.rows_rewritten AS BIGINT) AS rows_rewritten,
               CAST(r.rows_preserved AS BIGINT) AS rows_preserved,
               CAST(r.rows_preserved * 100 // r.n_vecs AS BIGINT)
                   AS pct_rows_preserved
        FROM rowstats r, cellstats c, pops p
        """


register(
    QuerySpec(
        "x269_locdrift_reindex_io",
        x269_locdrift_reindex_io,
        _x269_sql(),
        "localized-drift re-index ledger: one blob moves, migration executes, most rows provably preserved in place",
    )
)


# --- x291: flat-IVF search over a PERSISTED inverted-list store ----------------
# The third-decade serve probe (SFX100_PROBE, round 16) showed x21's
# warm serve ≈ its cold serve (29.8 vs 30.4 s at sfx10, 95.8 vs 107.8 s
# at sfx100): the registered x21 re-pays the ~n^1.25 two-level corpus
# assignment on EVERY call, which is the right shape for a one-shot
# query but not for a serving deployment — production IVF assigns the
# corpus once and every query touches only its probed lists.  x291 is
# that serving shape: the inverted lists persist once per source state
# (GATE_DIR store, partitioned by list id so a probe prunes whole
# partition directories), and the per-query cost drops to
# probe-broadcast + probed-list scan + rerank.  Results are identical
# by construction — the store is exactly ``two_level_lists``'s frame —
# so x21's REGISTERED oracle is reused verbatim (the anti-drift
# pattern: the serving path can never diverge from the one-shot op's
# contract without the gate seeing it).


def ivf_lists_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once persisted inverted lists (vec_id, list_c =
    partition): the materialized flat-IVF index.  Keyed on nlist + a
    token over the two-level routing constants + the source-data
    fingerprint, so a retune or regenerated testdata busts the cache."""

    def build(d: str) -> None:
        two_level_lists(spark, sf_dir).write.mode("overwrite").partitionBy(
            "list_c"
        ).parquet(d)

    tok = store_token("two-level-v1", IVF_N_CENTROIDS, IVF_K0_MIN)
    key = f"_nl{ivf_nlist(spark, sf_dir)}_r{tok}"
    return build_once(sf_dir, "ivf_lists", key, build)


def x291_ivf_persisted_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """x21's probe/scan/rerank over the PERSISTED list store: the
    corpus assignment is read, not recomputed — per-query work is a
    bounded probe broadcast against the list-partitioned scan plus the
    exact rerank, the serving economics the probe asked for.  One
    store build per source state, amortized across every query."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < ivf_nlist(spark, sf_dir)).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    lists = spark.read.parquet(ivf_lists_path(spark, sf_dir)).select(
        "vec_id", F.col("list_c").cast("long").alias("list_c")
    )
    corpus = emb.join(lists, "vec_id")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    qdist = queries.crossJoin(F.broadcast(cent)).select(
        "q_id",
        "c_id",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col("q_vec"),
                        F.col("c_vec"),
                        lambda x, y: (x.cast("double") - y.cast("double"))
                        * (x.cast("double") - y.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
            6,
        ).alias("dist"),
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("c_id"))
    probes = (
        qdist.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= IVF_N_PROBE)
        .select("q_id", F.col("c_id").alias("probe_c"))
    )
    cand = (
        corpus.join(F.broadcast(probes), corpus.list_c == probes.probe_c)
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(queries), "q_id")
    )
    scored = cand.select(
        "q_id",
        "vec_id",
        # dim=VEC_DIM unrolled-kernel opt-in TRIED here in r15 (plain
        # store columns — the one shape r14's probes said wins) and
        # REVERTED: paired probe 1.29 s (HOF) vs 2.75-2.92 s (unrolled)
        # — under bench conditions every run re-plans, and the unrolled
        # chain's codegen compile cost dwarfs the per-row win at this
        # candidate volume.  Steady-state serving with a REUSED plan is
        # still the opt-in's documented home; do not re-try per-run.
        cosine(F.col("q_vec"), F.col("embedding")).alias("cos_sim"),
    )
    w2 = Window.partitionBy("q_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 5)
        .select(
            "q_id",
            "vec_id",
            "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _register_x291() -> None:
    # x21 registers earlier in THIS module, so the lookup carries no
    # cross-module import-order dependency.
    from . import _REGISTRY

    register(
        QuerySpec(
            "x291_ivf_persisted_search",
            x291_ivf_persisted_search,
            _REGISTRY["x21_ivf_ann"].oracle,
            "flat-IVF serving shape: probed search over the persisted inverted-list store, x21's oracle verbatim",
        )
    )


_register_x291()
