"""Storage-layout operators — the 100 TB read-path evidence (VERDICT r3
ask #4): hive-partitioned multi-file scans with static partition pruning
(x96), bucketed co-located joins with no shuffle on the join key (x97),
distributed parquet-footer statistics reports (x98), and dynamic
partition pruning through a join (x100).

Why these are first-class queries rather than pytest-only: every other
fixture in the gate is one parquet file per table, so the paths a real
deployment lives on — partition directories, multi-file scans, bucket
files, footer stats — were previously asserted in plan tests but never
differential-checked. Each operator here materializes the layout it
needs from the driver's own testdata (deterministic content, cached
under the gate dir, rebuilt when absent) and is compared against a
DuckDB oracle over the ORIGINAL single-file table — so the layout
transformation itself is what the gate proves lossless.

The reference (`/root/reference/pyarrow/main.py`) writes exactly one
parquet object per invocation and has no partitioned/bucketed layout
surface; these operators are the at-scale output/read shapes the driver
mandates (repo:BASELINE.json north_star).

Scale notes:
- x96/x100 read a directory partitioned by event date: the scan's
  PartitionFilters (static in x96, DynamicPruningExpression in x100)
  skip whole directories before any IO — at 100 TB with date
  partitions, a one-week query reads ~0.2% of the files. Plan-asserted
  in tests/test_plans.py.
- x97 joins two tables bucketed (8 buckets) and sorted on the join key:
  both scans report the bucket spec, so the sort-merge join needs NO
  exchange on either side — the at-scale answer to "this fact-fact join
  shuffles 100 TB every night". Plan-asserted (zero Exchange under
  disabled-broadcast).
- x98 reads parquet FOOTERS, not data: a few KiB per file, distributed
  over the file list via Arrow-batched mapInPandas — the same metadata
  plane a table format's stats-based planner uses. The per-file work is
  IO-bound footer parsing; no data pages are touched.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from . import QuerySpec, register
from .helpers import SQL_DEC_SUM, dec_sum, inline_rows
from .store import build_once

# x98's oracle references a parquet file by literal path (DuckDB's
# parquet_metadata takes a filename, not a view), so the registered SQL
# must point at the SAME sf dir the harness runs Spark at. The driver
# gate runs at sf0.01 with no env; the repo's parity mirror exports the
# dir it uses (tests/conftest.py) before first registry import.
ORACLE_FILE_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_FILE_DIR", "/root/testdata/sf0.01"
)

# x96/x100 filter constants — shared between the Spark side and the SQL
# oracle so a retune moves both (ADVICE r3 pattern).
PRUNE_LO, PRUNE_HI = "2024-01-08", "2024-01-14"
DPP_USER, DPP_TYPE = 7, "purchase"


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")


def events_partitioned_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf) the events table as a hive-partitioned,
    multi-file parquet layout: ``.../d=YYYY-MM-DD/part-*.parquet``.

    ``repartition("d")`` co-locates each date's rows in one task so each
    partition directory gets ONE well-sized file — the layout a daily
    ingest job produces — instead of tasks × dates tiny files (the
    small-files failure mode). Content is deterministic (derived from
    the driver's testdata), so it is a build-once store keyed on the
    events fingerprint."""

    def build(d: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        (
            ev.withColumn("d", F.date_format("ts", "yyyy-MM-dd"))
            .withColumn("ts_us", F.unix_micros("ts"))
            .drop("ts")  # helpers rule 4: no raw timestamps past this point
            .repartition("d")
            .write.mode("overwrite")
            .partitionBy("d")
            .parquet(d)
        )

    return build_once(sf_dir, "events_part", "", build, "events")


# --- x96: static partition pruning over a hive layout ------------------------
def x96_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-week rollup over date-partitioned events: the ``d`` predicate
    is a PARTITION filter — whole directories outside the window are
    skipped at planning time, before any file IO (PartitionFilters
    non-empty, plan-asserted). The oracle recomputes the same week from
    the original unpartitioned table, proving the partitioned rewrite
    lossless."""
    ev = spark.read.parquet(events_partitioned_path(spark, sf_dir))
    # Partition-column type inference reads 'YYYY-MM-DD' back as DATE;
    # the filter stays on the raw column (so it lands in
    # PartitionFilters) and only the OUTPUT is cast to string (helpers
    # rule 4).
    return (
        ev.filter((F.col("d") >= PRUNE_LO) & (F.col("d") <= PRUNE_HI))
        .withColumn("d", F.col("d").cast("string"))
        .groupBy("d", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dec_sum("value", "sum_value"),
        )
        .orderBy("d", "event_type")
    )


register(
    QuerySpec(
        "x96_partition_prune",
        x96_partition_prune,
        f"""
        SELECT strftime(ts, '%Y-%m-%d') AS d, event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               {SQL_DEC_SUM.format(x='value')} AS sum_value
        FROM events
        WHERE strftime(ts, '%Y-%m-%d') BETWEEN '{PRUNE_LO}' AND '{PRUNE_HI}'
        GROUP BY 1, 2
        ORDER BY d, event_type
        """,
        "hive-partitioned multi-file scan with static partition pruning",
    )
)


# --- x97: bucketed co-located join -------------------------------------------
N_BUCKETS = 8


def _bucketed_table(
    spark: SparkSession, df: DataFrame, name: str, key: str
) -> DataFrame:
    """(Re)write ``df`` as a parquet table bucketed+sorted on ``key`` via
    ``operators.bucketing.write_bucketed`` (which also clears a stale
    warehouse location a previous session may have left). Bucket files
    are the co-location contract: bucket i of table A joins only bucket
    i of table B."""
    from ..operators.bucketing import write_bucketed

    write_bucketed(df, name, [key], n_buckets=N_BUCKETS, sort_cols=[key])
    return spark.table(name)


def x97_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem with BOTH sides bucketed (and sorted) on the
    order key: the sort-merge join consumes the bucket layout directly —
    zero exchange, zero sort on either side (plan-asserted with
    broadcast disabled). At 100 TB this is the difference between a
    nightly full-fact shuffle and none at all; the bucketed write is
    paid once at ingest."""
    tag = _sf_tag(sf_dir)
    orders = _bucketed_table(
        spark,
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ),
        f"x97_orders_{tag}",
        "o_orderkey",
    )
    lineitem = _bucketed_table(
        spark,
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        f"x97_lineitem_{tag}",
        "l_orderkey",
    )
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
            ),
        )
        .orderBy("o_orderpriority")
    )


register(
    QuerySpec(
        "x97_bucketed_join",
        x97_bucketed_join,
        f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_items,
               {SQL_DEC_SUM.format(x='l_extendedprice * (1.0 - l_discount)')}
                   AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        "bucket-co-located orders⋈lineitem: shuffle-free sort-merge join",
    )
)


# --- x98: distributed parquet-footer statistics report -----------------------
STATS_COLUMNS = ("event_id", "user_id")  # BIGINT min/max stringify identically

_X98_SCHEMA = (
    "file string, column_name string, row_group long, num_values long, "
    "null_count long, min_v long, max_v long"
)


def x98_parquet_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group min/max/null statistics for the events table, read from
    parquet FOOTERS only — the metadata a stats-based planner (and the
    z-order pass, operators/zorder.py) prunes with. The file list fans
    out over the cluster and each task parses just its footers via
    Arrow-batched mapInPandas: no data pages are read, so the cost at
    100 TB is (#files × ~KiB), not the table size. Oracle: DuckDB's
    parquet_metadata() over the same file."""
    # Defensive parity guard (VERDICT r4 ask #6): the registered oracle
    # SQL embeds ORACLE_FILE_DIR as a literal path (frozen at module
    # import), so if a harness hands the Spark side a DIFFERENT sf_dir
    # the differential would silently compare two directories. Fail
    # loudly instead — re-rooted harnesses must export
    # SPARK_GRAFT_ORACLE_FILE_DIR before first registry import.
    if os.path.normpath(sf_dir) != os.path.normpath(ORACLE_FILE_DIR):
        raise ValueError(
            f"x98 oracle is pinned to {ORACLE_FILE_DIR!r} but the Spark "
            f"side received sf_dir={sf_dir!r}; export "
            "SPARK_GRAFT_ORACLE_FILE_DIR to match before importing the "
            "registry"
        )
    path = os.path.join(sf_dir, "events.parquet")
    files = sorted(_glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(
        path
    ) else [path]

    def read_footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                for col in STATS_COLUMNS:
                    for g in range(md.num_row_groups):
                        chunk = md.row_group(g).column(idx[col])
                        st = chunk.statistics
                        rows.append(
                            {
                                "file": os.path.basename(p),
                                "column_name": col,
                                "row_group": g,
                                # chunk.num_values counts nulls too — the
                                # same total DuckDB's parquet_metadata
                                # reports
                                "num_values": chunk.num_values,
                                "null_count": st.null_count,
                                "min_v": int(st.min),
                                "max_v": int(st.max),
                            }
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file",
                    "column_name",
                    "row_group",
                    "num_values",
                    "null_count",
                    "min_v",
                    "max_v",
                ],
            )

    file_df = inline_rows(spark, [(f,) for f in files], "path string")
    return (
        file_df.repartition(min(len(files), 32))
        .mapInPandas(read_footers, _X98_SCHEMA)
        .orderBy("file", "column_name", "row_group")
    )


register(
    QuerySpec(
        "x98_parquet_stats_report",
        x98_parquet_stats_report,
        # The oracle pins the driver's sf0.01 dir: oracle SQL is a static
        # string, and the driver always differentials at sf0.01 (same
        # convention as the gate-fixture paths in streaming_gate.py).
        f"""
        SELECT regexp_extract(file_name, '[^/]+$') AS file,
               path_in_schema AS column_name,
               CAST(row_group_id AS BIGINT) AS row_group,
               CAST(num_values AS BIGINT) AS num_values,
               CAST(stats_null_count AS BIGINT) AS null_count,
               CAST(stats_min_value AS BIGINT) AS min_v,
               CAST(stats_max_value AS BIGINT) AS max_v
        FROM parquet_metadata('{ORACLE_FILE_DIR}/events.parquet')
        WHERE path_in_schema IN ('event_id', 'user_id')
        ORDER BY file, column_name, row_group
        """,
        "distributed parquet-footer stats scan (metadata plane, no data IO)",
    )
)


# --- x100: dynamic partition pruning through a join --------------------------
def x100_dynamic_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day event counts restricted to the days one user made a
    purchase — the dim side is a runtime-derived set of dates, so the
    partition filter on the fact scan can only be installed DYNAMICALLY
    (DynamicPruningExpression from the broadcast dim; plan-asserted).
    This is the 100 TB join feature: the fact side skips every date
    directory the dim's filter eliminated, at run time, with no manual
    predicate copying."""
    part_path = events_partitioned_path(spark, sf_dir)
    fact = spark.read.parquet(part_path)
    dim = (
        spark.read.parquet(part_path)
        .filter((F.col("user_id") == DPP_USER) & (F.col("event_type") == DPP_TYPE))
        .select("d")
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "d")
        .withColumn("d", F.col("d").cast("string"))  # DATE-inferred → string out
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("d")
    )


register(
    QuerySpec(
        "x100_dynamic_partition_prune",
        x100_dynamic_partition_prune,
        f"""
        WITH dim AS (
          SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS d
          FROM events
          WHERE user_id = {DPP_USER} AND event_type = '{DPP_TYPE}')
        SELECT e.d, COUNT(*) AS n_events, COUNT(DISTINCT e.user_id) AS n_users
        FROM (SELECT strftime(ts, '%Y-%m-%d') AS d, user_id FROM events) e
        JOIN dim ON e.d = dim.d
        GROUP BY e.d
        ORDER BY e.d
        """,
        "dynamic partition pruning: fact partitions skipped via runtime dim set",
    )
)


# --- x105: schema-evolution scan (mergeSchema across file generations) -------
# A long-lived ingest adds columns over time; the table's files then have
# HETEROGENEOUS footers. Spark's mergeSchema read unions them (missing
# columns become null per file) — the read path every production lake
# needs and none of the single-schema fixtures exercise. Generation
# split: even order keys were written before `o_orderpriority` existed.
EVOLVE_SPLIT_MOD = 2


def orders_evolved_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per sf) orders as a two-generation parquet dir:
    gen=1 files lack the later-added ``o_orderpriority`` column, gen=2
    files carry it. Timestamp columns are excluded so the fixture is
    byte-stable across writer sessions (helpers rule 4)."""

    def build(d: str) -> None:
        od = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority",
        )
        gen1 = od.filter(F.col("o_orderkey") % EVOLVE_SPLIT_MOD == 0).drop(
            "o_orderpriority"
        )
        gen2 = od.filter(F.col("o_orderkey") % EVOLVE_SPLIT_MOD != 0)
        gen1.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "gen=1"))
        gen2.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "gen=2"))

    return build_once(sf_dir, "orders_evolved", "", build, "orders")


def x105_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the two-generation layout via mergeSchema: the scan
    unions the per-file schemas, so gen-1 rows surface a NULL
    o_orderpriority while gen-2 rows keep theirs — proving old and new
    files stay queryable as one table with no rewrite. The oracle
    recomputes from the ORIGINAL single-schema table with the split rule
    applied as a CASE, so the layout transformation is what's checked.

    At 100 TB, footer-schema merging is a planning-time cost over file
    METADATA (and is skipped entirely when a catalog pins the merged
    schema); no data pages are read twice."""
    od = spark.read.option("mergeSchema", "true").parquet(
        orders_evolved_path(spark, sf_dir)
    )
    return (
        od.groupBy(F.col("gen").cast("long").alias("gen"), "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderpriority").alias("n_priority"),
            F.countDistinct("o_orderpriority").alias("n_distinct_priority"),
            dec_sum("o_totalprice", "sum_price"),
        )
        .orderBy("gen", "o_orderstatus")
    )


register(
    QuerySpec(
        "x105_schema_evolution",
        x105_schema_evolution,
        f"""
        WITH evolved AS (
          SELECT CASE WHEN o_orderkey % {EVOLVE_SPLIT_MOD} = 0
                      THEN 1 ELSE 2 END AS gen,
                 o_orderstatus,
                 CASE WHEN o_orderkey % {EVOLVE_SPLIT_MOD} = 0
                      THEN NULL ELSE o_orderpriority END AS o_orderpriority,
                 o_totalprice
          FROM orders)
        SELECT CAST(gen AS BIGINT) AS gen, o_orderstatus,
               COUNT(*) AS n_rows,
               COUNT(o_orderpriority) AS n_priority,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
                   AS n_distinct_priority,
               {SQL_DEC_SUM.format(x='o_totalprice')} AS sum_price
        FROM evolved
        GROUP BY gen, o_orderstatus
        ORDER BY gen, o_orderstatus
        """,
        "mergeSchema scan across file generations: evolved column null-filled for old files",
    )
)


# --- x108: ORC source round-trip ---------------------------------------------
# Spark reads/writes ORC natively (the other big columnar lake format);
# DuckDB does not, so the oracle recomputes from the ORIGINAL parquet
# table — the round-trip through the ORC writer+reader is what the gate
# proves lossless (same pattern as x96's layout check). Timestamps are
# converted to epoch-micros before the write so the fixture is
# byte-stable and engine-neutral (helpers rule 4).


def events_orc_path(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        (
            ev.withColumn("ts_us", F.unix_micros("ts"))
            .drop("ts")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .orc(d)
        )

    return build_once(sf_dir, "events_orc", "", build, "events")


def x108_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate the events table from its ORC copy: per event type,
    count, distinct users, value sum, and the min/max event timestamp in
    epoch-micros. Any loss or type drift introduced by the ORC
    round-trip (encoding, compression, predicate types) diffs against
    the parquet-derived oracle."""
    ev = spark.read.orc(events_orc_path(spark, sf_dir))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dec_sum("value", "sum_value"),
            F.min("ts_us").alias("min_ts_us"),
            F.max("ts_us").alias("max_ts_us"),
        )
        .orderBy("event_type")
    )


register(
    QuerySpec(
        "x108_orc_roundtrip",
        x108_orc_roundtrip,
        f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               {SQL_DEC_SUM.format(x='value')} AS sum_value,
               MIN(epoch_us(ts)) AS min_ts_us,
               MAX(epoch_us(ts)) AS max_ts_us
        FROM events
        GROUP BY event_type
        ORDER BY event_type
        """,
        "ORC write+read round-trip of the events table, diffed against parquet",
    )
)


# --- x138: equi-depth histogram statistics (the ANALYZE primitive) -----------
HIST_BUCKETS = 8


def x138_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-statistics collection, the ANALYZE primitive: an
    equi-depth histogram of lineitem.l_quantity.  Built the scalable
    way — ONE value-keyed count over the fact (distinct-value-sized
    output), then bucket boundaries assigned on the aggregated frame by
    cumulative-count arithmetic: bucket(v) = floor(rows_before(v)·B/n).
    The corpus-sized work is a single aggregation; the planning window
    runs over ≤ |distinct values| rows — the same aggregate-then-plan
    shape as the x128 budget sweep, and exactly how a warehouse ANALYZE
    builds stats without sorting the table."""
    li = load_table(spark, sf_dir, "lineitem")
    hist = (
        li.select(F.col("l_quantity").cast("long").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    total = hist.agg(F.sum("cnt").cast("long").alias("n"))
    bucketed = (
        hist.withColumn("cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
        .crossJoin(F.broadcast(total))
        .select(
            F.floor(F.col("cum_before") * HIST_BUCKETS / F.col("n"))
            .cast("long")
            .alias("bucket"),
            "v",
            "cnt",
        )
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
        )
        .orderBy("bucket")
    )


register(
    QuerySpec(
        "x138_equidepth_histogram",
        x138_equidepth_histogram,
        f"""
        WITH h AS (
          SELECT CAST(l_quantity AS BIGINT) AS v, COUNT(*) AS cnt
          FROM lineitem GROUP BY 1),
        t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h),
        b AS (
          SELECT CAST(FLOOR(COALESCE(SUM(cnt) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      * {HIST_BUCKETS} / (SELECT n FROM t)) AS BIGINT) AS bucket,
                 v, cnt
          FROM h)
        SELECT bucket, MIN(v) AS lo, MAX(v) AS hi,
               CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM b GROUP BY 1 ORDER BY bucket
        """,
        "equi-depth histogram stats via aggregate-then-plan (no table sort)",
    )
)


# --- x139: histogram join-cardinality estimate vs truth ----------------------
def x139_join_cardinality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good are x138's histogram statistics for join planning: for
    an equi-join on l_quantity between two halves of lineitem (orderkey
    parity, standing in for two tables), compare the optimizer-style
    per-bucket estimate n_a·n_b / max(d_a, d_b) (uniformity assumption)
    against the TRUE join cardinality Σ_v cnt_a(v)·cnt_b(v) — computed
    from the value histograms directly, so the truth costs one
    aggregation, not an actual join.  The selectivity-estimation
    evaluation an optimizer team runs before trusting stats; everything
    beyond the first value-keyed count runs on the ≤ distinct-value
    frame."""
    li = load_table(spark, sf_dir, "lineitem")
    hist = (
        li.select(
            (F.col("l_orderkey") % 2 == 0).alias("is_a"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .groupBy("v")
        .agg(
            F.sum(F.col("is_a").cast("long")).cast("long").alias("ca"),
            F.sum((~F.col("is_a")).cast("long")).cast("long").alias("cb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    total = hist.agg(F.sum(F.col("ca") + F.col("cb")).cast("long").alias("n"))
    bucketed = (
        hist.withColumn(
            "cum_before", F.coalesce(F.sum(F.col("ca") + F.col("cb")).over(w), F.lit(0))
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.floor(F.col("cum_before") * HIST_BUCKETS / F.col("n"))
            .cast("long")
            .alias("bucket"),
            "v",
            "ca",
            "cb",
        )
    )
    per_bucket = bucketed.groupBy("bucket").agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum((F.col("ca") > 0).cast("long")).cast("long").alias("da"),
        F.sum((F.col("cb") > 0).cast("long")).cast("long").alias("db"),
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("actual_rows"),
    )
    est = F.floor(
        F.col("na") * F.col("nb") / F.greatest(F.col("da"), F.col("db"))
    ).cast("long")
    return (
        per_bucket.select(
            "bucket",
            "na",
            "nb",
            est.alias("est_rows"),
            "actual_rows",
            F.round(
                (est - F.col("actual_rows")).cast("double")
                / F.col("actual_rows").cast("double"),
                6,
            ).alias("rel_error"),
        )
        .orderBy("bucket")
    )


register(
    QuerySpec(
        "x139_join_cardinality_eval",
        x139_join_cardinality_eval,
        f"""
        WITH h AS (
          SELECT CAST(l_quantity AS BIGINT) AS v,
                 CAST(SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS ca,
                 CAST(SUM(CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT)
                     AS cb
          FROM lineitem GROUP BY 1),
        t AS (SELECT CAST(SUM(ca + cb) AS BIGINT) AS n FROM h),
        b AS (
          SELECT CAST(FLOOR(COALESCE(SUM(ca + cb) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      * {HIST_BUCKETS} / (SELECT n FROM t)) AS BIGINT) AS bucket,
                 v, ca, cb
          FROM h),
        p AS (
          SELECT bucket,
                 CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
                 CAST(SUM(CASE WHEN ca > 0 THEN 1 ELSE 0 END) AS BIGINT) AS da,
                 CAST(SUM(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS db,
                 CAST(SUM(ca * cb) AS BIGINT) AS actual_rows
          FROM b GROUP BY 1)
        SELECT bucket, na, nb,
               CAST(FLOOR(na * nb / CAST(greatest(da, db) AS DOUBLE)) AS BIGINT)
                   AS est_rows,
               actual_rows,
               ROUND((CAST(FLOOR(na * nb / CAST(greatest(da, db) AS DOUBLE)) AS BIGINT)
                      - actual_rows) / CAST(actual_rows AS DOUBLE), 6) AS rel_error
        FROM p ORDER BY bucket
        """,
        "histogram-based join cardinality estimate vs exact (selectivity eval)",
    )
)


# --- x149: hidden _metadata file audit ---------------------------------------
def x149_file_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout audit through Spark's hidden ``_metadata`` file
    column: per date partition of the x96 layout, how many rows and how
    many DISTINCT physical files serve them.  ``repartition("d")``
    guarantees exactly one file per partition directory (the layout
    invariant a daily ingest must keep to avoid the small-files failure
    mode), so the oracle is closed-form: original per-day counts with
    n_files = 1.  If a layout change ever splinters a partition into
    multiple files, this gate row is what breaks.  The ``_metadata``
    access costs nothing extra — the file path rides along with each
    scan task; no listing job, no footer reads."""
    ev = spark.read.parquet(events_partitioned_path(spark, sf_dir))
    return (
        ev.select(
            F.col("d").cast("string").alias("d"),
            F.col("_metadata.file_path").alias("fp"),
        )
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("fp").cast("long").alias("n_files"),
        )
        .orderBy("d")
    )


register(
    QuerySpec(
        "x149_file_metadata_audit",
        x149_file_metadata_audit,
        """
        SELECT strftime(ts, '%Y-%m-%d') AS d, COUNT(*) AS n_rows,
               CAST(1 AS BIGINT) AS n_files
        FROM events GROUP BY 1 ORDER BY d
        """,
        "per-partition row/file audit via the hidden _metadata column",
    )
)


# --- x170: small-files compaction planner ------------------------------------
COMPACT_TARGET_ROWS = 1_500  # rows per compacted output file


def _compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared next-fit date-bin assignment for the OPTIMIZE plan (x170)
    and its execution (x265's compacted store): one row per date with
    (d, n_files, n_rows, bin).  Rows and the physical file count come
    from the actual layout via the hidden ``_metadata`` column (the
    x149 plumbing — no listing job); the bin is next-fit over the
    CUMULATIVE PER-DATE row counts in date order.  One helper so the
    plan and the rewrite cannot disagree by construction (code-review
    r12: the previous per-file/per-date split coincided only while the
    x149 one-file-per-date invariant held).  Metadata-plane frame: one
    row per distinct date, so the unpartitioned window is bounded by
    the date-spine size, not the corpus."""
    ev = spark.read.parquet(events_partitioned_path(spark, sf_dir))
    per_date = (
        ev.select(
            F.col("d").cast("string").alias("d"),
            F.col("_metadata.file_path").alias("fp"),
        )
        .groupBy("d")
        .agg(
            F.countDistinct("fp").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    return per_date.select(
        "d",
        "n_files",
        "n_rows",
        F.floor(
            F.coalesce(F.sum("n_rows").over(w), F.lit(0))
            / F.lit(COMPACT_TARGET_ROWS)
        )
        .cast("long")
        .alias("bin"),
    )


def x170_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse OPTIMIZE planning: bin-pack the date-partitioned event
    layout's files into compaction groups of ~COMPACT_TARGET_ROWS rows
    (next-fit in date order: a new bin starts when the running total
    crosses the target — deterministic, single window pass, no sort
    beyond the date spine).  Bin assignment comes from
    ``_compaction_bins`` — the SAME helper x265's rewrite consumes —
    so the executed layout is the planned layout by construction; the
    oracle recomputes the identical plan from the logical table.  At
    100 TB the input is a date-spine-sized frame (thousands of rows),
    not the data itself — the plan is metadata-plane work, and the
    expensive rewrite it schedules is exactly what the plan's bins
    bound."""
    binned = _compaction_bins(spark, sf_dir)
    return (
        binned.groupBy("bin")
        .agg(
            F.sum("n_files").cast("long").alias("n_files"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("d").alias("d_min"),
            F.max("d").alias("d_max"),
        )
        .orderBy("bin")
    )


register(
    QuerySpec(
        "x170_compaction_plan",
        x170_compaction_plan,
        f"""
        WITH per_file AS (
          SELECT strftime(ts, '%Y-%m-%d') AS d,
                 CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM events GROUP BY 1),
        binned AS (
          SELECT d, n_rows,
                 CAST(floor(COALESCE(SUM(n_rows) OVER (
                          ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) / {COMPACT_TARGET_ROWS}) AS BIGINT) AS bin
          FROM per_file)
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(n_rows) AS BIGINT) AS n_rows,
               MIN(d) AS d_min, MAX(d) AS d_max
        FROM binned GROUP BY bin ORDER BY bin
        """,
        "next-fit compaction bin plan over the partitioned layout's files",
    )
)


# --- x171: three-way bucket-co-located join ----------------------------------
def x171_bucketed_three_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three fact-grain tables — orders, lineitem, and an order-level
    returns rollup — ALL bucketed+sorted on the order key: the two
    sort-merge joins chain on the same bucket layout, so the entire
    3-way join runs with ZERO exchanges (plan-asserted with broadcast
    off). This is the x97 contract extended to the multi-join case that
    actually pays at 100 TB: one bucketed ingest amortizes across every
    order-keyed join in the workload, not just the first."""
    tag = _sf_tag(sf_dir)
    orders = _bucketed_table(
        spark,
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ),
        f"x171_orders_{tag}",
        "o_orderkey",
    )
    lineitem = _bucketed_table(
        spark,
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        ),
        f"x171_lineitem_{tag}",
        "l_orderkey",
    )
    returns = _bucketed_table(
        spark,
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .groupBy(F.col("l_orderkey").alias("r_orderkey"))
        .agg(F.count(F.lit(1)).alias("r_items")),
        f"x171_returns_{tag}",
        "r_orderkey",
    )
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(returns, orders.o_orderkey == returns.r_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                "revenue",
            ),
            F.sum("r_items").cast("long").alias("returned_items"),
        )
        .orderBy("o_orderpriority")
    )


register(
    QuerySpec(
        "x171_bucketed_three_way",
        x171_bucketed_three_way,
        f"""
        WITH returns AS (
          SELECT l_orderkey AS r_orderkey, CAST(COUNT(*) AS BIGINT) AS r_items
          FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1)
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               {SQL_DEC_SUM.format(x="l.l_extendedprice * (1.0 - l.l_discount)")}
                   AS revenue,
               CAST(SUM(r.r_items) AS BIGINT) AS returned_items
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN returns r ON o.o_orderkey = r.r_orderkey
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
        """,
        "zero-exchange 3-way join on one shared bucket layout",
    )
)


# --- x185: stats-based pruning planner ---------------------------------------
# Query ranges as exact fractions (numerator/denominator) of max(event_id)
# — shared with the oracle so a retune moves both sides.
PRUNE_RANGES = ((1, 10, 2, 10), (4, 10, 5, 10), (7, 10, 10, 10))


def x185_stats_pruning_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level pruning decisions, differential-checked: read each
    layout file's event_id min/max from its parquet FOOTER (the x98
    metadata plane), then for each query range decide which files a
    stats-based planner must scan (min ≤ hi AND max ≥ lo) and how many
    rows actually match — the (files_total, files_scanned, rows)
    triple an Iceberg/Delta-style manifest prune reports. The oracle
    recomputes per-date stats from the logical table (valid because the
    layout keeps one file per date partition — the x149 invariant).
    Footer pass cost ∝ #files; the decision pass runs on the
    file-count-sized stats frame."""
    layout = events_partitioned_path(spark, sf_dir)
    files = sorted(_glob.glob(os.path.join(layout, "d=*", "*.parquet")))

    def read_minmax(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                lo = hi = None
                n = 0
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(idx["event_id"]).statistics
                    lo = int(st.min) if lo is None else min(lo, int(st.min))
                    hi = int(st.max) if hi is None else max(hi, int(st.max))
                    n += md.row_group(g).num_rows
                rows.append(
                    {"path": p, "f_min": lo, "f_max": hi, "f_rows": n}
                )
            yield pd.DataFrame(rows, columns=["path", "f_min", "f_max", "f_rows"])

    file_df = inline_rows(spark, [(f,) for f in files], "path string")
    stats = file_df.repartition(min(len(files), 32)).mapInPandas(
        read_minmax, "path string, f_min long, f_max long, f_rows long"
    )
    max_id = stats.agg(F.max("f_max").alias("mx"))
    ev = spark.read.parquet(layout)
    preds = inline_rows(
        spark,
        [(i, *fr) for i, fr in enumerate(PRUNE_RANGES)],
        "pred_id long, lo_n long, lo_d long, hi_n long, hi_d long",
    )
    ranged = preds.crossJoin(F.broadcast(max_id)).select(
        "pred_id",
        # floor() before the integer cast (the x106 lesson: DuckDB's
        # double->int cast rounds, Spark's truncates)
        F.floor(F.col("mx") * F.col("lo_n") / F.col("lo_d")).cast("long").alias("lo"),
        F.floor(F.col("mx") * F.col("hi_n") / F.col("hi_d")).cast("long").alias("hi"),
    )
    decisions = (
        stats.crossJoin(F.broadcast(ranged))
        .groupBy("pred_id", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_files_total"),
            F.sum(
                ((F.col("f_min") <= F.col("hi")) & (F.col("f_max") >= F.col("lo")))
                .cast("long")
            )
            .cast("long")
            .alias("n_files_scanned"),
        )
    )
    matched = (
        ev.select(F.col("event_id"))
        .crossJoin(F.broadcast(ranged))
        .filter((F.col("event_id") >= F.col("lo")) & (F.col("event_id") <= F.col("hi")))
        .groupBy("pred_id")
        .agg(F.count(F.lit(1)).alias("rows_matched"))
    )
    return (
        decisions.join(matched, "pred_id", "left")
        .select(
            "pred_id",
            "lo",
            "hi",
            "n_files_total",
            "n_files_scanned",
            F.coalesce("rows_matched", F.lit(0)).cast("long").alias("rows_matched"),
        )
        .orderBy("pred_id")
    )


def _x185_sql() -> str:
    pred_rows = ", ".join(
        f"({i}, {ln}, {ld}, {hn}, {hd})"
        for i, (ln, ld, hn, hd) in enumerate(PRUNE_RANGES)
    )
    return f"""
        WITH per_file AS (
          SELECT strftime(ts, '%Y-%m-%d') AS d,
                 MIN(event_id) AS f_min, MAX(event_id) AS f_max,
                 COUNT(*) AS f_rows
          FROM events GROUP BY 1),
        mx AS (SELECT MAX(f_max) AS mx FROM per_file),
        preds(pred_id, lo_n, lo_d, hi_n, hi_d) AS (VALUES {pred_rows}),
        ranged AS (
          SELECT CAST(pred_id AS BIGINT) AS pred_id,
                 CAST(floor(mx.mx * lo_n / lo_d) AS BIGINT) AS lo,
                 CAST(floor(mx.mx * hi_n / hi_d) AS BIGINT) AS hi
          FROM preds CROSS JOIN mx),
        decisions AS (
          SELECT r.pred_id, r.lo, r.hi,
                 CAST(COUNT(*) AS BIGINT) AS n_files_total,
                 CAST(SUM(CASE WHEN f.f_min <= r.hi AND f.f_max >= r.lo
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_files_scanned
          FROM per_file f CROSS JOIN ranged r
          GROUP BY 1, 2, 3),
        matched AS (
          SELECT r.pred_id, CAST(COUNT(*) AS BIGINT) AS rows_matched
          FROM events e JOIN ranged r
            ON e.event_id >= r.lo AND e.event_id <= r.hi
          GROUP BY 1)
        SELECT d.pred_id, d.lo, d.hi, d.n_files_total, d.n_files_scanned,
               CAST(COALESCE(m.rows_matched, 0) AS BIGINT) AS rows_matched
        FROM decisions d LEFT JOIN matched m USING (pred_id)
        ORDER BY d.pred_id
        """


register(
    QuerySpec(
        "x185_stats_pruning_planner",
        x185_stats_pruning_planner,
        _x185_sql(),
        "footer-stats manifest pruning decisions vs actual matched rows",
    )
)


# --- x221: Z-order clustering vs linear sort — pruning effectiveness ----------
# Multi-dimensional clustering is how a 100 TB table serves range
# predicates on MORE THAN ONE column: interleaving the bits of two keys
# (the Z-order / Morton curve, the public Delta/Iceberg OPTIMIZE ZORDER
# technique) gives every file a tight min/max envelope on BOTH keys,
# where a linear sort gives tight stats on the first key only.  This
# operator SIMULATES both layouts over the same rows — 64 equal-width
# z-range files vs 64 first-key-sort files — computes the per-file
# footer stats a scan would prune on, and scores both against a 4×4
# grid of two-dimensional range predicates: files that must be read
# (stat envelopes intersecting the predicate box) and the true matched
# rows.  All arithmetic is integer (bucket widths and quartiles derived
# from the data via shared expressions), so the oracle is exact.
ZO_BITS = 6   # 64 buckets per key → 12-bit z-value
ZO_FILES_SHIFT = ZO_BITS  # top 6 z bits → 64 files
ZO_GRID = 4   # 4×4 predicate grid (quartile boxes)


def _zo_widths(spark: SparkSession, sf_dir: str) -> tuple[int, int, int, int]:
    """(bucket width, quartile width) per key — one bounded max agg."""
    li = load_table(spark, sf_dir, "lineitem")
    mx_pk, mx_sk = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    import math

    nb = 1 << ZO_BITS
    return (
        math.ceil((mx_pk + 1) / nb),
        math.ceil((mx_sk + 1) / nb),
        math.ceil((mx_pk + 1) / ZO_GRID),
        math.ceil((mx_sk + 1) / ZO_GRID),
    )


def _interleave(kb, sb):
    """12-bit Morton code from two 6-bit buckets (unrolled, JVM-side)."""
    z = F.lit(0)
    for i in range(ZO_BITS):
        z = z + F.shiftleft(
            F.shiftright(kb, i).bitwiseAND(F.lit(1)), 2 * i + 1
        ) + F.shiftleft(
            F.shiftright(sb, i).bitwiseAND(F.lit(1)), 2 * i
        )
    return z


def x221_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per predicate box (pk quarter × sk quarter): files a stats-pruned
    scan must read under the z-order layout vs the linear (partkey-sort)
    layout, plus the true matched row count.  Scale shapes: one scan
    computes both file ids row-locally (pure integer expressions, no
    shuffle); per-file stats are a key-shuffle agg (≤64 groups per
    layout); the predicate spine is a 16-row literal frame; row counts
    come from ONE grid-cell agg because the quartile boxes partition the
    key space — no per-predicate rescan."""
    wk, ws, qk, qs = _zo_widths(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    # EXACT integer division (`div`), matching the oracle's `//` by
    # construction — double-divide-then-cast could truncate differently
    # near representability limits (ADVICE r8).  Keys are non-negative,
    # so truncation and floor agree in both engines.
    kb = F.expr(f"l_partkey div {wk}")
    sb = F.expr(f"l_suppkey div {ws}")
    tagged = li.select(
        "l_partkey",
        "l_suppkey",
        F.shiftright(_interleave(kb, sb), ZO_FILES_SHIFT).alias("file_z"),
        kb.alias("file_lin"),
        F.expr(f"l_partkey div {qk}").alias("qi"),
        F.expr(f"l_suppkey div {qs}").alias("qj"),
    ).localCheckpoint()  # narrow scalars; three rollups share one scan

    def stats(file_col: str) -> DataFrame:
        return tagged.groupBy(file_col).agg(
            F.min("l_partkey").alias("pk_lo"),
            F.max("l_partkey").alias("pk_hi"),
            F.min("l_suppkey").alias("sk_lo"),
            F.max("l_suppkey").alias("sk_hi"),
        )

    preds = inline_rows(
        spark,
        [(i, j) for i in range(ZO_GRID) for j in range(ZO_GRID)],
        "qi long, qj long",
    ).select(
        "qi",
        "qj",
        (F.col("qi") * qk).alias("p_lo"),
        ((F.col("qi") + 1) * qk - 1).alias("p_hi"),
        (F.col("qj") * qs).alias("s_lo"),
        ((F.col("qj") + 1) * qs - 1).alias("s_hi"),
    )

    def files_read(st: DataFrame, out: str) -> DataFrame:
        hit = (
            (F.col("pk_lo") <= F.col("p_hi"))
            & (F.col("pk_hi") >= F.col("p_lo"))
            & (F.col("sk_lo") <= F.col("s_hi"))
            & (F.col("sk_hi") >= F.col("s_lo"))
        )
        return (
            st.crossJoin(F.broadcast(preds))
            .filter(hit)
            .groupBy("qi", "qj")
            .agg(F.count(F.lit(1)).alias(out))
        )

    rows = tagged.groupBy("qi", "qj").agg(
        F.count(F.lit(1)).alias("rows_matched")
    )
    return (
        preds.select("qi", "qj")
        .join(files_read(stats("file_z"), "files_read_z"), ["qi", "qj"], "left")
        .join(
            files_read(stats("file_lin"), "files_read_lin"), ["qi", "qj"], "left"
        )
        .join(rows, ["qi", "qj"], "left")
        .select(
            F.col("qi").cast("long").alias("qi"),
            F.col("qj").cast("long").alias("qj"),
            F.coalesce("files_read_z", F.lit(0)).cast("long").alias("files_read_z"),
            F.coalesce("files_read_lin", F.lit(0))
            .cast("long")
            .alias("files_read_lin"),
            F.coalesce("rows_matched", F.lit(0))
            .cast("long")
            .alias("rows_matched"),
        )
        .orderBy("qi", "qj")
    )


def _x221_sql() -> str:
    nb = 1 << ZO_BITS
    z_terms = " + ".join(
        f"((((l_partkey // wk) >> {i}) & 1) << {2 * i + 1})"
        f" + ((((l_suppkey // ws) >> {i}) & 1) << {2 * i})"
        for i in range(ZO_BITS)
    )
    return f"""
        WITH w AS (
          SELECT CAST(CEIL((MAX(l_partkey) + 1) / {nb}.0) AS BIGINT) AS wk,
                 CAST(CEIL((MAX(l_suppkey) + 1) / {nb}.0) AS BIGINT) AS ws,
                 CAST(CEIL((MAX(l_partkey) + 1) / {ZO_GRID}.0) AS BIGINT) AS qk,
                 CAST(CEIL((MAX(l_suppkey) + 1) / {ZO_GRID}.0) AS BIGINT) AS qs
          FROM lineitem),
        tagged AS MATERIALIZED (
          SELECT l_partkey, l_suppkey,
                 ({z_terms}) >> {ZO_FILES_SHIFT} AS file_z,
                 l_partkey // wk AS file_lin,
                 l_partkey // qk AS qi,
                 l_suppkey // qs AS qj
          FROM lineitem, w),
        stz AS (SELECT file_z, MIN(l_partkey) AS pk_lo, MAX(l_partkey) AS pk_hi,
                       MIN(l_suppkey) AS sk_lo, MAX(l_suppkey) AS sk_hi
                FROM tagged GROUP BY file_z),
        stl AS (SELECT file_lin, MIN(l_partkey) AS pk_lo, MAX(l_partkey) AS pk_hi,
                       MIN(l_suppkey) AS sk_lo, MAX(l_suppkey) AS sk_hi
                FROM tagged GROUP BY file_lin),
        preds AS (
          SELECT g.qi, g.qj, g.qi * qk AS p_lo, (g.qi + 1) * qk - 1 AS p_hi,
                 g.qj * qs AS s_lo, (g.qj + 1) * qs - 1 AS s_hi
          FROM (SELECT a.i AS qi, b.i AS qj
                FROM (SELECT unnest(range(0, {ZO_GRID})) AS i) a,
                     (SELECT unnest(range(0, {ZO_GRID})) AS i) b) g, w),
        fz AS (SELECT p.qi, p.qj, COUNT(*) AS files_read_z
               FROM stz s JOIN preds p
                 ON s.pk_lo <= p.p_hi AND s.pk_hi >= p.p_lo
                AND s.sk_lo <= p.s_hi AND s.sk_hi >= p.s_lo
               GROUP BY p.qi, p.qj),
        fl AS (SELECT p.qi, p.qj, COUNT(*) AS files_read_lin
               FROM stl s JOIN preds p
                 ON s.pk_lo <= p.p_hi AND s.pk_hi >= p.p_lo
                AND s.sk_lo <= p.s_hi AND s.sk_hi >= p.s_lo
               GROUP BY p.qi, p.qj),
        rc AS (SELECT qi, qj, COUNT(*) AS rows_matched
               FROM tagged GROUP BY qi, qj)
        SELECT p.qi, p.qj,
               CAST(COALESCE(fz.files_read_z, 0) AS BIGINT) AS files_read_z,
               CAST(COALESCE(fl.files_read_lin, 0) AS BIGINT) AS files_read_lin,
               CAST(COALESCE(rc.rows_matched, 0) AS BIGINT) AS rows_matched
        FROM preds p
        LEFT JOIN fz ON p.qi = fz.qi AND p.qj = fz.qj
        LEFT JOIN fl ON p.qi = fl.qi AND p.qj = fl.qj
        LEFT JOIN rc ON p.qi = rc.qi AND p.qj = rc.qj
        ORDER BY p.qi, p.qj
        """


register(
    QuerySpec(
        "x221_zorder_pruning",
        x221_zorder_pruning,
        _x221_sql(),
        "Z-order vs linear-sort layout: stats-pruned files per 2-D predicate box",
    )
)


# --- x265: small-files compaction EXECUTION -------------------------------------
# x170 emits the OPTIMIZE plan; this applies it (the round-13
# measure/decide→execute discipline, warehouse edition — what Delta's
# OPTIMIZE / Iceberg's rewrite_data_files actually do): the
# date-partitioned layout's files are physically rewritten into the
# plan's bins, ONE file per bin, and the gate proves content identity
# — per-bin row counts, date ranges, and an order-insensitive id
# digest — against the LOGICAL events table, which never sees the
# layout.  The plan↔layout coherence (one physical file per bin, bin
# row counts equal to x170's) is pinned engine-side by
# tests/test_round13_invariants.py; at sf0.01 the rewrite turns 30
# one-file-per-date files into 7 target-sized bins.


def compacted_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per source state) the compacted events layout:
    x170's next-fit date bins, one file per bin (``repartition("bin")``
    puts each bin's rows in exactly one task).  Path embeds the bin
    target + the events fingerprint (the GATE_DIR cache-keying
    invariant)."""

    def build(d: str) -> None:
        ev = spark.read.parquet(events_partitioned_path(spark, sf_dir))
        # The rewrite consumes the SAME bin assignment x170 plans with
        # (shared helper — plan and execution cannot disagree).
        bins = _compaction_bins(spark, sf_dir).select("d", "bin")
        (
            ev.withColumn("d", F.col("d").cast("string"))
            .join(F.broadcast(bins), "d")
            .repartition("bin")
            .write.mode("overwrite")
            .partitionBy("bin")
            .parquet(d)
        )

    return build_once(
        sf_dir, "events_cmp", f"_t{COMPACT_TARGET_ROWS}", build, "events"
    )


def x265_layout_compact_execute(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-bin content proof over the PHYSICALLY COMPACTED layout:
    (bin, n_rows, d_min, d_max, id_digest) where id_digest is the
    order-insensitive sum of md5-prefix integers of the bin's event
    ids (x118's cross-engine idiom).  The oracle recomputes the
    identical bins and digests from the LOGICAL events table — a hash
    match proves the rewrite moved every row into exactly its planned
    bin, losing and duplicating nothing.  Scale shapes: the bin
    assignment is metadata-plane (per-date counts + one window over a
    date-count-sized frame); the rewrite is one corpus pass paid once
    per source state (the store); the gate is a bin-keyed agg over
    narrow columns.  The digest accumulates in DECIMAL(38,0) and folds
    mod 2^62 at the end: a bin holds at least one whole date, and the
    sfx1 probe measured a plain BIGINT sum overflowing at ~33k rows
    per date (48-bit terms) — integer modulo of a non-negative decimal
    is engine-identical, so the fold keeps the digest exact AND
    bounded at any bin size."""
    ev = spark.read.parquet(compacted_events_path(spark, sf_dir))
    return _bin_content_proof(ev)


def _bin_content_proof(ev: DataFrame) -> DataFrame:
    """The per-bin content gate over any (event_id, d, bin, ...) frame
    — shared by x265 (the compacted store) and x272 (the
    policy-routed layout, either branch)."""
    digest = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 12), 16, 10
    ).cast("decimal(38,0)")
    return (
        ev.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("d").alias("d_min"),
            F.max("d").alias("d_max"),
            (F.sum(digest) % F.lit(2**62)).alias("id_digest"),
        )
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("n_rows").cast("long").alias("n_rows"),
            "d_min",
            "d_max",
            F.col("id_digest").cast("long").alias("id_digest"),
        )
        .orderBy("bin")
    )


_SQL_LAYOUT_BINS = f"""per_date AS (
          SELECT strftime(ts, '%Y-%m-%d') AS d,
                 CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM events GROUP BY 1),
        bins AS (
          SELECT d,
                 CAST(floor(COALESCE(SUM(n_rows) OVER (
                          ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING),
                        0) / {COMPACT_TARGET_ROWS}) AS BIGINT) AS bin
          FROM per_date)"""


register(
    QuerySpec(
        "x265_layout_compact_execute",
        x265_layout_compact_execute,
        f"""
        WITH {_SQL_LAYOUT_BINS}
        SELECT b.bin,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(strftime(e.ts, '%Y-%m-%d')) AS d_min,
               MAX(strftime(e.ts, '%Y-%m-%d')) AS d_max,
               CAST(SUM(CAST(('0x' || substring(
                        md5(CAST(e.event_id AS VARCHAR)), 1, 12))
                      AS BIGINT)) % {2**62} AS BIGINT) AS id_digest
        FROM events e
        JOIN bins b ON strftime(e.ts, '%Y-%m-%d') = b.d
        GROUP BY b.bin
        ORDER BY b.bin
        """,
        "OPTIMIZE executed: the compacted one-file-per-bin layout holds exactly the planned bins' content",
    )
)


# --- x271/x272: OPTIMIZE adoption policy + policy-routed layout serve ----------
# x170 plans the compaction and x265 executes it — but nothing encoded
# WHEN the rewrite is worth paying (the x231/x258/x266 integer-decide
# discipline, warehouse edition — what Delta's OPTIMIZE scheduling and
# Iceberg's rewrite_data_files file-count triggers actually gate on):
# a layout already near one file per target bin gains nothing from a
# corpus rewrite.  x271 adopts the compaction iff the file count is at
# least LAYOPT_NUM/LAYOPT_DEN times the planned bin count — a pure
# BIGINT comparison on metadata-plane numbers, the oracle re-making it
# from the logical table (under the x149 one-file-per-partition
# invariant the physical file count equals the date count, the same
# gate contract x170 already carries; the coupling is PINNED by
# tests/test_round14_invariants.py::
# test_x271_file_count_rests_on_x149_one_file_per_date, so a
# layout-writer change that breaks one-file-per-date names the broken
# invariant instead of surfacing as a confusing gate n_files diff).  x272 routes the SERVE through
# the decision: 'compact' reads x265's one-file-per-bin store, 'hold'
# reads the original partitioned layout with bins joined at read time
# (metadata broadcast, NO rewrite I/O) — and proves the served
# content is the planned bins' content either way (one hash, decision
# included).  Both branches invariant-tested; the hold branch is
# proven to never build the store (tests/test_round14_invariants.py).
LAYOPT_NUM = 2  # compact iff n_files ≥ 2 × n_bins (file-count trigger)
LAYOPT_DEN = 1

_SQL_LAYOPT_CASE = (
    f"CASE WHEN n_files * {LAYOPT_DEN} >= n_bins * {LAYOPT_NUM} "
    "THEN 'compact' ELSE 'hold' END"
)


def x271_layout_compact_policy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One row: (n_files, n_bins, thr_num, thr_den, decision) — the
    OPTIMIZE adoption rule as exact integers.  Scale shapes: the input
    is ``_compaction_bins``'s date-spine-sized frame (metadata-plane;
    the file inventory via the hidden ``_metadata`` column, no listing
    job) + one 1-row aggregate."""
    binned = _compaction_bins(spark, sf_dir)
    agg = binned.agg(
        F.sum("n_files").alias("n_files"),
        F.countDistinct("bin").alias("n_bins"),
    )
    return agg.select(
        F.col("n_files").cast("long").alias("n_files"),
        F.col("n_bins").cast("long").alias("n_bins"),
        F.lit(LAYOPT_NUM).cast("long").alias("thr_num"),
        F.lit(LAYOPT_DEN).cast("long").alias("thr_den"),
        F.when(
            F.col("n_files") * F.lit(LAYOPT_DEN)
            >= F.col("n_bins") * F.lit(LAYOPT_NUM),
            F.lit("compact"),
        )
        .otherwise(F.lit("hold"))
        .alias("decision"),
    )


register(
    QuerySpec(
        "x271_layout_compact_policy",
        x271_layout_compact_policy,
        f"""
        WITH {_SQL_LAYOUT_BINS},
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
                 CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_bins
          FROM bins)
        SELECT n_files, n_bins,
               CAST({LAYOPT_NUM} AS BIGINT) AS thr_num,
               CAST({LAYOPT_DEN} AS BIGINT) AS thr_den,
               {_SQL_LAYOPT_CASE} AS decision
        FROM agg
        """,
        "OPTIMIZE adoption policy: rewrite iff the file count is at least twice the planned bin count",
    )
)


def x272_policy_routed_layout_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """x265's per-bin content proof served THROUGH the layout x271's
    policy adopts, the decision named in the output: (decision, bin,
    n_rows, d_min, d_max, id_digest).  'compact' scans the
    one-file-per-bin store (building it on first serve — the routed
    execute); 'hold' scans the ORIGINAL partitioned layout with bins
    joined at read time (a date-spine broadcast — no rewrite I/O is
    ever paid, which is the point of deciding).  The oracle re-makes
    the integer decision and computes the bins' content from the
    logical table — one hash proves decision and served content agree
    cross-engine.  Scale shapes: the decision is metadata-plane; each
    branch is one layout scan + a bin-keyed agg."""
    decision = (
        x271_layout_compact_policy(spark, sf_dir).collect()[0].decision
    )  # 1-row bounded decision (the x235 pattern)
    if decision == "compact":
        ev = spark.read.parquet(compacted_events_path(spark, sf_dir))
    else:
        bins = _compaction_bins(spark, sf_dir).select("d", "bin")
        ev = (
            spark.read.parquet(events_partitioned_path(spark, sf_dir))
            .withColumn("d", F.col("d").cast("string"))
            .join(F.broadcast(bins), "d")
        )
    return _bin_content_proof(ev).select(
        F.lit(decision).alias("decision"),
        "bin",
        "n_rows",
        "d_min",
        "d_max",
        "id_digest",
    )


register(
    QuerySpec(
        "x272_policy_routed_layout_serve",
        x272_policy_routed_layout_serve,
        f"""
        WITH {_SQL_LAYOUT_BINS},
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
                 CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_bins
          FROM bins),
        dec AS (SELECT {_SQL_LAYOPT_CASE} AS decision FROM agg)
        SELECT (SELECT decision FROM dec) AS decision,
               b.bin,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               MIN(strftime(e.ts, '%Y-%m-%d')) AS d_min,
               MAX(strftime(e.ts, '%Y-%m-%d')) AS d_max,
               CAST(SUM(CAST(('0x' || substring(
                        md5(CAST(e.event_id AS VARCHAR)), 1, 12))
                      AS BIGINT)) % {2**62} AS BIGINT) AS id_digest
        FROM events e
        JOIN bins b ON strftime(e.ts, '%Y-%m-%d') = b.d
        GROUP BY b.bin
        ORDER BY b.bin
        """,
        "policy-routed layout serve: the planned bins' content through whichever physical layout the OPTIMIZE policy adopts",
    )
)


# --- x273/x274: INCREMENTAL OPTIMIZE on append ----------------------------------
# x265 proves the full rewrite; production warehouses pay that once and
# then maintain the layout INCREMENTALLY as ingest appends new
# partitions (Delta OPTIMIZE / Iceberg rewrite_data_files only touch
# files the new data affects).  Here the append is the last
# EVENTS_APPEND_DATES distinct dates of the events table (a
# deterministic date-spine split both engines derive identically, the
# x252 base⊎delta idiom applied to the layout): phase 1 compacts the
# BASE date prefix into its next-fit bins; phase 2 merges the appended
# dates by rewriting ONLY the bins any appended date lands in (the last
# base bin iff it was not yet full, plus the new tail bins — dynamic
# partition overwrite, x227's machinery), leaving every earlier bin's
# files physically byte-identical (tests/test_round14_invariants.py).
# The next-fit rule makes this exact, not approximate: base dates form
# a date-order PREFIX, so full-corpus binning restricted to the prefix
# IS the prefix's own binning — bins and content of untouched bins are
# bit-equal to the full rewrite's, which is why x273 can be gated
# against x265's registered oracle VERBATIM (the x264 anti-drift
# pattern: a hash match proves the incremental maintenance produced
# exactly the layout the full OPTIMIZE would).  x274 is the integer
# I/O ledger (x232/x257/x261's framing): at 100 TB the append touches
# O(appended data) bins while the preserved prefix — the overwhelming
# majority — is never read or written.
EVENTS_APPEND_DATES = 3


def _event_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, n_rows, n_files, bin, rn, n_dates): the full layout's
    date spine with next-fit bins and a date-order row number —
    metadata-plane (one row per distinct date)."""
    binned = _compaction_bins(spark, sf_dir)
    w = Window.orderBy("d")
    return binned.withColumn("rn", F.row_number().over(w)).crossJoin(
        F.broadcast(binned.agg(F.count(F.lit(1)).alias("n_dates")))
    )


def _inc_write_base(
    spark: SparkSession,
    sf_dir: str,
    dest: str,
    appended_dates: "DataFrame | None" = None,
) -> None:
    """Phase 1 — the base-prefix OPTIMIZE: all but the last
    EVENTS_APPEND_DATES dates (or all dates not in ``appended_dates``
    when the streaming twin supplies the manifest) compacted into
    their next-fit bins, one file per bin.  The base slice's bins are
    computed over the full spine (prefix binning == full binning
    restricted to the prefix, by the next-fit rule)."""
    import os

    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return
    spine = _event_date_spine(spark, sf_dir)
    if appended_dates is None:
        base_bins = spine.filter(
            F.col("rn") <= F.col("n_dates") - EVENTS_APPEND_DATES
        ).select("d", "bin")
    else:
        base_bins = spine.join(
            F.broadcast(appended_dates.select("d").distinct()),
            "d",
            "left_anti",
        ).select("d", "bin")
    ev = spark.read.parquet(events_partitioned_path(spark, sf_dir))
    (
        ev.withColumn("d", F.col("d").cast("string"))
        .join(F.broadcast(base_bins), "d")
        .repartition("bin")
        .write.mode("overwrite")
        .partitionBy("bin")
        .parquet(dest)
    )


def _inc_append_merge(
    spark: SparkSession,
    sf_dir: str,
    dest: str,
    appended_dates: "DataFrame | None" = None,
) -> None:
    """Phase 2 — the append merged in: rewrite exactly the bins any
    appended date lands in (dynamic partition overwrite carrying those
    bins' FULL-corpus content); every other bin's files stay
    byte-identical.  The touched list is a ≤EVENTS_APPEND_DATES-row
    collect — bounded spine metadata.  ``appended_dates(d)`` lets the
    STREAMING twin (x275, whose append manifest arrives as drained
    micro-batch partials) merge through byte-for-byte this code path;
    the batch rule (the spine's last EVENTS_APPEND_DATES dates) is the
    default."""
    import os

    marker = os.path.join(dest, "_APPENDED")
    if os.path.exists(marker):
        return
    spine = _event_date_spine(spark, sf_dir)
    if appended_dates is None:
        app = spine.filter(
            F.col("rn") > F.col("n_dates") - EVENTS_APPEND_DATES
        )
    else:
        app = spine.join(
            F.broadcast(appended_dates.select("d").distinct()), "d"
        )
    touched = sorted(
        {r.bin for r in app.select("bin").distinct().collect()}
    )
    if touched:
        bins = spine.select("d", "bin").filter(F.col("bin").isin(touched))
        ev = spark.read.parquet(events_partitioned_path(spark, sf_dir))
        (
            ev.withColumn("d", F.col("d").cast("string"))
            .join(F.broadcast(bins), "d")
            .repartition("bin")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bin")
            .parquet(dest)
        )
    with open(marker, "w"):
        pass


def incremental_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per source state) the incrementally-maintained
    OPTIMIZE layout: base-prefix compaction + append-touched-bins-only
    merge.  Path embeds the bin target, the append-split constant, and
    the events fingerprint (the GATE_DIR cache-keying invariant)."""

    def build(d: str) -> None:
        _inc_write_base(spark, sf_dir, d)
        _inc_append_merge(spark, sf_dir, d)

    key = f"_t{COMPACT_TARGET_ROWS}_a{EVENTS_APPEND_DATES}"
    return build_once(sf_dir, "events_inc", key, build, "events")


def x273_append_optimize_execute(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """x265's per-bin content proof over the INCREMENTALLY maintained
    layout: the base prefix compacted once, the append merged by
    rewriting only its touched bins — and the result must hash-match
    the FULL OPTIMIZE's oracle verbatim (registered with x265's SQL,
    the x264 anti-drift pattern), proving incremental maintenance and
    the full rewrite produce the identical layout content.  Scale
    shapes: both phases are one layout scan + a bin-partitioned write
    each, paid once per source state; the gate is x265's bin-keyed
    agg; at 100 TB the append path rewrites O(appended data) bins
    while the preserved prefix is never read."""
    ev = spark.read.parquet(incremental_events_path(spark, sf_dir))
    return _bin_content_proof(ev)


def _register_x273() -> None:
    from . import _REGISTRY

    register(
        QuerySpec(
            "x273_append_optimize_execute",
            x273_append_optimize_execute,
            _REGISTRY["x265_layout_compact_execute"].oracle,
            "incremental OPTIMIZE: base prefix + append-touched-bins-only merge == the full rewrite, bin for bin",
        )
    )


_register_x273()


def x274_append_optimize_io(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One row of exact integers — the append merge's I/O ledger:
    dates appended, bins rewritten vs preserved in place, layout rows
    rewritten vs preserved, and the integer percentages.  Scale
    shapes: the whole ledger is spine metadata (one row per distinct
    date) + 1-row aggregates — nothing corpus-sized is read to know
    the cost BEFORE paying it (x232/x257/x261's point, warehouse
    edition)."""
    spine = _event_date_spine(spark, sf_dir)
    flagged = spine.select(
        "d",
        "bin",
        "n_rows",
        (F.col("rn") > F.col("n_dates") - EVENTS_APPEND_DATES)
        .cast("long")
        .alias("appended"),
    )
    hot = flagged.groupBy("bin").agg(
        F.max("appended").alias("hot"), F.sum("n_rows").alias("bin_rows")
    )
    return (
        flagged.agg(
            F.count(F.lit(1)).alias("n_dates"),
            F.sum("appended").alias("n_dates_appended"),
        )
        .crossJoin(
            hot.agg(
                F.count(F.lit(1)).alias("n_bins"),
                F.sum("hot").alias("bins_rewritten"),
                F.sum(1 - F.col("hot")).alias("bins_preserved"),
                F.sum(F.col("hot") * F.col("bin_rows")).alias(
                    "rows_rewritten"
                ),
                F.sum((1 - F.col("hot")) * F.col("bin_rows")).alias(
                    "rows_preserved"
                ),
            )
        )
        .select(
            F.col("n_dates").cast("long").alias("n_dates"),
            F.col("n_dates_appended").cast("long").alias("n_dates_appended"),
            F.col("n_bins").cast("long").alias("n_bins"),
            F.col("bins_rewritten").cast("long").alias("bins_rewritten"),
            F.col("bins_preserved").cast("long").alias("bins_preserved"),
            F.col("rows_rewritten").cast("long").alias("rows_rewritten"),
            F.col("rows_preserved").cast("long").alias("rows_preserved"),
            F.expr(
                "rows_preserved * 100 div (rows_rewritten + rows_preserved)"
            )
            .cast("long")
            .alias("pct_rows_preserved"),
        )
    )


register(
    QuerySpec(
        "x274_append_optimize_io",
        x274_append_optimize_io,
        f"""
        WITH {_SQL_LAYOUT_BINS},
        spine AS (
          SELECT b.d, b.bin, p.n_rows,
                 CASE WHEN row_number() OVER (ORDER BY b.d)
                      > COUNT(*) OVER () - {EVENTS_APPEND_DATES}
                      THEN 1 ELSE 0 END AS appended
          FROM bins b JOIN per_date p USING (d)),
        hot AS (
          SELECT bin, MAX(appended) AS hot,
                 CAST(SUM(n_rows) AS BIGINT) AS bin_rows
          FROM spine GROUP BY bin),
        dstats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_dates,
                 CAST(SUM(appended) AS BIGINT) AS n_dates_appended
          FROM spine),
        bstats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
                 CAST(SUM(hot) AS BIGINT) AS bins_rewritten,
                 CAST(SUM(1 - hot) AS BIGINT) AS bins_preserved,
                 CAST(SUM(hot * bin_rows) AS BIGINT) AS rows_rewritten,
                 CAST(SUM((1 - hot) * bin_rows) AS BIGINT)
                     AS rows_preserved
          FROM hot)
        SELECT d.n_dates, d.n_dates_appended, b.n_bins,
               b.bins_rewritten, b.bins_preserved,
               b.rows_rewritten, b.rows_preserved,
               CAST(b.rows_preserved * 100
                    // (b.rows_rewritten + b.rows_preserved) AS BIGINT)
                   AS pct_rows_preserved
        FROM dstats d, bstats b
        """,
        "append-merge I/O ledger: bins and rows the incremental OPTIMIZE rewrites vs preserves in place",
    )
)
