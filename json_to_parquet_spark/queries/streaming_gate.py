"""Streaming evidence at the correctness gate.

Round 1 verified the Structured Streaming operators only via pytest; the
gate never saw them. These queries run REAL streaming jobs
(``trigger(availableNow=True)``, checkpointed, then drained) and expose
the results as ordinary DataFrames the driver can diff against a DuckDB
oracle:

* ``x28_stream_convert`` — the reference's event-driven contract (one
  object lands → converted parquet appears; reference pyarrow/main.py:18-50)
  through the engine's file-source + ``foreachBatch`` stream, compared
  against the same ``read_json`` oracle as q00.
* ``x29_stream_dedup_keys`` — stateful streaming dedup
  (``dropDuplicatesWithinWatermark``) over the events table. Only the key
  columns are emitted, so the result is the exact distinct key set no
  matter which physical duplicate row won the state race — which makes a
  plain ``SELECT DISTINCT`` a valid oracle for a streaming-stateful op.

Both wipe their checkpoint/output dirs per invocation so every gate run
reprocesses from scratch and is deterministic.

The APPEND-mode emission set of the windowed/stateful aggregation
operators (streaming/windowed.py, streaming/stateful.py) depends on
micro-batch boundaries (watermark advances per batch), which no
engine-independent SQL can express FOR ARBITRARY BATCHING — so
``x67_stream_window`` gate-checks the COMPLETE-mode final state (equal
to the batch aggregation however the input was batched), and
``x146_stream_watermark_drops`` goes further: it makes the batching
itself deterministic (one arrival-bucket file per micro-batch) and
sizes the watermark delay past the arrival disorder, at which point
the append emission schedule has a closed form (batch aggregation over
windows closed by the final watermark) and is oracle-checked directly.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.catalog import load_table
from . import QuerySpec, register
from .convert_gate import FIXTURE_PATH, GATE_DIR, ensure_convert_fixture

# v2 suffix tracks convert_gate.FIXTURE_PATH: the fixture is cached on
# disk and the stream source reads the WHOLE directory, so a format
# change must change the directory — a leftover v1 file in the old dir
# would be double-counted by the file-source stream.
STREAM_SRC_DIR = os.path.join(GATE_DIR, "stream_src_v2")
STREAM_FIXTURE = os.path.join(STREAM_SRC_DIR, "convert_gate_v2.ndjson.gz")

# Pinned fixture schema: streaming file sources don't infer (SURVEY §7c).
_FIXTURE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("time", T.LongType()),
        T.StructField("time_dt", T.StringType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("my_dt", T.StringType()),
                    T.StructField(
                        "events",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("kind", T.StringType()),
                                    T.StructField("at_dt", T.StringType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "items",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("uid", T.StringType()),
                        T.StructField("created_time_dt", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def _drain(q, timeout_s: int) -> None:
    """awaitTermination with the timeout treated as a FAILURE, not a
    shrug: every gate here reads the drained sink directly afterwards,
    so a still-running stream would silently hand the tail a PARTIAL
    directory (wrong stats that may still hash cleanly).  Raising turns
    the flake into a visible error (code-review r12 finding)."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming drain did not complete within {timeout_s}s"
        )


def _fresh(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def _write_batch_idempotent(bdf: DataFrame, bid: int, dest: str) -> None:
    """Idempotent ``foreachBatch`` parquet sink (ADVICE r13): each
    micro-batch overwrites its OWN ``bid=N`` partition directory, so a
    retried batch replaces its previous output instead of appending a
    duplicate — a double-counted partial could otherwise flip a drained
    policy decision.  Read the union back with ``_read_batches`` (the
    discovered ``bid`` partition column is dropped)."""
    bdf.write.mode("overwrite").parquet(os.path.join(dest, f"bid={bid}"))


def _read_batches(spark: SparkSession, dest: str) -> DataFrame:
    """Union of every drained micro-batch written by
    ``_write_batch_idempotent`` (partition-discovers ``bid=N`` dirs,
    drops the synthetic column)."""
    return spark.read.parquet(dest).drop("bid")


def x28_stream_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream → foreachBatch(convert) → parquet, drained with
    availableNow; returns the converted output projected to scalars."""
    from ..streaming.convert_stream import stream_convert

    ensure_convert_fixture(STREAM_FIXTURE)
    dest = os.path.join(GATE_DIR, "out_x28")
    ckpt = os.path.join(GATE_DIR, "ckpt_x28")
    _fresh(dest, ckpt)
    q = stream_convert(
        spark,
        STREAM_SRC_DIR,
        dest,
        checkpoint=ckpt,
        schema=_FIXTURE_SCHEMA,
        sort_column="time",
        available_now=True,
    )
    _drain(q, 300)
    out = spark.read.parquet(dest)
    # F.get: 0-based, null-safe on the v2 fixture's ragged lists (ANSI []
    # access would throw out-of-bounds).
    return out.select(
        "id",
        "time",
        F.unix_micros("time_dt").alias("time_dt_us"),
        F.col("meta.name").alias("meta_name"),
        F.unix_micros(F.col("meta.my_dt")).alias("my_dt_us"),
        F.size("items").alias("n_items"),
        F.unix_micros(F.get(F.col("items"), 0)["created_time_dt"]).alias("item1_dt_us"),
        F.unix_micros(F.get(F.col("items"), 1)["created_time_dt"]).alias("item2_dt_us"),
        F.unix_micros(F.get(F.col("meta.events"), 0)["at_dt"]).alias("event1_dt_us"),
    )


register(
    QuerySpec(
        "x28_stream_convert",
        x28_stream_convert,
        f"""
        SELECT id, time,
               epoch_us(strptime(time_dt, '%Y-%m-%dT%H:%M:%SZ')) AS time_dt_us,
               meta.name AS meta_name,
               epoch_us(strptime(meta.my_dt, '%Y-%m-%dT%H:%M:%SZ')) AS my_dt_us,
               CAST(len(items) AS INTEGER) AS n_items,
               epoch_us(strptime(items[1].created_time_dt,
                                 '%Y-%m-%dT%H:%M:%SZ')) AS item1_dt_us,
               epoch_us(strptime(items[2].created_time_dt,
                                 '%Y-%m-%dT%H:%M:%SZ')) AS item2_dt_us,
               epoch_us(strptime(meta.events[1].at_dt,
                                 '%Y-%m-%dT%H:%M:%SZ')) AS event1_dt_us
        FROM read_json('{STREAM_FIXTURE}', format='newline_delimited',
                       columns={{'id': 'BIGINT', 'time': 'BIGINT',
                                 'time_dt': 'VARCHAR',
                                 'meta': 'STRUCT(name VARCHAR, my_dt VARCHAR,
                                          events STRUCT(kind VARCHAR, at_dt VARCHAR)[])',
                                 'items': 'STRUCT(uid VARCHAR, created_time_dt VARCHAR)[]'}})
        """,
        "streaming convert (file source + foreachBatch, availableNow) vs read_json oracle",
    )
)


def x29_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup over events, drained with availableNow.

    The watermark horizon exceeds the dataset's time span, so no state is
    evicted mid-run and each (user_id, event_type) pair is emitted exactly
    once regardless of micro-batch boundaries."""
    from ..streaming.dedup import dedup_stream

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"events_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"out_x29_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x29_{sf_tag}")
    _fresh(src, dest, ckpt)

    # Normalized copy (nanos → micros ts, see sources/catalog.py) because a
    # streaming parquet source can't apply the nanos-as-long load shim.
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    ev.repartitionByRange(4, "ts").write.parquet(src)

    stream = (
        spark.readStream.schema("user_id bigint, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)  # force several micro-batches
        .parquet(src)
    )
    deduped = dedup_stream(
        stream, keys=["user_id", "event_type"], ts_col="ts", watermark="3650 days"
    ).select("user_id", "event_type")
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.read.parquet(dest)


register(
    QuerySpec(
        "x29_stream_dedup_keys",
        x29_stream_dedup_keys,
        "SELECT DISTINCT user_id, event_type FROM events",
        "streaming stateful dedup (dropDuplicatesWithinWatermark) vs DISTINCT oracle",
    )
)


def x37_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, drained with availableNow: the
    event stream joins a static per-user dimension (broadcast each
    micro-batch; the static side never becomes state, so this scales to
    unbounded streams — the pattern for dimension enrichment at ingest).
    Every event appears exactly once regardless of batch boundaries, so
    the batch join is an exact oracle."""
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"events37_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"out_x37_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x37_{sf_tag}")
    _fresh(src, dest, ckpt)

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    ev.repartitionByRange(4, "event_id").write.parquet(src)
    user_dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_user_events"))

    stream = (
        spark.readStream.schema("event_id bigint, user_id bigint, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    joined = stream.join(user_dim, "user_id").select(
        "event_id", "user_id", "event_type", F.col("n_user_events").cast("long")
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.read.parquet(dest)


register(
    QuerySpec(
        "x37_stream_static_join",
        x37_stream_static_join,
        """
        SELECT e.event_id, e.user_id, e.event_type, d.n_user_events
        FROM events e
        JOIN (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_user_events
              FROM events GROUP BY user_id) d USING (user_id)
        """,
        "stream-static enrichment join (availableNow) vs batch join oracle",
    )
)


def x67_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked event-time windowed aggregation (1-day tumbling) over
    a multi-batch stream, drained with availableNow in COMPLETE mode.

    Complete mode's final table equals the batch aggregation no matter
    how the files were micro-batched, so a time-bucket GROUP BY is an
    exact oracle — this is the gate-checkable face of
    ``streaming/windowed.py`` (the append-mode emission schedule stays
    pytest-covered; see module docstring). The memory sink is gate
    harness only — it holds one row per (window, event_type), bounded by
    the stream's time span, never raw events; the production path writes
    append-mode to a real sink with the watermark bounding state."""
    from ..streaming.windowed import windowed_event_counts

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"events67_{sf_tag}")
    _fresh(src)

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    ev.repartitionByRange(4, "ts").write.parquet(src)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)  # force cross-batch state merge
        .parquet(src)
    )
    agg = windowed_event_counts(stream, window_duration="1 day", watermark="1 hour")
    name = f"x67_windows_{sf_tag}".replace(".", "_")  # dots invalid in view names
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.table(name).orderBy("win_start_us", "event_type")


register(
    QuerySpec(
        "x67_stream_window",
        x67_stream_window,
        """
        SELECT epoch_us(time_bucket(INTERVAL '1 day', ts)) AS win_start_us,
               epoch_us(time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day')
                   AS win_end_us,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)
                   AS sum_value
        FROM events
        GROUP BY 1, 2, 3
        ORDER BY win_start_us, event_type
        """,
        "complete-mode windowed streaming agg (availableNow) vs time-bucket oracle",
    )
)


def x70_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (purchases ⋈ preceding
    same-user clicks), drained with availableNow over a multi-batch
    source.

    INNER-join emission is batch-boundary independent: each matched pair
    is emitted exactly once when both rows have arrived, and with the
    watermark horizon beyond the dataset's span nothing is evicted
    early — so the drained output equals the batch interval join and a
    plain SQL join is an exact oracle. (Production tunes the watermark
    to the lookback so state stays bounded; see streaming/joins.py.)"""
    from ..streaming.joins import purchases_with_recent_clicks

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"events70_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"out_x70_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x70_{sf_tag}")
    _fresh(src, dest, ckpt)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    ev.repartitionByRange(4, "ts").write.parquet(src)

    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, event_type string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .parquet(src)
    )
    joined = purchases_with_recent_clicks(
        stream, lookback="30 minutes", watermark="3650 days"
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.read.parquet(dest)


register(
    QuerySpec(
        "x70_stream_interval_join",
        x70_stream_interval_join,
        """
        SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
               epoch_us(p.ts) AS purchase_us, epoch_us(c.ts) AS click_us
        FROM events p
        JOIN events c
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL '30 minutes'
        """,
        "stream-stream interval join (availableNow drain) vs batch join oracle",
    )
)


def x81_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based sessionization: ``session_window`` as a
    STREAMING aggregation over a multi-batch file source, drained with
    availableNow in COMPLETE mode.

    Micro-batching (maxFilesPerTrigger=1 over a range-partitioned source)
    forces partial sessions to merge across batches inside the session
    state store — the cross-batch merge is exactly what batch q48 cannot
    exercise. Complete mode's final table equals the batch session
    aggregation regardless of batch boundaries, so q48's lag-gap-islands
    SQL is an exact oracle. Production uses append mode + watermark so
    closed sessions emit and state stays bounded (one open session per
    active user); the complete-mode drain is gate harness only."""
    from .pipeline import SESSION_WINDOW_GAP_US

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"events81_{sf_tag}")
    _fresh(src)

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    ev.repartitionByRange(4, "ts").write.parquet(src)

    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)  # force cross-batch session merges
        .parquet(src)
    )
    # Gap derived from the same constant the oracle uses, so one retune
    # moves both sides (ADVICE r3: a hardcoded "10 minutes" here would
    # silently desynchronize from the SQL twin).
    gap = f"{SESSION_WINDOW_GAP_US // 1_000_000} seconds"
    sess = stream.groupBy(
        "user_id", F.session_window("ts", gap).alias("sw")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    name = f"x81_sessions_{sf_tag}".replace(".", "_")
    q = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return (
        spark.table(name)
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            F.unix_micros(F.col("sw.end")).alias("session_end_us"),
            F.col("n_events").cast("long").alias("n_events"),
        )
        .orderBy("user_id", "session_start_us")
    )


def _x81_sql() -> str:
    # q48's lag-gap-islands reconstruction, ordered for the gate: a new
    # session starts when the gap >= the window (Spark merges only on
    # strict overlap); session end = last event + gap.
    from .pipeline import SESSION_WINDOW_GAP_US

    return f"""
        WITH g AS (
          SELECT user_id, ts,
                 epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts) AS gap
          FROM events),
        s AS (
          SELECT user_id, ts,
                 SUM(CASE WHEN gap IS NULL OR gap >= {SESSION_WINDOW_GAP_US}
                          THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM g)
        SELECT user_id,
               MIN(epoch_us(ts)) AS session_start_us,
               MAX(epoch_us(ts)) + {SESSION_WINDOW_GAP_US} AS session_end_us,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, sid
        ORDER BY user_id, session_start_us
        """


register(
    QuerySpec(
        "x81_stream_session",
        x81_stream_session,
        _x81_sql(),
        "streaming session_window aggregation (availableNow drain) vs lag-gap islands oracle",
    )
)


def x87_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (streaming/cdc_stream.py): a multi-file
    changelog tailed with maxFilesPerTrigger=1, each micro-batch merged
    into the parquet snapshot via the batch ``apply_changes`` operator
    and atomically swapped — the foreachBatch upsert sink, gate-checked.

    Every key carries exactly ONE change row (update keys %10==3, delete
    keys %10==7, insert keys %10==5 re-keyed +10M), so batch order can't
    change the converged snapshot and a closed-form SQL merge is an
    exact oracle; within-key version sequencing stays covered by batch
    x41 (same operator, versioned changelog). Prices remain
    decimal(18,2) end-to-end and are emitted as strings (bit-stable
    cross-engine)."""
    from ..streaming.cdc_stream import stream_apply_changes

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    base_dir = os.path.join(GATE_DIR, f"cdc_base_{sf_tag}")
    chg_dir = os.path.join(GATE_DIR, f"cdc_chg_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"cdc_ckpt_{sf_tag}")
    _fresh(base_dir, chg_dir, ckpt)

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    base.write.parquet(base_dir)

    def change(src, key, new_price, op: str):
        return src.select(
            key.alias("k"),
            F.col("cust"),
            new_price.cast("decimal(18,2)").alias("price"),
            F.lit(op).alias("op"),
            F.lit(1).alias("version"),
        )

    # Insert keys re-key above the observed max so they can never collide
    # with real base keys at ANY scale factor (ADVICE r3: a fixed +10M
    # offset would collide at SF >= ~1.7 where o_orderkey tops 10M and
    # break the one-change-row-per-key convergence argument).  Tiny
    # 1-row agg collect — gate harness only; the oracle computes the
    # same MAX(o_orderkey)+1 so both sides stay tied.
    insert_offset = base.agg(F.max("k")).first()[0] + 1
    changes = (
        change(base.filter(F.col("k") % 10 == 3), F.col("k"), F.col("price") + 2, "U")
        .unionAll(
            change(base.filter(F.col("k") % 10 == 7), F.col("k"), F.col("price"), "D")
        )
        .unionAll(
            change(
                base.filter(F.col("k") % 10 == 5),
                F.col("k") + F.lit(insert_offset),
                F.col("price"),
                "I",
            )
        )
    )
    changes.repartition(4).write.parquet(chg_dir)  # multi-batch changelog

    q = stream_apply_changes(
        spark,
        changes_dir=chg_dir,
        snapshot_dir=base_dir,
        checkpoint=ckpt,
        schema="k bigint, cust bigint, price decimal(18,2), op string, version int",
        keys=["k"],
        available_now=True,
        max_files_per_trigger=1,
    )
    _drain(q, 300)
    return (
        spark.read.parquet(base_dir)
        .select("k", "cust", F.col("price").cast("string").alias("price_str"))
        .orderBy("k")
    )


register(
    QuerySpec(
        "x87_stream_cdc",
        x87_stream_cdc,
        """
        WITH base AS (
          SELECT o_orderkey AS k, o_custkey AS cust,
                 CAST(o_totalprice AS DECIMAL(18,2)) AS price
          FROM orders),
        kept AS (
          SELECT k, cust,
                 CAST(CASE WHEN k % 10 = 3 THEN price + 2 ELSE price END
                      AS DECIMAL(18,2)) AS price
          FROM base WHERE k % 10 != 7),
        ins AS (
          SELECT k + (SELECT MAX(o_orderkey) + 1 FROM orders) AS k,
                 cust, price
          FROM base WHERE k % 10 = 5)
        SELECT k, cust, CAST(price AS VARCHAR) AS price_str
        FROM (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        ORDER BY k
        """,
        "streaming CDC upsert sink (foreachBatch merge + atomic snapshot swap) vs closed-form merge oracle",
    )
)


# --- x109: streaming heavy hitters (complete-mode top-K) ---------------------
# x63's streaming twin: the corpus arrives as a multi-batch file stream,
# tokens explode STATELESSLY inside the stream, counts accumulate in the
# state store across batches, and the complete-mode sink re-emits the
# top-K (sort + limit ARE supported on a streaming aggregate in complete
# mode) after every trigger. After an availableNow drain the final table
# equals the batch top-K exactly, so x63's oracle shape transfers.
# State is vocab-sized here (gate harness); the production unbounded-
# vocabulary path is the x91 Count-Min sketch + periodic candidate
# re-scoring.
STREAM_HH_TOPK = 50


def x109_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"docs109_{sf_tag}")
    ck = os.path.join(GATE_DIR, f"ck_x109_{sf_tag}")
    _fresh(src, ck)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)  # force cross-batch count merging
        .parquet(src)
    )
    topk = (
        stream.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(STREAM_HH_TOPK)
    )
    name = f"x109_hh_{sf_tag}".replace(".", "_")
    q = (
        topk.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    from pyspark.sql import Window as W

    w = W.orderBy(F.desc("cnt"), F.asc("tok"))
    return spark.table(name).select(
        F.row_number().over(w).cast("long").alias("rank"), "tok", "cnt"
    )


register(
    QuerySpec(
        "x109_stream_heavy_hitters",
        x109_stream_heavy_hitters,
        f"""
        WITH c AS (
          SELECT tok, COUNT(*) AS cnt
          FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
          GROUP BY tok ORDER BY cnt DESC, tok ASC LIMIT {STREAM_HH_TOPK})
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT)
                   AS rank,
               tok, cnt
        FROM c
        """,
        "streaming top-K tokens: complete-mode sort+limit over cross-batch counts",
    )
)


# --- x120: streaming partitioned sink (exactly-once hive layout) -------------
# The streaming half of the x96 storage story: events arrive as a
# multi-batch file stream and land in a date-partitioned parquet layout
# through the native file sink (exactly-once via the checkpointed sink
# log), so downstream readers get partition pruning over data that was
# written CONTINUOUSLY. The gate reads the layout back WITH a partition
# filter and diffs against the batch oracle over the original table —
# proving both the streamed write's completeness and the pruned read's
# correctness. Timestamps leave as epoch-micros before the sink
# (helpers rule 4).
SINK_PRUNE_LO, SINK_PRUNE_HI = "2024-01-08", "2024-01-14"


def x120_stream_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"events120_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"out_x120_{sf_tag}")
    ck = os.path.join(GATE_DIR, f"ck_x120_{sf_tag}")
    _fresh(src, dest, ck)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.withColumn("d", F.date_format("ts", "yyyy-MM-dd"))
        .withColumn("ts_us", F.unix_micros("ts"))
        .drop("ts")
        .writeStream.format("parquet")
        .option("path", dest)
        .option("checkpointLocation", ck)
        .partitionBy("d")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)

    out = spark.read.parquet(dest)
    return (
        out.filter((F.col("d") >= SINK_PRUNE_LO) & (F.col("d") <= SINK_PRUNE_HI))
        .withColumn("d", F.col("d").cast("string"))
        .groupBy("d", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("ts_us").alias("min_ts_us"),
            F.max("ts_us").alias("max_ts_us"),
        )
        .orderBy("d", "event_type")
    )


register(
    QuerySpec(
        "x120_stream_partitioned_sink",
        x120_stream_partitioned_sink,
        f"""
        SELECT strftime(ts, '%Y-%m-%d') AS d, event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               MIN(epoch_us(ts)) AS min_ts_us,
               MAX(epoch_us(ts)) AS max_ts_us
        FROM events
        WHERE strftime(ts, '%Y-%m-%d')
              BETWEEN '{SINK_PRUNE_LO}' AND '{SINK_PRUNE_HI}'
        GROUP BY 1, 2
        ORDER BY d, event_type
        """,
        "streaming hive-partitioned parquet sink: exactly-once layout + pruned read-back",
    )
)


# --- x146: append-mode emission schedule, made oracle-able -------------------
# The module docstring's standing limitation — "which windows a drain
# emits depends on micro-batch boundaries, which no engine-independent
# SQL can express" — stops applying when the batch boundaries are
# DETERMINISTIC and the watermark delay covers the arrival disorder.
# Each 1-day arrival bucket of a jittered replay becomes exactly one
# file; files stream in bucket order one per micro-batch; and because
# the 26 h delay exceeds the replay's maximum event-time disorder
# (±12.5 h jitter + day-bucket rounding), no row can arrive after its
# window's state was evicted.  Under that sizing rule Spark's
# append-mode drain is EXACTLY the batch aggregation restricted to
# windows closed by the final watermark (global max event time − delay)
# — each window emitted once, with its full count, zero late loss — and
# that closed form is the oracle below.  (Measured while building this:
# an UNDER-sized 2 h delay silently absorbs late rows into still-open
# state rather than dropping them, so the x140 loss model applies to
# eviction-lagged arrivals, not to this configuration — sizing the
# delay from measured disorder is precisely the decision x140 informs.)
X146_JITTER_STEP_US = 900_000_000  # ±(50 × 15 min) ≈ ±12.5 h arrival disorder
X146_DAY_US = 86_400_000_000
X146_DELAY_H = 26  # > max disorder → structurally zero late loss
X146_DELAY = f"{X146_DELAY_H} hours"
X146_DELAY_US = X146_DELAY_H * 3_600_000_000
X146_WIN_US = 3_600_000_000  # 1-hour tumbling windows


def x146_stream_watermark_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"events146_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt146_{sf_tag}")
    _fresh(src, ckpt)
    os.makedirs(src, exist_ok=True)

    # Arrival replay: bucket each event into the day its (jittered)
    # transport delivery lands in — SAME md5 arithmetic as the oracle.
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    ts_us = F.unix_micros("ts")
    jitter = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
        - 50
    ) * F.lit(X146_JITTER_STEP_US)
    base = ev.select(
        ts_us.alias("ts_us"),
        F.floor((ts_us + jitter) / F.lit(X146_DAY_US)).cast("long").alias("bkt"),
    )
    # Fixture prep (gate harness, not the operator): materialize one file
    # per arrival bucket with strictly increasing mtimes so the file
    # stream delivers exactly one bucket per micro-batch, in order.
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = base.toPandas()  # bounded: the gate's event fixture, not 100 TB
    t0 = _time.time() - 86_400  # keep well inside maxFileAge
    for i, bkt in enumerate(sorted(pdf["bkt"].unique())):
        path = os.path.join(src, f"b{i:06d}.parquet")
        pq.write_table(
            pa.table({"ts_us": pdf.loc[pdf["bkt"] == bkt, "ts_us"].to_numpy()}),
            path,
        )
        os.utime(path, (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema("ts_us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.select(F.timestamp_micros("ts_us").alias("ts"))
        .withWatermark("ts", X146_DELAY)
        .groupBy(F.window("ts", "1 hour"))
        .count()
    )
    emitted: list = []

    def collect(batch_df: DataFrame, _bid: int) -> None:
        emitted.extend(  # append emits each closed window once; bounded
            (r["window"].start, int(r["count"])) for r in batch_df.collect()
        )

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 600)

    from datetime import timezone

    rows = [
        (int(k.replace(tzinfo=timezone.utc).timestamp() * 1_000_000), v)
        for k, v in emitted
    ]
    from .helpers import inline_rows

    return inline_rows(
        spark, rows, "window_start_us long, n_events long"
    ).orderBy("window_start_us")


register(
    QuerySpec(
        "x146_stream_watermark_drops",
        x146_stream_watermark_drops,
        f"""
        WITH b AS (SELECT epoch_us(ts) AS u FROM events),
        m AS (SELECT MAX(u) AS mx FROM b)
        SELECT u - u % {X146_WIN_US} AS window_start_us,
               COUNT(*) AS n_events
        FROM b, m
        WHERE u - u % {X146_WIN_US} + {X146_WIN_US} <= mx - {X146_DELAY_US}
        GROUP BY 1, mx ORDER BY window_start_us
        """,
        "append-mode drain under disorder-covering watermark vs closed-window oracle",
    )
)


# --- x147: outer stream-stream join null-emission, made oracle-able ----------
# The last un-gated streaming semantics: LEFT OUTER interval joins emit
# their null-match rows only when state eviction proves a left row
# matchless.  With deterministic batching (one arrival-day file per
# micro-batch, in-order) the eviction horizon has a closed form — and
# measuring it exposed the engine's MULTIPLE-WATERMARK POLICY: the
# horizon tracks min(max click ts, max purchase ts) − delay (the
# per-stream watermarks combine with min, Spark's default), NOT the
# global max.  Calibrated against both sf0.001 and sf0.01 (brackets
# (2.089h, 2.763h] and the 5.92h sf0.001 horizon both land exactly on
# the min-watermark prediction); the oracle below encodes it.
X147_LOOKAHEAD_H = 1  # purchases within [click, click + 1h]
X147_LOOKAHEAD_US = X147_LOOKAHEAD_H * 3_600_000_000
X147_DELAY_H = 2  # withWatermark, both streams
X147_DELAY_US = X147_DELAY_H * 3_600_000_000


def x147_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"events147_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt147_{sf_tag}")
    _fresh(src, ckpt)
    os.makedirs(src, exist_ok=True)

    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    pdf = ev.toPandas()  # bounded: the gate's event fixture, not 100 TB
    day_us = 86_400_000_000
    pdf["bkt"] = pdf["ts_us"] // day_us
    t0 = _time.time() - 86_400
    for i, bkt in enumerate(sorted(pdf["bkt"].unique())):
        path = os.path.join(src, f"b{i:06d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(
                pdf.loc[
                    pdf["bkt"] == bkt,
                    ["event_id", "user_id", "event_type", "ts_us"],
                ],
                preserve_index=False,
            ),
            path,
        )
        os.utime(path, (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts_us long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    base = stream.select(
        "event_id", "user_id", "event_type", F.timestamp_micros("ts_us").alias("ts")
    )
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", f"{X147_DELAY_H} hours")
    )
    purch = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", f"{X147_DELAY_H} hours")
    )
    joined = clicks.join(
        purch,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (
            F.col("p_ts")
            <= F.col("c_ts") + F.expr(f"INTERVAL {X147_LOOKAHEAD_H} HOUR")
        ),
        "leftOuter",
    )
    out: list = []

    def collect(batch_df: DataFrame, _bid: int) -> None:
        out.extend(  # matches + eviction-proven null rows; bounded
            (int(r["c_id"]), None if r["p_id"] is None else int(r["p_id"]))
            for r in batch_df.collect()
        )

    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 900)
    from .helpers import inline_rows

    return inline_rows(spark, out, "c_id long, p_id long").orderBy(
        "c_id", "p_id"
    )


register(
    QuerySpec(
        "x147_stream_outer_join",
        x147_stream_outer_join,
        f"""
        WITH e AS (
          SELECT event_id, user_id, event_type, epoch_us(ts) AS u FROM events),
        c AS (SELECT event_id AS c_id, user_id, u AS cu FROM e
              WHERE event_type = 'click'),
        p AS (SELECT event_id AS p_id, user_id, u AS pu FROM e
              WHERE event_type = 'purchase'),
        wm AS (
          SELECT least(MAX(CASE WHEN event_type = 'click' THEN u END),
                       MAX(CASE WHEN event_type = 'purchase' THEN u END))
                 - {X147_DELAY_US} AS horizon
          FROM e),
        m AS (
          SELECT c.c_id, p.p_id FROM c JOIN p USING (user_id)
          WHERE p.pu BETWEEN c.cu AND c.cu + {X147_LOOKAHEAD_US})
        SELECT c_id, p_id FROM m
        UNION ALL
        SELECT c.c_id, CAST(NULL AS BIGINT) AS p_id
        FROM c, wm
        WHERE c.c_id NOT IN (SELECT c_id FROM m)
          AND c.cu + {X147_LOOKAHEAD_US} < wm.horizon
        ORDER BY c_id, p_id
        """,
        "outer stream-stream interval join: null emission per the min-watermark policy",
    )
)


# --- x148: custom stateful operator (applyInPandasWithState) under the gate --
def x148_stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arbitrary-stateful API gate-checked: streaming/stateful.py's
    ``applyInPandasWithState`` per-user running totals drained over a
    multi-batch file stream; the LAST emission per user must equal the
    batch aggregate — the across-micro-batch state-accumulation contract.
    The gate output carries the exact-integer state fields (event count,
    max event-time micros); the operator's float running sum stays
    pytest-covered (its accumulation order is arrival-dependent by
    nature, exactly what helpers rule 1 exists to avoid in gate
    outputs).  transformWithStateInPandas — the successor API — is
    environment-blocked here (no protobuf in this container) and stays a
    declared pytest skip."""
    from ..streaming.stateful import running_user_totals

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"events148_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt148_{sf_tag}")
    _fresh(src, ckpt)

    ev = load_table(spark, sf_dir, "events").select("user_id", "value", "ts")
    ev.repartitionByRange(4, "ts").write.parquet(src)

    stream = (
        spark.readStream.schema("user_id long, value double, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    final: dict = {}

    def upsert(batch_df: DataFrame, _bid: int) -> None:
        for r in batch_df.collect():  # one row per user per batch; bounded
            final[r["user_id"]] = (int(r["n_events"]), int(r["last_seen_us"]))

    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 600)
    from .helpers import inline_rows

    rows = [(int(u), n, us) for u, (n, us) in final.items()]
    return inline_rows(
        spark, rows, "user_id long, n_events long, last_seen_us long"
    ).orderBy("user_id")


register(
    QuerySpec(
        "x148_stream_custom_state",
        x148_stream_custom_state,
        """
        SELECT user_id, COUNT(*) AS n_events,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_seen_us
        FROM events GROUP BY 1 ORDER BY user_id
        """,
        "applyInPandasWithState running totals: final state vs batch aggregate",
    )
)


# Per-call (harness_seconds, drain_seconds) split for x172, appended on
# every invocation: the gate harness cost (fixture regeneration, base
# index build, output re-read) dominates the local wall clock but
# amortizes to zero in a real continuous stream, where the drain loop is
# the only recurring cost.  bench.py reports the two as separate rows
# (VERDICT r6 ask #6) plus the drain amortized PER MICRO-BATCH
# (drain / X172_N_BATCHES — VERDICT r12 ask #6): the per-arriving-batch
# marginal cost is the number a continuous deployment actually pays,
# and the 4-drain total otherwise reads as a scale cost when it is
# mostly fixed micro-batch engine overhead × batch count.
X172_SPLIT: list[tuple[float, float]] = []
X172_N_BATCHES = 4  # one-file micro-batches the fixture splits into


def x172_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental MinHash-LSH near-dup: new documents arrive
    as a file-source stream and each micro-batch is signed, banded, and
    joined against the PRE-BUILT base band index (a persisted static
    frame — the materialized-index shape x111 proves in batch), emitting
    candidate pairs with signature-overlap estimates. This is THE
    production continuous-ingest dedup loop: the base index is built
    once, each arriving batch pays only its own signatures plus a
    band-keyed join into the index.

    Drained with availableNow over one-file micro-batches; every batch
    doc is in exactly one micro-batch and pairs are keyed by batch doc,
    so the union of per-batch outputs equals the one-shot batch result —
    x111's REGISTERED oracle is reused verbatim (anti-drift: the
    streaming twin can never diverge from the batch op's contract
    without the gate seeing it)."""
    from .dedup import (
        _ARITH_HASHES,
        _BAND_MIX,
        _charfold,
        _x111_sql,  # noqa: F401  (oracle reuse documented above)
        ARITH_P,
        INC_BATCH_OFFSET,
        INC_DROP_FRAC,
        LSH_BANDS,
        LSH_ROWS,
        MINHASH_HASHES,
        shingles,
    )
    from pyspark.sql import Column

    t_entry = time.perf_counter()
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x172_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"out_x172_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x172_{sf_tag}")
    _fresh(src, dest, ckpt)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def sig_of(corpus: DataFrame) -> DataFrame:
        posting = corpus.select(
            "doc_id", F.explode(shingles(F.col("text"))).alias("sh")
        ).withColumn("fp", _charfold(F.col("sh")))
        mins = [
            F.min((F.lit(a) * F.col("fp") + F.lit(b)) % F.lit(ARITH_P)).alias(
                f"h{j}"
            )
            for j, (a, b) in enumerate(_ARITH_HASHES)
        ]
        return posting.groupBy("doc_id").agg(*mins)

    def buckets_of(sig: DataFrame) -> DataFrame:
        def _bucket(b: int) -> Column:
            expr = F.col(f"h{b * LSH_ROWS}")
            for r in range(1, LSH_ROWS):
                expr = (expr * _BAND_MIX + F.col(f"h{b * LSH_ROWS + r}")) % F.lit(
                    ARITH_P
                )
            return expr

        return sig.select(
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

    # The static, pre-built side: base signatures + band index, persisted
    # once and probed by every micro-batch.
    base_sig = sig_of(docs).persist()
    base_idx = buckets_of(base_sig).persist()
    base_idx.count()  # materialize before the stream starts

    # Arriving documents: x111's batch transform (suffix-truncated,
    # id-offset), spread over 4 files = 4 micro-batches.
    words = F.split(F.col("text"), " ")
    drop_n = F.floor(F.size(words) / F.lit(INC_DROP_FRAC)).cast("int")
    suffix = F.array_join(
        F.slice(words, drop_n + F.lit(1), F.size(words) - drop_n), " "
    )
    batch_docs = docs.select(
        (F.col("doc_id") + INC_BATCH_OFFSET).alias("doc_id"),
        suffix.alias("text"),
    )
    # hash-partitioned by key: deterministic batch membership without
    # repartitionByRange's extra sampling job; the union of per-batch
    # outputs is batch-assignment-invariant (pairs are keyed by batch
    # doc), so the oracle contract is untouched.
    batch_docs.repartition(X172_N_BATCHES, "doc_id").write.parquet(src)

    n_eq = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("long")
        for j in range(MINHASH_HASHES)
    )
    sb = base_sig.select(
        F.col("doc_id").alias("base_id"),
        *[F.col(f"h{j}").alias(f"b{j}") for j in range(MINHASH_HASHES)],
    )

    def handle_batch(bdf: DataFrame, _bid: int) -> None:
        bsig = sig_of(bdf).persist()
        bb = buckets_of(bsig).alias("new")
        cand = (
            bb.join(
                base_idx.alias("base"),
                (F.col("new.band") == F.col("base.band"))
                & (F.col("new.bucket") == F.col("base.bucket")),
            )
            .select(
                F.col("new.doc_id").alias("batch_id"),
                F.col("base.doc_id").alias("base_id"),
            )
            .dropDuplicates(["batch_id", "base_id"])
        )
        sa = bsig.select(
            F.col("doc_id").alias("batch_id"),
            *[F.col(f"h{j}").alias(f"a{j}") for j in range(MINHASH_HASHES)],
        )
        out = (
            cand.join(sa, "batch_id")
            .join(sb, "base_id")
            .select(
                "batch_id",
                "base_id",
                n_eq.alias("n_eq"),
                (n_eq.cast("double") / F.lit(float(MINHASH_HASHES))).alias(
                    "est_sim"
                ),
            )
        )
        out.write.mode("append").parquet(dest)
        bsig.unpersist()

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    t_drain = time.perf_counter()
    q = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    drain_s = time.perf_counter() - t_drain
    X172_SPLIT.append((t_drain - t_entry, drain_s))
    base_sig.unpersist()
    base_idx.unpersist()
    return spark.read.parquet(dest).orderBy("batch_id", "base_id")


register(
    QuerySpec(
        "x172_stream_neardup",
        x172_stream_neardup,
        # Anti-drift: the streaming twin is gated against x111's batch
        # oracle verbatim — see docstring.
        __import__(
            "json_to_parquet_spark.queries.dedup", fromlist=["_x111_sql"]
        )._x111_sql(),
        "streaming LSH near-dup: micro-batches probe the static band index",
    )
)


# --- x212: streaming corpus-quality gate -------------------------------------
def x212_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x203's Gopher-rule battery: documents arrive as
    a file-source stream and every micro-batch emits its per-source
    rule-pass COUNTS (additive partials); the drained union re-aggregates
    to pass rates — bit-identical to the one-shot batch result, so
    x203's REGISTERED oracle is reused verbatim (the x172 anti-drift
    pattern applied to the quality layer).  This is the intake shape a
    continuously-crawled corpus actually runs: per-slice quality
    partials merged into the corpus health table, no re-scan of history.
    """
    from .curation import gopher_pass_rates, gopher_rule_counts

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x212_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"out_x212_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x212_{sf_tag}")
    _fresh(src, dest, ckpt)

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    docs.repartition(4, "doc_id").write.parquet(src)

    def handle_batch(bdf, _bid: int) -> None:
        gopher_rule_counts(bdf).write.mode("append").parquet(dest)

    q = (
        spark.readStream.schema("doc_id bigint, text string, source string, n_chars bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return gopher_pass_rates(spark.read.parquet(dest))


def _register_x212() -> None:
    # Anti-drift: the streaming twin is gated against x203's batch
    # oracle VERBATIM (the x172 registry-reuse pattern; curation
    # registers before this module in registry()'s import order).
    # Explicit producer import: direct `import streaming_gate`
    # (tests, tooling) must not depend on registry()'s import
    # order for this lookup to resolve (the ADVICE-r12 x270
    # lesson applied to every _REGISTRY reuse in this module).
    from . import _REGISTRY, curation  # noqa: F401

    register(
        QuerySpec(
            "x212_stream_quality_gate",
            x212_stream_quality_gate,
            _REGISTRY["x203_gopher_rules"].oracle,
            "streaming Gopher gate: per-micro-batch rule partials == batch result",
        )
    )


_register_x212()


# --- x223: streaming index CDC — micro-batch adds into the frozen quantizer ----
def x223_stream_index_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x220's incremental index maintenance: the base
    corpus's assignments are written once (the index build job), the
    ~10% add-batch arrives as a file-source stream, and every
    micro-batch routes its vectors against the SAME frozen quantizer
    frames (`route_two_level` — bit-identical tie/rounding semantics)
    and appends its narrow (vec_id, is_add, cell) partials; the drained
    union feeds the identical split logic, so x220's REGISTERED oracle
    is reused verbatim (the x172/x212 anti-drift pattern applied to the
    index layer).  This is the shape a continuously-ingesting vector
    store actually runs: per-slice assignment partials appended to the
    placement ledger, splits decided at compaction time, no re-route of
    history."""
    from .similarity import (
        ADD_MOD,
        ivf_k0,
        ivf_nlist,
        maintenance_ledger,
        route_two_level,
        two_level_cent_sup,
    )

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x223_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"out_x223_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x223_{sf_tag}")
    _fresh(src, dest, ckpt)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_add = F.col("vec_id") % ADD_MOD == ADD_MOD - 1
    sup = emb.filter(F.col("vec_id") < ivf_k0(spark, sf_dir)).select(
        F.col("vec_id").alias("s_id"), F.col("embedding").alias("s_vec")
    )
    cent_sup = two_level_cent_sup(spark, sf_dir).localCheckpoint()
    nlist = ivf_nlist(spark, sf_dir)
    # the index BUILD job's output: base assignments, written once
    route_two_level(
        emb.filter(~is_add), sup, cent_sup, cent_rows=nlist
    ).select(
        "vec_id", F.lit(False).alias("is_add"), F.col("c_id").alias("cell")
    ).write.parquet(dest)
    # the add stream: 4 files → 4 micro-batches
    emb.filter(is_add).repartition(4, "vec_id").write.parquet(src)

    def handle_batch(bdf: DataFrame, _bid: int) -> None:
        route_two_level(bdf, sup, cent_sup, cent_rows=nlist).select(
            "vec_id", F.lit(True).alias("is_add"), F.col("c_id").alias("cell")
        ).write.mode("append").parquet(dest)

    q = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    placed = spark.read.parquet(dest).localCheckpoint()
    return maintenance_ledger(spark, sf_dir, placed)


def _register_x223() -> None:
    # Anti-drift: gated against x220's batch oracle VERBATIM (similarity
    # registers before this module in registry()'s import order).
    # Explicit producer import: direct `import streaming_gate`
    # (tests, tooling) must not depend on registry()'s import
    # order for this lookup to resolve (the ADVICE-r12 x270
    # lesson applied to every _REGISTRY reuse in this module).
    from . import _REGISTRY, similarity  # noqa: F401

    register(
        QuerySpec(
            "x223_stream_index_cdc",
            x223_stream_index_cdc,
            _REGISTRY["x220_ivf_incremental_maintenance"].oracle,
            "streaming index CDC: per-micro-batch frozen-quantizer adds == batch ledger",
        )
    )


_register_x223()


# --- x234: streaming DELETE CDC — micro-batch tombstones into the ledger -------
def x234_stream_tombstone_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x224's tombstone/compaction ledger — the
    DELETE-side completion of the index lifecycle's streaming arrows
    (x223 streams adds; this streams deletes): the index layout
    (vec_id → cell) is built once, DELETE events arrive as a 4-file
    micro-batch stream of bare vec_ids, and every batch resolves its
    ids against the FROZEN layout (one key-equi hash join per batch —
    how a real vector store turns an id-keyed delete into a list-keyed
    tombstone) and appends narrow (vec_id, cell) tombstone partials to
    the delete ledger.  The drained ledger left-joined back to the
    layout feeds ``tombstone_rollup`` — x224's arithmetic VERBATIM —
    so x224's REGISTERED oracle gates the whole loop (the x172/x212/
    x223 anti-drift pattern).

    Scale shapes: base layout is the ~n^1.25 assignment written once;
    each micro-batch's work is batch-sized (id join against the
    cell-keyed layout + a narrow append); the final rollup is one
    key-shuffle agg of (cell, flag) rows."""
    from .similarity import TOMB_MOD, tombstone_rollup, two_level_lists

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x234_{sf_tag}")
    base_dir = os.path.join(GATE_DIR, f"base_x234_{sf_tag}")
    del_dir = os.path.join(GATE_DIR, f"del_x234_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x234_{sf_tag}")
    _fresh(src, base_dir, del_dir, ckpt)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    # the index BUILD job's output: every vector's inverted list, once
    emb.join(two_level_lists(spark, sf_dir), "vec_id").select(
        "vec_id", F.col("list_c").alias("cell")
    ).write.parquet(base_dir)
    base = spark.read.parquet(base_dir)
    # the delete feed: bare ids, 4 files -> 4 micro-batches
    emb.filter(F.col("vec_id") % TOMB_MOD == 2).repartition(
        4, "vec_id"
    ).write.parquet(src)

    def handle_batch(bdf: DataFrame, _bid: int) -> None:
        bdf.join(base, "vec_id").select("vec_id", "cell").write.mode(
            "append"
        ).parquet(del_dir)

    q = (
        spark.readStream.schema("vec_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    drained = spark.read.parquet(del_dir).select(
        "vec_id", F.lit(True).alias("dead_f")
    )
    placed = base.join(drained.select("vec_id", "dead_f"), "vec_id", "left").select(
        "cell", F.coalesce("dead_f", F.lit(False)).alias("dead")
    )
    return tombstone_rollup(placed)


def _register_x234() -> None:
    # Anti-drift: gated against x224's batch oracle VERBATIM (similarity
    # registers before this module in registry()'s import order).
    # Explicit producer import: direct `import streaming_gate`
    # (tests, tooling) must not depend on registry()'s import
    # order for this lookup to resolve (the ADVICE-r12 x270
    # lesson applied to every _REGISTRY reuse in this module).
    from . import _REGISTRY, similarity  # noqa: F401

    register(
        QuerySpec(
            "x234_stream_tombstone_cdc",
            x234_stream_tombstone_cdc,
            _REGISTRY["x224_tombstone_compaction"].oracle,
            "streaming delete CDC: micro-batch tombstones == x224's batch ledger",
        )
    )


_register_x234()


def x242_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x237's drift MONITOR — how the PSI check runs
    in production: the incoming (drifted) snapshot arrives as a 4-file
    micro-batch stream; each batch routes its vectors through the
    FROZEN serving quantizer (the x223 frozen-frames pattern) and
    appends narrow (c_id, cnt) occupancy partials; the drained partials
    sum into the new snapshot's cell counts (exact integers — partial
    counts compose associatively, so batching cannot change the total),
    and the PSI/decision arithmetic is ``drift_psi`` — x237's code
    VERBATIM — gated against the monitor half of x237's oracle (the
    x172/x212/x223/x234 anti-drift pattern).

    Scale shapes: the frozen quantizer frames are written once (nlist
    rows + K0 rows); each micro-batch's work is batch-sized (two
    bounded broadcast hops + a narrow count rollup); the monitor tail
    runs on ≤nlist-row frames."""
    from .similarity import (
        _drifted,
        _quantizer_frames,
        cent_sup_for,
        drift_psi,
        route_two_level,
        DRIFT_RETRAIN_PSI,
    )

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x242_{sf_tag}")
    part_dir = os.path.join(GATE_DIR, f"parts_x242_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x242_{sf_tag}")
    _fresh(src, part_dir, ckpt)

    corpus, sup, _cent_seed, cent_lloyd, nlist = _quantizer_frames(
        spark, sf_dir
    )
    cs = cent_sup_for(cent_lloyd, sup)
    # freeze the routing frames the handler closes over (bounded:
    # K0 + nlist rows — the serving quantizer, not the corpus)
    sup_f = sup.localCheckpoint()
    cs_f = cs.localCheckpoint()
    # the incoming feed: the drifted snapshot, 4 files -> 4 micro-batches
    _drifted(corpus).repartition(4, "vec_id").write.parquet(src)

    def handle_batch(bdf: DataFrame, _bid: int) -> None:
        (
            route_two_level(bdf, sup_f, cs_f, cent_rows=nlist)
            .groupBy("c_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .write.mode("append")
            .parquet(part_dir)
        )

    q = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    pops_new = (
        spark.read.parquet(part_dir)
        .groupBy("c_id")
        .agg(F.sum("cnt").alias("cn"))
    )
    from .similarity import serving_occupancy_path

    # serving-side occupancy = index metadata, read from the store
    pops_old = spark.read.parquet(serving_occupancy_path(spark, sf_dir))
    psi_df = drift_psi(cent_lloyd.select("c_id"), pops_old, pops_new)
    stale = pops_new.agg(F.max("cn").alias("stale_max_pop"))
    return psi_df.crossJoin(stale).select(
        "psi",
        F.when(F.col("psi") > F.lit(DRIFT_RETRAIN_PSI), F.lit("retrain"))
        .otherwise(F.lit("hold"))
        .alias("decision"),
        F.col("stale_max_pop").cast("long").alias("stale_max_pop"),
    )


def _x242_sql() -> str:
    from .similarity import SQL_DRIFT_THR, _drift_monitor_ctes

    return f"""
        WITH {_drift_monitor_ctes()}
        SELECT p.psi AS psi,
               CASE WHEN p.psi > {SQL_DRIFT_THR}
                    THEN 'retrain' ELSE 'hold' END AS decision,
               CAST(s.mp AS BIGINT) AS stale_max_pop
        FROM psi p, stale s
        """


register(
    QuerySpec(
        "x242_stream_drift_monitor",
        x242_stream_drift_monitor,
        _x242_sql(),
        "streaming drift monitor: micro-batch occupancy partials == x237's batch PSI + decision",
    )
)


def x251_stream_label_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x250's incremental labeler — how label CDC
    runs in production: the add batch arrives as a 4-file micro-batch
    stream; each batch routes its vectors through the FROZEN quantizer
    (per-vector independent, so the routed partials compose exactly —
    the x242 occupancy argument applied to assignments) and appends
    narrow (vec_id, cell, d) rows; the drained set is tail-rung, linked
    against the persisted base segment, and voted against the frozen
    base-LP label state — x250's tail VERBATIM (`_label_cdc_stats`),
    gated against x250's registered oracle (the x172/x212/x223/x234/
    x242 anti-drift pattern).

    Scale shapes: per micro-batch work is batch-sized (two bounded
    broadcast hops); the tail is add-batch-sized (ring windows + capped
    links over ≤2·CAP candidates per add + one vote join); the base LP
    runs over the persisted segment's n·K edges, never rebuilt."""
    from .graph_ssl import _gadd_frames, _label_cdc_stats
    from .graph_ssl import _quantizer_frames as _graph_qf
    from .similarity import ivf_nlist, route_two_level

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x251_{sf_tag}")
    part_dir = os.path.join(GATE_DIR, f"parts_x251_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x251_{sf_tag}")
    _fresh(src, part_dir, ckpt)

    _emb, sup, cs = _graph_qf(spark, sf_dir)
    nlist = ivf_nlist(spark, sf_dir)
    sup_f = sup.localCheckpoint()
    cs_f = cs.localCheckpoint()
    _e, _b, adds = _gadd_frames(spark, sf_dir)
    adds.select("vec_id", F.col("v").alias("embedding")).repartition(
        4, "vec_id"
    ).write.parquet(src)

    def handle_batch(bdf: DataFrame, _bid: int) -> None:
        (
            route_two_level(
                bdf, sup_f, cs_f, cent_rows=nlist, include_dist=True
            )
            .select("vec_id", F.col("c_id").alias("cell"), "d")
            .write.mode("append")
            .parquet(part_dir)
        )

    q = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return _label_cdc_stats(spark, sf_dir, spark.read.parquet(part_dir))


def _x251_sql() -> str:
    from .graph_ssl import _x250_sql

    # shared oracle: streaming partials compose to exactly the batch
    # labeler's inputs, so the output must match x250 bit-for-bit
    return _x250_sql()


register(
    QuerySpec(
        "x251_stream_label_cdc",
        x251_stream_label_cdc,
        _x251_sql(),
        "streaming label CDC: micro-batch routed partials + one drained vote == x250 bit-for-bit",
    )
)


def x254_stream_bpe_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x252's incremental BPE retrain — how tokenizer
    maintenance consumes a document feed: the ingestion slice arrives
    as a 4-file micro-batch stream; each batch tokenizes ITS documents
    and appends narrow (word, cnt) count partials (counts are exact
    integers that compose additively, so batching cannot change any
    total — the x242/x251 argument applied to word frequencies); the
    drained partials sum into the slice's word-count table and the
    vocab-sized retrain runs ONCE via `_bpe_cdc_stats` — x252's tail
    VERBATIM, gated against x252's registered oracle (the anti-drift
    pattern).

    Scale shapes: per micro-batch work is batch-sized (one explode +
    token-keyed partial agg); the drained sum is a vocab-sized shuffle;
    the merge loops run in one Arrow task over the tagged counts."""
    from .tokenizer import BPE_CDC_MOD, _bpe_cdc_stats

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x254_{sf_tag}")
    part_dir = os.path.join(GATE_DIR, f"parts_x254_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x254_{sf_tag}")
    _fresh(src, part_dir, ckpt)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.filter(F.col("doc_id") % BPE_CDC_MOD == 3).repartition(
        4, "doc_id"
    ).write.parquet(src)

    def handle_batch(bdf: DataFrame, _bid: int) -> None:
        (
            bdf.select(
                F.explode(F.split(F.lower("text"), " ")).alias("word")
            )
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .write.mode("append")
            .parquet(part_dir)
        )

    q = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    drained = (
        spark.read.parquet(part_dir)
        .groupBy("word")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return _bpe_cdc_stats(spark, sf_dir, drained)


def _x254_sql() -> str:
    from .tokenizer import _x252_sql

    # shared oracle: count partials compose to exactly the batch
    # trainer's inputs, so the rule table must match x252 bit-for-bit
    return _x252_sql()


register(
    QuerySpec(
        "x254_stream_bpe_cdc",
        x254_stream_bpe_cdc,
        _x254_sql(),
        "streaming BPE CDC: micro-batch word-count partials + one drained retrain == x252 bit-for-bit",
    )
)


def x264_stream_graph_tombstones(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of x263's graph tombstone compaction — the
    DELETE-side completion of the GRAPH lifecycle's streaming arrows
    (x251 streams adds/labels; this streams deletes, as x234 does for
    the IVF family): delete events arrive as a 4-file micro-batch
    stream of bare vec_ids; each batch resolves its ids against the
    FROZEN routing (one key-equi hash join per batch — how a store
    turns an id-keyed delete into a cell-keyed dirty mark) and appends
    narrow (vec_id, cell) tombstone partials to the delete ledger; the
    drained ledger's id set feeds ``_graph_tombstone_compact_from`` —
    x263's compactor VERBATIM — so x263's registered oracle gates the
    whole loop (the x172/x212/x223/x234/x251 anti-drift pattern:
    delete-set membership composes as a set union, so batching cannot
    change the compaction).

    Scale shapes: the frozen routing base is the ~n^1.25 assignment
    written once; each micro-batch's work is batch-sized; the
    compaction tail is x263's (hot-cell capped pair pass + the kept
    segment's store scan)."""
    from .graph_ssl import _graph_tombstone_compact_from, _route_with_dist
    from .similarity import TOMB_MOD

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x264_{sf_tag}")
    base_dir = os.path.join(GATE_DIR, f"base_x264_{sf_tag}")
    del_dir = os.path.join(GATE_DIR, f"del_x264_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x264_{sf_tag}")
    _fresh(src, base_dir, del_dir, ckpt)

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # the graph build job's routing output, frozen once — the distance
    # kept so the compactor can re-ring without re-routing (the
    # base_graph_paths economics; code-review r13: the drained tail
    # reuses this frame instead of paying a second ~n^1.25 assignment)
    _route_with_dist(spark, sf_dir, emb).write.parquet(base_dir)
    base = spark.read.parquet(base_dir)
    # the delete feed: bare ids, 4 files -> 4 micro-batches
    emb.select("vec_id").filter(F.col("vec_id") % TOMB_MOD == 2).repartition(
        4, "vec_id"
    ).write.parquet(src)

    def handle_batch(bdf: DataFrame, _bid: int) -> None:
        bdf.join(base.select("vec_id", "cell"), "vec_id").select(
            "vec_id", "cell"
        ).write.mode("append").parquet(del_dir)

    q = (
        spark.readStream.schema("vec_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    drained = spark.read.parquet(del_dir).select("vec_id")
    return _graph_tombstone_compact_from(spark, sf_dir, drained, routed=base)


def _register_x264() -> None:
    # Anti-drift: gated against x263's batch oracle VERBATIM (graph_ssl
    # registers before this module in registry()'s import order).
    # Explicit producer import: direct `import streaming_gate`
    # (tests, tooling) must not depend on registry()'s import
    # order for this lookup to resolve (the ADVICE-r12 x270
    # lesson applied to every _REGISTRY reuse in this module).
    from . import _REGISTRY, graph_ssl  # noqa: F401

    register(
        QuerySpec(
            "x264_stream_graph_tombstones",
            x264_stream_graph_tombstones,
            _REGISTRY["x263_graph_tombstone_compact"].oracle,
            "streaming graph deletes: drained micro-batch tombstones == x263's batch compaction",
        )
    )


_register_x264()


def x270_stream_retok_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x266's swap-adoption policy — how tokenizer
    maintenance actually reaches the swap decision on a live feed: the
    ingestion slice arrives as a 4-file micro-batch stream; each batch
    appends narrow (word, cnt) count partials (x254's drain — exact
    integers composing additively, so batching cannot change any
    total); the drained sum feeds the impact measurement and the
    integer policy ONCE (`_swap_impact_from` → `_swap_policy_from`,
    x266's Column expressions byte-for-byte), gated against x266's
    registered oracle (the anti-drift pattern: x254 proves the drained
    counts equal the batch trainer's, this proves the DECISION built
    on them equals the batch policy's).

    Scale shapes: per micro-batch work is batch-sized; the drained sum
    is a vocab-sized shuffle; measure + decide run in one vocab-sized
    Arrow task + a 1-row select."""
    from .tokenizer import BPE_CDC_MOD, _swap_impact_from, _swap_policy_from

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x270_{sf_tag}")
    part_dir = os.path.join(GATE_DIR, f"parts_x270_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x270_{sf_tag}")
    _fresh(src, part_dir, ckpt)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.filter(F.col("doc_id") % BPE_CDC_MOD == 3).repartition(
        4, "doc_id"
    ).write.parquet(src)

    def handle_batch(bdf: DataFrame, _bid: int) -> None:
        (
            bdf.select(
                F.explode(F.split(F.lower("text"), " ")).alias("word")
            )
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .write.mode("append")
            .parquet(part_dir)
        )

    q = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    drained = (
        spark.read.parquet(part_dir)
        .groupBy("word")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return _swap_policy_from(_swap_impact_from(spark, sf_dir, drained))


def _register_x270() -> None:
    # Anti-drift: gated against x266's batch oracle VERBATIM.  registry()
    # imports THIS module before tokenizer, so force the x266
    # registration explicitly rather than relying on the accident that
    # _x254_sql() above happens to import .tokenizer first (ADVICE r12:
    # a refactor of x254's oracle builder would otherwise turn every
    # registry() call into a KeyError here).
    from . import _REGISTRY, tokenizer  # noqa: F401

    register(
        QuerySpec(
            "x270_stream_retok_policy",
            x270_stream_retok_policy,
            _REGISTRY["x266_retok_swap_policy"].oracle,
            "streaming swap policy: the decision over drained count partials == x266's batch decision",
        )
    )


_register_x270()


def x275_stream_append_optimize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of x273's incremental OPTIMIZE — how a warehouse
    maintenance job actually learns about an append: the ingest's
    partition-commit feed.  The appended dates' events arrive as a
    4-file micro-batch stream; each batch appends narrow (d, cnt)
    partition-manifest partials (date membership composes as a set
    union — the x264 delete-ledger argument applied to appends, so
    batching cannot change which bins the merge touches); the drained
    manifest's date set feeds ``_inc_write_base`` / ``_inc_append_merge``
    — x273's phases VERBATIM, parameterized for exactly this — into a
    session-fresh layout, gated against x273's registered oracle (==
    x265's full-rewrite oracle; the anti-drift pattern squared: the
    streamed manifest must produce the layout the batch rule and the
    full rewrite both produce).  The drained set is asserted equal to
    the batch rule's append slice — a partial drain fails loudly.

    Scale shapes: per micro-batch work is batch-sized (one date-keyed
    partial agg); the merge tail is x273's (touched-bins-only dynamic
    overwrite; the layout rebuild here is per-call because the output
    dir is session-fresh — the store economics live in x273)."""
    from .scale_layout import (
        EVENTS_APPEND_DATES,
        _bin_content_proof,
        _event_date_spine,
        _inc_append_merge,
        _inc_write_base,
        events_partitioned_path,
    )

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x275_{sf_tag}")
    man_dir = os.path.join(GATE_DIR, f"manifest_x275_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"layout_x275_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x275_{sf_tag}")
    _fresh(src, man_dir, dest, ckpt)

    spine = _event_date_spine(spark, sf_dir)
    app_dates = {
        r.d
        for r in spine.filter(
            F.col("rn") > F.col("n_dates") - EVENTS_APPEND_DATES
        )
        .select("d")
        .collect()  # ≤ EVENTS_APPEND_DATES rows — spine metadata
    }
    ev = spark.read.parquet(events_partitioned_path(spark, sf_dir))
    (
        ev.withColumn("d", F.col("d").cast("string"))
        .filter(F.col("d").isin(sorted(app_dates)))
        .select("event_id", "d")
        .repartition(4, "event_id")
        .write.parquet(src)
    )

    def handle_batch(bdf: DataFrame, _bid: int) -> None:
        (
            bdf.groupBy("d")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .write.mode("append")
            .parquet(man_dir)
        )

    q = (
        spark.readStream.schema("event_id bigint, d string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    drained = spark.read.parquet(man_dir).select("d").distinct()
    got_dates = {r.d for r in drained.collect()}
    if got_dates != app_dates:  # partial drain must fail loudly
        raise AssertionError(
            f"drained manifest {sorted(got_dates)} != append slice "
            f"{sorted(app_dates)}"
        )
    _inc_write_base(spark, sf_dir, dest, appended_dates=drained)
    _inc_append_merge(spark, sf_dir, dest, appended_dates=drained)
    return _bin_content_proof(spark.read.parquet(dest))


def _register_x275() -> None:
    # Anti-drift: gated against x273's oracle VERBATIM (== x265's
    # full-rewrite oracle — scale_layout registers before this module).
    # Explicit producer import: direct `import streaming_gate`
    # (tests, tooling) must not depend on registry()'s import
    # order for this lookup to resolve (the ADVICE-r12 x270
    # lesson applied to every _REGISTRY reuse in this module).
    from . import _REGISTRY, scale_layout  # noqa: F401

    register(
        QuerySpec(
            "x275_stream_append_optimize",
            x275_stream_append_optimize,
            _REGISTRY["x273_append_optimize_execute"].oracle,
            "streaming append OPTIMIZE: the drained partition manifest merges into exactly the full rewrite's layout",
        )
    )


_register_x275()


def x278_stream_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the binaryFile media ingest (x277): real .ppm
    files arrive as a ``binaryFile`` FILE STREAM (the blob-store
    continuous-ingest shape — new media objects land in a prefix and
    each micro-batch decodes only its own files), drained with
    availableNow over ~4 file-batches into an append sink.  Per-file
    rows are independent, so the union of per-batch outputs equals the
    one-shot batch read by construction — x277's REGISTERED oracle is
    reused verbatim (the x172/x242/x251/x254/x264/x270/x275 anti-drift
    pattern applied to the media path).  The decode stage is the SAME
    ``extract_image_stats`` mapInPandas the batch path runs: no
    shuffle, per-partition Python, whole-Arrow-batch transfer."""
    import math
    import shutil as _sh

    from ..operators.media import extract_image_stats
    from .multimodal import media_fixture_dir

    fixture = media_fixture_dir(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x278_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"out_x278_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x278_{sf_tag}")
    _fresh(src, dest, ckpt)
    os.makedirs(src, exist_ok=True)
    names = sorted(f for f in os.listdir(fixture) if f.endswith(".ppm"))
    for f in names:
        _sh.copy(os.path.join(fixture, f), os.path.join(src, f))
    per_trigger = max(1, math.ceil(len(names) / 4))

    def handle_batch(bdf, _bid: int) -> None:
        files = bdf.select(
            F.regexp_extract(F.col("path"), r"img_(\d+)\.ppm$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("src_length"),
            F.col("content").alias("payload"),
        )
        out = extract_image_stats(files).join(
            files.select("doc_id", "src_length"), "doc_id"
        )
        (
            out.select(
                "doc_id",
                "src_length",
                "n_bytes",
                "width",
                "height",
                "pix_sum",
                (F.col("src_length") == F.col("n_bytes")).alias(
                    "length_agrees"
                ),
            )
            .write.mode("append")
            .parquet(dest)
        )

    q = (
        spark.readStream.format("binaryFile")
        # streaming sources require the schema up front; binaryFile's is
        # fixed by the format
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.ppm")
        .option("maxFilesPerTrigger", per_trigger)
        .load(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.read.parquet(dest).orderBy("doc_id")


def _register_x278() -> None:
    # Anti-drift: gated against x277's oracle VERBATIM.  registry()
    # imports this module before multimodal, so force the registration
    # explicitly (the x270 lesson, ADVICE r12).
    from . import _REGISTRY, multimodal  # noqa: F401

    register(
        QuerySpec(
            "x278_stream_media_decode",
            x278_stream_media_decode,
            _REGISTRY["x277_media_binaryfile_source"].oracle,
            "streaming binaryFile media ingest: drained per-batch decodes union to the batch read",
        )
    )


_register_x278()


def x282_stream_media_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the perceptual-hash extraction (x279): real
    .ppm files arrive as a ``binaryFile`` FILE STREAM and each
    micro-batch decodes + dHashes only its own files with the SAME
    ``extract_image_dhash`` mapInPandas the batch path runs, appending
    per-image hash rows.  Per-file rows are independent, so the union
    of per-batch outputs equals the one-shot batch computation by
    construction — the oracle is x279's SQL restricted to the fixture's
    file subset (doc_id ≡ 0 mod MEDIA_FILE_MOD), the x278 anti-drift
    shape: the streaming hash path can never diverge from the batch
    op's contract without the gate seeing it."""
    import math
    import shutil as _sh

    from ..operators.media import extract_image_dhash
    from .multimodal import media_fixture_dir

    fixture = media_fixture_dir(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x282_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"out_x282_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x282_{sf_tag}")
    _fresh(src, dest, ckpt)
    os.makedirs(src, exist_ok=True)
    names = sorted(f for f in os.listdir(fixture) if f.endswith(".ppm"))
    for f in names:
        _sh.copy(os.path.join(fixture, f), os.path.join(src, f))
    per_trigger = max(1, math.ceil(len(names) / 4))

    def handle_batch(bdf, bid: int) -> None:
        files = bdf.select(
            F.regexp_extract(F.col("path"), r"img_(\d+)\.ppm$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("content").alias("payload"),
        )
        _write_batch_idempotent(extract_image_dhash(files), bid, dest)

    q = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.ppm")
        .option("maxFilesPerTrigger", per_trigger)
        .load(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return _read_batches(spark, dest).orderBy("doc_id")


def _register_x282() -> None:
    # Oracle builder imported from multimodal directly (not a _REGISTRY
    # lookup) so this registration carries no import-order dependency —
    # the ADVICE-r12 x270 lesson.
    from .multimodal import MEDIA_FILE_MOD, _x279_sql

    register(
        QuerySpec(
            "x282_stream_media_dhash",
            x282_stream_media_dhash,
            _x279_sql(where=f"WHERE doc_id % {MEDIA_FILE_MOD} = 0"),
            "streaming binaryFile dHash: drained per-batch hashes union to the batch extraction",
        )
    )


_register_x282()


def x285_stream_media_dedup_policy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of x283's store-dedup adoption policy — how a
    blob-store maintenance loop actually reaches the decision on a
    live ingest: the corpus arrives as a 4-file micro-batch stream;
    each batch decodes + dHashes ONLY its own images (the same
    ``extract_image_dhash`` stage) and appends narrow per-hash partials
    (refs, logical bytes, min doc, min doc's bytes); the drained
    partials compose exactly — counts and byte sums add, and the
    keeper is min-of-mins with its bytes carried by ``min_by`` on the
    batch-min doc_id — then measure + decide run ONCE through x283's
    Column expressions verbatim (``_dedup_policy_from``), gated against
    x283's registered oracle (the x270 anti-drift shape: partials
    compose exactly, so batching cannot change the decision).

    Scale shapes: per micro-batch work is batch-sized and shuffle-free
    until the per-hash partial agg; the drained compose is a
    hash-keyed shuffle; the decision is one 1-row select."""
    from ..operators.media import (
        documents_as_image_media,
        extract_image_dhash,
    )
    from .multimodal import _dedup_policy_from

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x285_{sf_tag}")
    part_dir = os.path.join(GATE_DIR, f"parts_x285_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x285_{sf_tag}")
    _fresh(src, part_dir, ckpt)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs.repartition(4, "doc_id").write.parquet(src)

    def handle_batch(bdf: DataFrame, bid: int) -> None:
        h = extract_image_dhash(documents_as_image_media(bdf, fmt="ppm"))
        partials = h.groupBy("dhash_hex").agg(
            F.count(F.lit(1)).alias("refs"),
            F.sum("n_bytes").alias("logical"),
            F.min("doc_id").alias("min_doc"),
            F.min_by("n_bytes", "doc_id").alias("min_doc_bytes"),
        )
        # Idempotent per-batch sink: a retried batch must not
        # double-count refs/bytes and flip the decision (ADVICE r13).
        _write_batch_idempotent(partials, bid, part_dir)

    q = (
        spark.readStream.schema("doc_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    drained = (
        _read_batches(spark, part_dir)
        .groupBy("dhash_hex")
        .agg(
            F.sum("refs").alias("refs"),
            F.sum("logical").alias("logical"),
            F.min_by("min_doc_bytes", "min_doc").alias("stored"),
        )
    )
    return _dedup_policy_from(drained)


def _register_x285() -> None:
    # Anti-drift: gated against x283's batch oracle VERBATIM (oracle
    # builder imported directly from multimodal — no _REGISTRY
    # import-order dependency, the ADVICE-r12 x270 lesson).
    from .multimodal import _x283_sql

    register(
        QuerySpec(
            "x285_stream_media_dedup_policy",
            x285_stream_media_dedup_policy,
            _x283_sql(),
            "streaming store-dedup policy: drained per-hash partials reach exactly the batch decision",
        )
    )


_register_x285()


def x292_stream_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the binaryFile audio ingest (x290): real .wav
    files arrive as a ``binaryFile`` FILE STREAM, each micro-batch
    chunk-walks + stats only its own clips with the SAME
    ``extract_audio_stats`` mapInPandas the batch path runs, appending
    per-clip rows.  Per-file independence ⇒ union == the one-shot
    batch read, so x290's REGISTERED oracle is reused verbatim (the
    x278 anti-drift shape on the audio leg)."""
    import math
    import shutil as _sh

    from ..operators.media import extract_audio_stats
    from .multimodal import audio_fixture_dir

    fixture = audio_fixture_dir(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x292_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"out_x292_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x292_{sf_tag}")
    _fresh(src, dest, ckpt)
    os.makedirs(src, exist_ok=True)
    names = sorted(f for f in os.listdir(fixture) if f.endswith(".wav"))
    for f in names:
        _sh.copy(os.path.join(fixture, f), os.path.join(src, f))
    per_trigger = max(1, math.ceil(len(names) / 4))

    def handle_batch(bdf, bid: int) -> None:
        files = bdf.select(
            F.regexp_extract(F.col("path"), r"clip_(\d+)\.wav$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("src_length"),
            F.col("content").alias("payload"),
        )
        out = extract_audio_stats(files).join(
            files.select("doc_id", "src_length"), "doc_id"
        )
        _write_batch_idempotent(
            out.select(
                "doc_id",
                "src_length",
                "n_bytes",
                "sample_rate",
                "n_samples",
                "sum_abs",
                (F.col("src_length") == F.col("n_bytes")).alias(
                    "length_agrees"
                ),
            ),
            bid,
            dest,
        )

    q = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.wav")
        .option("maxFilesPerTrigger", per_trigger)
        .load(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return _read_batches(spark, dest).orderBy("doc_id")


def _register_x292() -> None:
    # Oracle builder imported from multimodal directly — no
    # import-order dependency (the ADVICE-r12 x270 lesson).
    from .multimodal import _x290_sql

    register(
        QuerySpec(
            "x292_stream_audio_decode",
            x292_stream_audio_decode,
            _x290_sql(),
            "streaming binaryFile audio ingest: drained per-batch chunk-walk decodes union to the batch read",
        )
    )


def x304_stream_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the binaryFile video ingest (x296) — closes
    the modality-symmetry gap (image had x278/x282, audio x292, video
    none; VERDICT r13 ask #4): real .y4m files arrive as a
    ``binaryFile`` FILE STREAM, each micro-batch tag-parses +
    frame-walks only its own clips with the SAME ``extract_video_stats``
    mapInPandas the batch path runs, writing per-clip rows through the
    idempotent ``bid=N`` sink.  Per-file independence ⇒ drained union
    == the one-shot batch read, so x296's oracle is reused verbatim."""
    import math
    import shutil as _sh

    from ..operators.media import extract_video_stats
    from .multimodal import video_fixture_dir

    fixture = video_fixture_dir(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x304_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"out_x304_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x304_{sf_tag}")
    _fresh(src, dest, ckpt)
    os.makedirs(src, exist_ok=True)
    names = sorted(f for f in os.listdir(fixture) if f.endswith(".y4m"))
    for f in names:
        _sh.copy(os.path.join(fixture, f), os.path.join(src, f))
    per_trigger = max(1, math.ceil(len(names) / 4))

    def handle_batch(bdf, bid: int) -> None:
        files = bdf.select(
            F.regexp_extract(F.col("path"), r"vid_(\d+)\.y4m$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("src_length"),
            F.col("content").alias("payload"),
        )
        out = extract_video_stats(files).join(
            files.select("doc_id", "src_length"), "doc_id"
        )
        _write_batch_idempotent(
            out.select(
                "doc_id",
                "src_length",
                "n_bytes",
                "width",
                "height",
                "n_frames",
                "n_cuts",
                (F.col("src_length") == F.col("n_bytes")).alias(
                    "length_agrees"
                ),
            ),
            bid,
            dest,
        )

    q = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.y4m")
        .option("maxFilesPerTrigger", per_trigger)
        .load(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return _read_batches(spark, dest).orderBy("doc_id")


def _register_x304() -> None:
    # Oracle builder imported from multimodal directly — no
    # import-order dependency (the ADVICE-r12 x270 lesson).
    from .multimodal import _x296_sql

    register(
        QuerySpec(
            "x304_stream_video_decode",
            x304_stream_video_decode,
            _x296_sql(),
            "streaming binaryFile video ingest: drained per-batch frame-walk decodes union to the batch read",
        )
    )


_register_x304()


def x307_stream_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the PNG binaryFile ingest (x306): real .png
    files arrive as a ``binaryFile`` FILE STREAM, each micro-batch
    inflates + unfilters only its own files with the SAME
    ``extract_image_stats`` mapInPandas the batch path runs, writing
    per-image rows through the idempotent ``bid=N`` sink.  Per-file
    independence ⇒ drained union == the one-shot batch read, so x306's
    oracle is reused verbatim (the x278 anti-drift shape on the
    compressed-format leg)."""
    import math
    import shutil as _sh

    from ..operators.media import extract_image_stats
    from .multimodal import png_fixture_dir

    fixture = png_fixture_dir(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x307_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"out_x307_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x307_{sf_tag}")
    _fresh(src, dest, ckpt)
    os.makedirs(src, exist_ok=True)
    names = sorted(f for f in os.listdir(fixture) if f.endswith(".png"))
    for f in names:
        _sh.copy(os.path.join(fixture, f), os.path.join(src, f))
    per_trigger = max(1, math.ceil(len(names) / 4))

    def handle_batch(bdf, bid: int) -> None:
        files = bdf.select(
            F.regexp_extract(F.col("path"), r"img_(\d+)\.png$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("src_length"),
            F.col("content").alias("payload"),
        )
        out = extract_image_stats(files).join(
            files.select("doc_id", "src_length"), "doc_id"
        )
        _write_batch_idempotent(
            out.select(
                "doc_id",
                "width",
                "height",
                "pix_sum",
                (F.col("src_length") == F.col("n_bytes")).alias(
                    "length_agrees"
                ),
            ),
            bid,
            dest,
        )

    q = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.png")
        .option("maxFilesPerTrigger", per_trigger)
        .load(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return _read_batches(spark, dest).orderBy("doc_id")


def x311_stream_tar_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the tar shard re-read (x305): .tar shards land
    as a ``binaryFile`` FILE STREAM (the arrival shape of a WebDataset
    drop-off directory) and each micro-batch parses ONLY its own
    shards — a whole shard always sits in one binary row, so the
    per-shard rollup (member count, byte sum, doc range, identity
    check) is computable batch-locally and the drained union equals
    the one-shot batch read; x305's oracle is reused verbatim.
    Idempotent ``bid=N`` sink."""
    import math
    import shutil as _sh

    from ..operators.media import make_image
    from .multimodal import tar_shard_dir

    fixture = tar_shard_dir(spark, sf_dir)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(GATE_DIR, f"src_x311_{sf_tag}")
    dest = os.path.join(GATE_DIR, f"out_x311_{sf_tag}")
    ckpt = os.path.join(GATE_DIR, f"ckpt_x311_{sf_tag}")
    _fresh(src, dest, ckpt)
    os.makedirs(src, exist_ok=True)
    names = sorted(f for f in os.listdir(fixture) if f.endswith(".tar"))
    for f in names:
        _sh.copy(os.path.join(fixture, f), os.path.join(src, f))
    per_trigger = max(1, math.ceil(len(names) / 2))

    member_schema = T.StructType(
        [
            T.StructField("shard_id", T.LongType()),
            T.StructField("n_members", T.LongType()),
            T.StructField("member_bytes", T.LongType()),
            T.StructField("first_doc", T.LongType()),
            T.StructField("last_doc", T.LongType()),
            T.StructField("all_match", T.BooleanType()),
        ]
    )

    def parse_tars(it):
        import io
        import re
        import tarfile

        import pandas as pd

        for pdf in it:
            rows: dict[str, list] = {
                k: [] for k in member_schema.fieldNames()
            }
            for sid, content in zip(pdf["shard_id"], pdf["content"]):
                docs, sizes, match = [], [], True
                with tarfile.open(
                    fileobj=io.BytesIO(bytes(content)), mode="r:"
                ) as tf:
                    for m in tf.getmembers():
                        doc_id = int(
                            re.fullmatch(
                                r"img_(\d+)\.ppm", m.name
                            ).group(1)
                        )
                        payload = tf.extractfile(m).read()
                        docs.append(doc_id)
                        sizes.append(len(payload))
                        match = match and payload == make_image(
                            doc_id, "ppm"
                        )
                rows["shard_id"].append(int(sid))
                rows["n_members"].append(len(docs))
                rows["member_bytes"].append(sum(sizes))
                rows["first_doc"].append(min(docs))
                rows["last_doc"].append(max(docs))
                rows["all_match"].append(match)
            yield pd.DataFrame(
                {
                    k: pd.Series(
                        rows[k],
                        dtype="bool" if k == "all_match" else "int64",
                    )
                    for k in member_schema.fieldNames()
                }
            )

    def handle_batch(bdf, bid: int) -> None:
        shards = bdf.select(
            F.regexp_extract(F.col("path"), r"shard_(\d+)\.tar$", 1)
            .cast("long")
            .alias("shard_id"),
            F.col("content"),
        )
        _write_batch_idempotent(
            shards.mapInPandas(parse_tars, member_schema), bid, dest
        )

    q = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.tar")
        .option("maxFilesPerTrigger", per_trigger)
        .load(src)
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return _read_batches(spark, dest).orderBy("shard_id")


def _register_x311() -> None:
    # Oracle builder imported from multimodal directly — no
    # import-order dependency (the ADVICE-r12 x270 lesson).
    from .multimodal import _x305_sql

    register(
        QuerySpec(
            "x311_stream_tar_ingest",
            x311_stream_tar_ingest,
            _x305_sql(),
            "streaming tar shard ingest: per-batch shard parses union to the batch round-trip read",
        )
    )


_register_x311()


def _register_x307() -> None:
    # Oracle builder imported from multimodal directly — no
    # import-order dependency (the ADVICE-r12 x270 lesson).
    from .multimodal import _x306_sql

    register(
        QuerySpec(
            "x307_stream_png_decode",
            x307_stream_png_decode,
            _x306_sql(),
            "streaming binaryFile PNG ingest: drained per-batch inflate+unfilter decodes union to the batch read",
        )
    )


_register_x307()


_register_x292()
