"""Streaming evidence at the correctness gate.

These entries run REAL Structured Streaming jobs (file source,
checkpointed, drained with availableNow) and expose what
the drain produced as an ordinary DataFrame the driver diffs against a
DuckDB oracle.  ``x28_stream_convert`` is the reference's event-driven
contract (an object lands → a converted Parquet file appears; reference
pyarrow/main.py:18-50); the others are the stateful operators and the
streaming twins of batch entries.

Every entry drains through one harness:

* ``_scratch`` — fresh ``{src,out,ckpt}_{tag}_{sf}`` directories, wiped
  per call, so every gate run reprocesses from scratch and is
  deterministic;
* ``_source`` — stages a feed (a DataFrame, one file per arrival
  bucket, or a ``(directory, glob)`` binaryFile drop) and returns its
  file stream;
* ``_run`` — checkpoint, availableNow, start and ``_drain``;
* one of three sinks: the idempotent ``bid=N`` Parquet sink of the
  twins (``_twin``), the native file sink for event-sized results
  (``_to_files``), and the driver-rows sink for bounded results
  (``_to_rows``), which leaves no memory sink or temp view behind.

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

import fnmatch
import importlib
import math
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..sources.catalog import load_table
from . import _REGISTRY, QuerySpec, register
from .convert_gate import FIXTURE_PATH, GATE_DIR, ensure_convert_fixture
from .helpers import inline_rows

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

# One bound for every gate drain, sized for the slowest (x147's
# outer join at sf0.01).
DRAIN_TIMEOUT_S = 900


def _drain(q) -> None:
    """awaitTermination with the timeout treated as a FAILURE, not a
    shrug: every gate here reads the drained sink directly afterwards,
    so a still-running stream would silently hand the tail a PARTIAL
    directory (wrong stats that may still hash cleanly).  Raising turns
    the flake into a visible error (code-review r12 finding)."""
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming drain did not complete within {DRAIN_TIMEOUT_S}s"
        )


def _scratch(tag: str, sf_dir: str) -> tuple[str, str, str]:
    """Fresh ``(src, out, ckpt)`` directories ``{kind}_{tag}_{sf}`` under
    GATE_DIR.  They are wiped on every call and hold no warm state (the
    persisted stores go through ``store.build_once``)."""
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    dirs = tuple(
        os.path.join(GATE_DIR, f"{kind}_{tag}_{sf_tag}")
        for kind in ("src", "out", "ckpt")
    )
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    return dirs


def _write_buckets(frame: DataFrame, bucket: str, src: str) -> DataFrame:
    """Fixture prep (gate harness, not the operator): one Parquet file
    per value of ``bucket`` in value order, with strictly increasing
    mtimes, so a one-file-per-trigger stream delivers exactly one bucket
    per micro-batch, in order.  Returns the streamed columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = frame.drop(bucket)
    pdf = frame.toPandas()  # bounded: the gate's event fixture, not 100 TB
    os.makedirs(src)
    t0 = time.time() - 86_400  # keep well inside maxFileAge
    for i, (_b, part) in enumerate(pdf.groupby(bucket, sort=True)):
        path = os.path.join(src, f"b{i:06d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(part[rows.columns], preserve_index=False), path
        )
        os.utime(path, (t0 + i, t0 + i))
    return rows


def _source(
    spark: SparkSession,
    src: str,
    feed: "DataFrame | tuple[str, str]",
    n_batches: int = 4,
    bucket: str | None = None,
) -> DataFrame:
    """Stage ``feed`` in ``src`` and return it as a file stream.

    A DataFrame is written as given (the caller's partitioning sets the
    micro-batches) and streamed back with its own schema, one file per
    trigger; with ``bucket`` it is written one file per arrival bucket
    instead (``_write_buckets``).  A ``(directory, glob)`` pair has its
    matching files copied in and streamed as ``binaryFile``,
    ⌈files / n_batches⌉ per trigger."""
    if isinstance(feed, DataFrame):
        if bucket is None:
            feed.write.parquet(src)
        else:
            feed = _write_buckets(feed, bucket, src)
        return (
            spark.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
    fixture, glob = feed
    os.makedirs(src)
    names = sorted(fnmatch.filter(os.listdir(fixture), glob))
    for f in names:
        shutil.copy(os.path.join(fixture, f), os.path.join(src, f))
    return (
        spark.readStream.format("binaryFile")
        # streaming sources require the schema up front; binaryFile's
        # is fixed by the format
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", max(1, math.ceil(len(names) / n_batches)))
        .load(src)
    )


def _run(writer: DataStreamWriter, ckpt: str) -> None:
    """Checkpoint the stream in ``ckpt``, drain everything present with
    availableNow and wait for it (``_drain``)."""
    _drain(
        writer.option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


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


def _batch_handler(
    body: Callable[[DataFrame], DataFrame], dest: str
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` callback of every twin: ``body``'s result for
    micro-batch ``bid`` into the idempotent ``bid=N`` sink."""

    def handle(bdf: DataFrame, bid: int) -> None:
        _write_batch_idempotent(body(bdf), bid, dest)

    return handle


def _twin(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    feed: "DataFrame | tuple[str, str]",
    body: Callable[[DataFrame], DataFrame],
    n_batches: int = 4,
) -> DataFrame:
    """Run a streaming twin: stage ``feed``, drain it with availableNow
    over ``n_batches`` micro-batches through ``body`` (the batch
    operator applied to one micro-batch), and return the union of the
    per-batch results.  A DataFrame feed is split into ``n_batches``
    files hash-partitioned on its first column; a ``(directory, glob)``
    feed streams as ``binaryFile`` (``_source``)."""
    src, out, ckpt = _scratch(tag, sf_dir)
    if isinstance(feed, DataFrame):
        feed = feed.repartition(n_batches, feed.columns[0])
    stream = _source(spark, src, feed, n_batches)
    _run(stream.writeStream.foreachBatch(_batch_handler(body, out)), ckpt)
    return _read_batches(spark, out)


def _to_files(
    spark: SparkSession, frame: DataFrame, out: str, ckpt: str, *partition_by: str
) -> DataFrame:
    """Drain ``frame`` through the native Parquet file sink (append,
    exactly-once through its checkpointed sink log) and return what it
    wrote.  For event-sized results: they never pass through the
    driver."""
    _run(
        frame.writeStream.format("parquet")
        .partitionBy(*partition_by)
        .option("path", out),
        ckpt,
    )
    return spark.read.parquet(out)


def _to_rows(
    spark: SparkSession,
    frame: DataFrame,
    ckpt: str,
    mode: str,
    key: str | None = None,
) -> DataFrame:
    """Drain ``frame`` in output ``mode`` into driver rows and return
    them as a VALUES relation (``helpers.inline_rows``): ``complete``
    keeps the last batch's table, ``append`` every emitted row,
    ``update`` the last row per ``key``.  For bounded results only (each
    caller states its bound); nothing — no memory sink, query name or
    temp view — outlives the call.  A replayed micro-batch replaces its
    own rows, as in the ``bid=N`` sink."""
    batches: dict[int, list] = {}

    def collect(bdf: DataFrame, bid: int) -> None:
        if mode == "complete":  # every batch re-emits the whole table
            batches.clear()
        batches[bid] = bdf.collect()

    _run(frame.writeStream.outputMode(mode).foreachBatch(collect), ckpt)
    rows = [r for bid in sorted(batches) for r in batches[bid]]
    if key is not None:
        rows = list({r[key]: r for r in rows}.values())
    schema = ", ".join(f"{f.name} {f.dataType.typeName()}" for f in frame.schema)
    return inline_rows(spark, rows, schema)


def _oracle_of(module: str, name: str) -> str:
    """``name``'s registered oracle, reused verbatim by its streaming
    twin (anti-drift: the twin can never diverge from the batch op's
    contract without the gate seeing it).  The producer module is
    imported first, so a direct ``import streaming_gate`` does not
    depend on registry()'s import order."""
    importlib.import_module(f"{__package__}.{module}")
    return _REGISTRY[name].oracle


def x28_stream_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream → foreachBatch(convert) → parquet, drained with
    availableNow; returns the converted output projected to scalars."""
    from ..streaming.convert_stream import stream_convert

    ensure_convert_fixture(STREAM_FIXTURE)
    _src, dest, ckpt = _scratch("x28", sf_dir)
    q = stream_convert(
        spark,
        STREAM_SRC_DIR,
        dest,
        checkpoint=ckpt,
        schema=_FIXTURE_SCHEMA,
        sort_column="time",
        available_now=True,
    )
    _drain(q)
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

    src, out, ckpt = _scratch("x29", sf_dir)
    # Normalized copy (nanos → micros ts, see sources/catalog.py) because a
    # streaming parquet source can't apply the nanos-as-long load shim;
    # one range per file forces several micro-batches.
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    stream = _source(spark, src, ev.repartitionByRange(4, "ts"))
    deduped = dedup_stream(
        stream, keys=["user_id", "event_type"], ts_col="ts", watermark="3650 days"
    ).select("user_id", "event_type")
    return _to_files(spark, deduped, out, ckpt)


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
    src, out, ckpt = _scratch("x37", sf_dir)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    stream = _source(spark, src, ev.repartitionByRange(4, "event_id"))
    user_dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_user_events"))
    joined = stream.join(user_dim, "user_id").select(
        "event_id", "user_id", "event_type", F.col("n_user_events").cast("long")
    )
    return _to_files(spark, joined, out, ckpt)


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
    pytest-covered; see module docstring). The driver-rows sink is gate
    harness only — it holds one row per (window, event_type), bounded by
    the stream's time span, never raw events; the production path writes
    append-mode to a real sink with the watermark bounding state."""
    from ..streaming.windowed import windowed_event_counts

    src, _out, ckpt = _scratch("x67", sf_dir)
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    # one range per file forces cross-batch state merges
    stream = _source(spark, src, ev.repartitionByRange(4, "ts"))
    agg = windowed_event_counts(stream, window_duration="1 day", watermark="1 hour")
    return _to_rows(spark, agg, ckpt, "complete").orderBy("win_start_us", "event_type")


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

    src, out, ckpt = _scratch("x70", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    stream = _source(spark, src, ev.repartitionByRange(4, "ts"))
    joined = purchases_with_recent_clicks(
        stream, lookback="30 minutes", watermark="3650 days"
    )
    return _to_files(spark, joined, out, ckpt)


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

    src, _out, ckpt = _scratch("x81", sf_dir)
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    # one range per file forces cross-batch session merges
    stream = _source(spark, src, ev.repartitionByRange(4, "ts"))
    # Gap derived from the same constant the oracle uses, so one retune
    # moves both sides (ADVICE r3: a hardcoded "10 minutes" here would
    # silently desynchronize from the SQL twin).
    gap = f"{SESSION_WINDOW_GAP_US // 1_000_000} seconds"
    sess = stream.groupBy(
        "user_id", F.session_window("ts", gap).alias("sw")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    flat = sess.select(
        "user_id",
        F.unix_micros(F.col("sw.start")).alias("session_start_us"),
        F.unix_micros(F.col("sw.end")).alias("session_end_us"),
        F.col("n_events").cast("long").alias("n_events"),
    )
    return _to_rows(spark, flat, ckpt, "complete").orderBy(
        "user_id", "session_start_us"
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

    chg_dir, base_dir, ckpt = _scratch("x87", sf_dir)

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
        schema=changes.schema,
        keys=["k"],
        available_now=True,
        max_files_per_trigger=1,
    )
    _drain(q)
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
    src, _out, ckpt = _scratch("x109", sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # four files, one per trigger, force cross-batch count merging
    stream = _source(spark, src, docs.repartition(4))
    topk = (
        stream.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(STREAM_HH_TOPK)
    )
    from pyspark.sql import Window as W

    w = W.orderBy(F.desc("cnt"), F.asc("tok"))
    return _to_rows(spark, topk, ckpt, "complete").select(
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
    src, out, ckpt = _scratch("x120", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    stream = _source(spark, src, ev.repartition(4))
    layout = (
        stream.withColumn("d", F.date_format("ts", "yyyy-MM-dd"))
        .withColumn("ts_us", F.unix_micros("ts"))
        .drop("ts")
    )
    return (
        _to_files(spark, layout, out, ckpt, "d")
        .filter((F.col("d") >= SINK_PRUNE_LO) & (F.col("d") <= SINK_PRUNE_HI))
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
    src, _out, ckpt = _scratch("x146", sf_dir)
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
    stream = _source(spark, src, base, bucket="bkt")
    agg = (
        stream.select(F.timestamp_micros("ts_us").alias("ts"))
        .withWatermark("ts", X146_DELAY)
        .groupBy(F.window("ts", "1 hour"))
        .count()
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            F.col("count").alias("n_events"),
        )
    )
    # append emits each closed window once; bounded
    return _to_rows(spark, agg, ckpt, "append").orderBy("window_start_us")


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
    src, _out, ckpt = _scratch("x147", sf_dir)
    ts_us = F.unix_micros("ts")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        ts_us.alias("ts_us"),
        F.floor(ts_us / F.lit(X146_DAY_US)).cast("long").alias("bkt"),
    )
    stream = _source(spark, src, ev, bucket="bkt")  # one arrival day per batch
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
    ).select("c_id", "p_id")
    # matches + eviction-proven null rows; bounded
    return _to_rows(spark, joined, ckpt, "append").orderBy("c_id", "p_id")


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

    src, _out, ckpt = _scratch("x148", sf_dir)
    ev = load_table(spark, sf_dir, "events").select("user_id", "value", "ts")
    stream = _source(spark, src, ev.repartitionByRange(4, "ts"))
    totals = running_user_totals(stream).select("user_id", "n_events", "last_seen_us")
    # one row per user per batch; bounded
    return _to_rows(spark, totals, ckpt, "update", key="user_id").orderBy("user_id")


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
# every invocation: the gate harness cost (base index build, output
# re-read) dominates the local wall clock but amortizes to zero in a
# real continuous stream, where the drain loop is the only recurring
# cost.  The drain share is the ``_twin`` call: staging the feed plus
# the micro-batch loop.  bench.py reports the two as separate rows
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

    Every batch doc is in exactly one micro-batch and pairs are keyed by
    batch doc, so the union of per-batch outputs equals the one-shot
    batch result; the body is x111's ``lsh_probe`` and x111's
    REGISTERED oracle is reused verbatim (anti-drift: the streaming twin
    can never diverge from the batch op's contract without the gate
    seeing it)."""
    from .dedup import inc_batch_docs, lsh_buckets, lsh_probe, lsh_signatures

    t_entry = time.perf_counter()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # The static, pre-built side: base signatures + band index, persisted
    # once and probed by every micro-batch.
    base_sig = lsh_signatures(docs).persist()
    base_idx = lsh_buckets(base_sig).persist()
    base_idx.count()  # materialize before the stream starts
    t_drain = time.perf_counter()
    out = _twin(
        spark,
        sf_dir,
        "x172",
        inc_batch_docs(docs),
        lambda bdf: lsh_probe(lsh_signatures(bdf), base_sig, base_idx),
        n_batches=X172_N_BATCHES,
    )
    X172_SPLIT.append((t_drain - t_entry, time.perf_counter() - t_drain))
    base_sig.unpersist()
    base_idx.unpersist()
    return out.orderBy("batch_id", "base_id")


register(
    QuerySpec(
        "x172_stream_neardup",
        x172_stream_neardup,
        _oracle_of("dedup", "x111_incremental_neardup"),
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

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    return gopher_pass_rates(
        _twin(spark, sf_dir, "x212", docs, gopher_rule_counts)
    )


register(
    QuerySpec(
        "x212_stream_quality_gate",
        x212_stream_quality_gate,
        _oracle_of("curation", "x203_gopher_rules"),
        "streaming Gopher gate: per-micro-batch rule partials == batch result",
    )
)


# --- x223: streaming index CDC — micro-batch adds into the frozen quantizer ----
def x223_stream_index_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x220's incremental index maintenance: the
    ~10% add-batch arrives as a file-source stream, and every
    micro-batch routes its vectors against the SAME frozen quantizer
    frames (`route_two_level` — bit-identical tie/rounding semantics)
    into narrow (vec_id, is_add, cell) partials; their union with the
    base corpus's assignments (the index build job's output) feeds the
    identical split logic, so x220's REGISTERED oracle is reused
    verbatim (the x172/x212 anti-drift pattern applied to the index
    layer).  This is the shape a continuously-ingesting vector store
    actually runs: per-slice assignment partials appended to the
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

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    is_add = F.col("vec_id") % ADD_MOD == ADD_MOD - 1
    sup = emb.filter(F.col("vec_id") < ivf_k0(spark, sf_dir)).select(
        F.col("vec_id").alias("s_id"), F.col("embedding").alias("s_vec")
    )
    cent_sup = two_level_cent_sup(spark, sf_dir).localCheckpoint()
    nlist = ivf_nlist(spark, sf_dir)

    def placed(vecs: DataFrame, add: bool) -> DataFrame:
        return route_two_level(vecs, sup, cent_sup, cent_rows=nlist).select(
            "vec_id", F.lit(add).alias("is_add"), F.col("c_id").alias("cell")
        )

    adds = _twin(
        spark, sf_dir, "x223", emb.filter(is_add), lambda bdf: placed(bdf, True)
    )
    ledger = placed(emb.filter(~is_add), False).unionByName(adds).localCheckpoint()
    return maintenance_ledger(spark, sf_dir, ledger)


register(
    QuerySpec(
        "x223_stream_index_cdc",
        x223_stream_index_cdc,
        _oracle_of("similarity", "x220_ivf_incremental_maintenance"),
        "streaming index CDC: per-micro-batch frozen-quantizer adds == batch ledger",
    )
)


def _tombstones(base: DataFrame):
    """Delete-feed body shared by x234 and x264: resolve a micro-batch of
    bare vec_ids against the FROZEN (vec_id, cell) layout — one key-equi
    hash join per batch, how a store turns an id-keyed delete into a
    cell-keyed tombstone."""
    return lambda bdf: bdf.join(base.select("vec_id", "cell"), "vec_id").select(
        "vec_id", "cell"
    )


# --- x234: streaming DELETE CDC — micro-batch tombstones into the ledger -------
def x234_stream_tombstone_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x224's tombstone/compaction ledger — the
    DELETE-side completion of the index lifecycle's streaming arrows
    (x223 streams adds; this streams deletes): the index layout
    (vec_id → cell) is built once, DELETE events arrive as a 4-file
    micro-batch stream of bare vec_ids, and every batch resolves its
    ids against the FROZEN layout (``_tombstones``) into narrow
    (vec_id, cell) tombstone partials.  The drained ledger left-joined
    back to the layout feeds ``tombstone_rollup`` — x224's arithmetic
    VERBATIM — so x224's REGISTERED oracle gates the whole loop (the
    x172/x212/x223 anti-drift pattern).

    Scale shapes: base layout is the ~n^1.25 assignment written once;
    each micro-batch's work is batch-sized (id join against the
    cell-keyed layout + a narrow write); the final rollup is one
    key-shuffle agg of (cell, flag) rows."""
    from .similarity import TOMB_MOD, tombstone_rollup, two_level_lists

    _src, base_dir, _ckpt = _scratch("x234_layout", sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    # the index BUILD job's output: every vector's inverted list, once
    emb.join(two_level_lists(spark, sf_dir), "vec_id").select(
        "vec_id", F.col("list_c").alias("cell")
    ).write.parquet(base_dir)
    base = spark.read.parquet(base_dir)
    dels = emb.filter(F.col("vec_id") % TOMB_MOD == 2)
    drained = _twin(spark, sf_dir, "x234", dels, _tombstones(base)).select(
        "vec_id", F.lit(True).alias("dead_f")
    )
    placed = base.join(drained, "vec_id", "left").select(
        "cell", F.coalesce("dead_f", F.lit(False)).alias("dead")
    )
    return tombstone_rollup(placed)


register(
    QuerySpec(
        "x234_stream_tombstone_cdc",
        x234_stream_tombstone_cdc,
        _oracle_of("similarity", "x224_tombstone_compaction"),
        "streaming delete CDC: micro-batch tombstones == x224's batch ledger",
    )
)


def x242_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x237's drift MONITOR — how the PSI check runs
    in production: the incoming (drifted) snapshot arrives as a 4-file
    micro-batch stream; each batch routes its vectors through the
    FROZEN serving quantizer (the x223 frozen-frames pattern) into
    narrow (c_id, cnt) occupancy partials; the drained partials
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
        serving_occupancy_path,
        DRIFT_RETRAIN_PSI,
    )

    corpus, sup, _cent_seed, cent_lloyd, nlist = _quantizer_frames(
        spark, sf_dir
    )
    # freeze the routing frames the body closes over (bounded:
    # K0 + nlist rows — the serving quantizer, not the corpus)
    sup_f = sup.localCheckpoint()
    cs_f = cent_sup_for(cent_lloyd, sup).localCheckpoint()
    parts = _twin(
        spark,
        sf_dir,
        "x242",
        _drifted(corpus),
        lambda bdf: route_two_level(bdf, sup_f, cs_f, cent_rows=nlist)
        .groupBy("c_id")
        .agg(F.count(F.lit(1)).alias("cnt")),
    )
    pops_new = parts.groupBy("c_id").agg(F.sum("cnt").alias("cn"))
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
    the x242 occupancy argument applied to assignments) into narrow
    (vec_id, cell, d) rows; the drained set is tail-rung, linked
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

    _emb, sup, cs = _graph_qf(spark, sf_dir)
    nlist = ivf_nlist(spark, sf_dir)
    sup_f = sup.localCheckpoint()
    cs_f = cs.localCheckpoint()
    _e, _b, adds = _gadd_frames(spark, sf_dir)
    parts = _twin(
        spark,
        sf_dir,
        "x251",
        adds.select("vec_id", F.col("v").alias("embedding")),
        lambda bdf: route_two_level(
            bdf, sup_f, cs_f, cent_rows=nlist, include_dist=True
        ).select("vec_id", F.col("c_id").alias("cell"), "d"),
    )
    return _label_cdc_stats(spark, sf_dir, parts)


register(
    QuerySpec(
        "x251_stream_label_cdc",
        x251_stream_label_cdc,
        # streaming partials compose to exactly the batch labeler's
        # inputs, so the output must match x250 bit-for-bit
        _oracle_of("graph_ssl", "x250_label_prop_cdc"),
        "streaming label CDC: micro-batch routed partials + one drained vote == x250 bit-for-bit",
    )
)


def _word_count(bdf: DataFrame) -> DataFrame:
    """(word, cnt) over a batch of documents: lower-cased, space-split."""
    return (
        bdf.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _drained_word_counts(spark: SparkSession, sf_dir: str, tag: str) -> DataFrame:
    """The tokenizer ingestion slice streamed through ``_word_count``;
    the drained count partials summed per word (exact integers composing
    additively, so batching cannot change any total).  Feeds x254 and
    x270."""
    from .tokenizer import BPE_CDC_MOD

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    slice_ = docs.filter(F.col("doc_id") % BPE_CDC_MOD == 3)
    parts = _twin(spark, sf_dir, tag, slice_, _word_count)
    return parts.groupBy("word").agg(F.sum("cnt").alias("cnt"))


def x254_stream_bpe_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x252's incremental BPE retrain — how tokenizer
    maintenance consumes a document feed: the ingestion slice arrives
    as a 4-file micro-batch stream; each batch tokenizes ITS documents
    into narrow (word, cnt) count partials (``_drained_word_counts`` —
    the x242/x251 argument applied to word frequencies); the drained
    sum is the slice's word-count table and the vocab-sized retrain
    runs ONCE via `_bpe_cdc_stats` — x252's tail VERBATIM, gated against
    x252's registered oracle (the anti-drift pattern).

    Scale shapes: per micro-batch work is batch-sized (one explode +
    token-keyed partial agg); the drained sum is a vocab-sized shuffle;
    the merge loops run in one Arrow task over the tagged counts."""
    from .tokenizer import _bpe_cdc_stats

    return _bpe_cdc_stats(
        spark, sf_dir, _drained_word_counts(spark, sf_dir, "x254")
    )


register(
    QuerySpec(
        "x254_stream_bpe_cdc",
        x254_stream_bpe_cdc,
        # count partials compose to exactly the batch trainer's inputs,
        # so the rule table must match x252 bit-for-bit
        _oracle_of("tokenizer", "x252_bpe_incremental"),
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
    FROZEN routing (``_tombstones``, x234's body) into narrow (vec_id,
    cell) tombstone partials; the drained ledger's id set feeds
    ``_graph_tombstone_compact_from`` — x263's compactor VERBATIM — so
    x263's registered oracle gates the whole loop (the
    x172/x212/x223/x234/x251 anti-drift pattern: delete-set membership
    composes as a set union, so batching cannot change the compaction).

    Scale shapes: the frozen routing base is the ~n^1.25 assignment
    written once; each micro-batch's work is batch-sized; the
    compaction tail is x263's (hot-cell capped pair pass + the kept
    segment's store scan)."""
    from .graph_ssl import _graph_tombstone_compact_from, _route_with_dist
    from .similarity import TOMB_MOD

    _src, base_dir, _ckpt = _scratch("x264_routing", sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # the graph build job's routing output, frozen once — the distance
    # kept so the compactor can re-ring without re-routing (the
    # base_graph_paths economics; code-review r13: the drained tail
    # reuses this frame instead of paying a second ~n^1.25 assignment)
    _route_with_dist(spark, sf_dir, emb).write.parquet(base_dir)
    base = spark.read.parquet(base_dir)
    dels = emb.select("vec_id").filter(F.col("vec_id") % TOMB_MOD == 2)
    drained = _twin(spark, sf_dir, "x264", dels, _tombstones(base))
    return _graph_tombstone_compact_from(
        spark, sf_dir, drained.select("vec_id"), routed=base
    )


register(
    QuerySpec(
        "x264_stream_graph_tombstones",
        x264_stream_graph_tombstones,
        _oracle_of("graph_ssl", "x263_graph_tombstone_compact"),
        "streaming graph deletes: drained micro-batch tombstones == x263's batch compaction",
    )
)


def x270_stream_retok_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x266's swap-adoption policy — how tokenizer
    maintenance actually reaches the swap decision on a live feed: the
    ingestion slice streams through x254's drain
    (``_drained_word_counts``); the drained sum feeds the impact
    measurement and the integer policy ONCE (`_swap_impact_from` →
    `_swap_policy_from`, x266's Column expressions byte-for-byte), gated
    against x266's registered oracle (the anti-drift pattern: x254
    proves the drained counts equal the batch trainer's, this proves
    the DECISION built on them equals the batch policy's).

    Scale shapes: per micro-batch work is batch-sized; the drained sum
    is a vocab-sized shuffle; measure + decide run in one vocab-sized
    Arrow task + a 1-row select."""
    from .tokenizer import _swap_impact_from, _swap_policy_from

    drained = _drained_word_counts(spark, sf_dir, "x270")
    return _swap_policy_from(_swap_impact_from(spark, sf_dir, drained))


register(
    QuerySpec(
        "x270_stream_retok_policy",
        x270_stream_retok_policy,
        _oracle_of("tokenizer", "x266_retok_swap_policy"),
        "streaming swap policy: the decision over drained count partials == x266's batch decision",
    )
)


def x275_stream_append_optimize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of x273's incremental OPTIMIZE — how a warehouse
    maintenance job actually learns about an append: the ingest's
    partition-commit feed.  The appended dates' events arrive as a
    4-file micro-batch stream; each batch emits narrow (d, cnt)
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

    _src, dest, _ckpt = _scratch("x275_layout", sf_dir)
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
    appended = (
        ev.withColumn("d", F.col("d").cast("string"))
        .filter(F.col("d").isin(sorted(app_dates)))
        .select("event_id", "d")
    )
    manifest = _twin(
        spark,
        sf_dir,
        "x275",
        appended,
        lambda bdf: bdf.groupBy("d").agg(F.count(F.lit(1)).alias("cnt")),
    )
    drained = manifest.select("d").distinct()
    got_dates = {r.d for r in drained.collect()}
    if got_dates != app_dates:  # partial drain must fail loudly
        raise AssertionError(
            f"drained manifest {sorted(got_dates)} != append slice "
            f"{sorted(app_dates)}"
        )
    _inc_write_base(spark, sf_dir, dest, appended_dates=drained)
    _inc_append_merge(spark, sf_dir, dest, appended_dates=drained)
    return _bin_content_proof(spark.read.parquet(dest))


register(
    QuerySpec(
        "x275_stream_append_optimize",
        x275_stream_append_optimize,
        # == x265's full-rewrite oracle
        _oracle_of("scale_layout", "x273_append_optimize_execute"),
        "streaming append OPTIMIZE: the drained partition manifest merges into exactly the full rewrite's layout",
    )
)


# --- binaryFile twins: files land in a prefix, each micro-batch decodes -------
# only its own.  Per-file rows are independent, so the union of per-batch
# outputs equals the one-shot batch read by construction.  The decode
# twins' body IS their batch entry's ``decode_media_files`` (one
# mapInPandas stage: no shuffle, per-partition Python, whole-Arrow-batch
# transfer), so each reuses its batch entry's registered oracle verbatim.
def _decode_twin(spark: SparkSession, sf_dir: str, tag: str, ext: str) -> DataFrame:
    from .multimodal import MEDIA_LEGS, decode_media_files

    fixture = MEDIA_LEGS[ext][1](spark, sf_dir)
    return _twin(
        spark,
        sf_dir,
        tag,
        (fixture, f"*.{ext}"),
        lambda bdf: decode_media_files(bdf, ext),
    ).orderBy("doc_id")


def x278_stream_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the binaryFile media ingest (x277): real .ppm
    files arrive as a ``binaryFile`` FILE STREAM (the blob-store
    continuous-ingest shape), drained with availableNow over ~4
    file-batches."""
    return _decode_twin(spark, sf_dir, "x278", "ppm")


register(
    QuerySpec(
        "x278_stream_media_decode",
        x278_stream_media_decode,
        _oracle_of("multimodal", "x277_media_binaryfile_source"),
        "streaming binaryFile media ingest: drained per-batch decodes union to the batch read",
    )
)


def x282_stream_media_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the perceptual-hash extraction (x279): real
    .ppm files arrive as a ``binaryFile`` FILE STREAM and each
    micro-batch decodes + dHashes only its own files with the SAME
    ``extract_image_dhash`` mapInPandas the batch path runs.  The oracle
    is x279's SQL restricted to the fixture's file subset (doc_id ≡ 0
    mod MEDIA_FILE_MOD): the streaming hash path can never diverge from
    the batch op's contract without the gate seeing it."""
    from ..operators.media import extract_image_dhash
    from .multimodal import media_files, media_fixture_dir

    feed = (media_fixture_dir(spark, sf_dir), "*.ppm")
    return _twin(
        spark,
        sf_dir,
        "x282",
        feed,
        lambda bdf: extract_image_dhash(media_files(bdf, "ppm")),
    ).orderBy("doc_id")


def _x282_sql() -> str:
    from .multimodal import MEDIA_FILE_MOD, _x279_sql

    return _x279_sql(where=f"WHERE doc_id % {MEDIA_FILE_MOD} = 0")


register(
    QuerySpec(
        "x282_stream_media_dhash",
        x282_stream_media_dhash,
        _x282_sql(),
        "streaming binaryFile dHash: drained per-batch hashes union to the batch extraction",
    )
)


def x285_stream_media_dedup_policy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of x283's store-dedup adoption policy — how a
    blob-store maintenance loop actually reaches the decision on a
    live ingest: the corpus arrives as a 4-file micro-batch stream;
    each batch decodes + dHashes ONLY its own images (the same
    ``extract_image_dhash`` stage) into narrow per-hash partials
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

    def partials(bdf: DataFrame) -> DataFrame:
        h = extract_image_dhash(documents_as_image_media(bdf, fmt="ppm"))
        return h.groupBy("dhash_hex").agg(
            F.count(F.lit(1)).alias("refs"),
            F.sum("n_bytes").alias("logical"),
            F.min("doc_id").alias("min_doc"),
            F.min_by("n_bytes", "doc_id").alias("min_doc_bytes"),
        )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    drained = (
        _twin(spark, sf_dir, "x285", docs, partials)
        .groupBy("dhash_hex")
        .agg(
            F.sum("refs").alias("refs"),
            F.sum("logical").alias("logical"),
            F.min_by("min_doc_bytes", "min_doc").alias("stored"),
        )
    )
    return _dedup_policy_from(drained)


register(
    QuerySpec(
        "x285_stream_media_dedup_policy",
        x285_stream_media_dedup_policy,
        _oracle_of("multimodal", "x283_media_dedup_policy"),
        "streaming store-dedup policy: drained per-hash partials reach exactly the batch decision",
    )
)


def x292_stream_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the binaryFile audio ingest (x290): real .wav
    files arrive as a ``binaryFile`` FILE STREAM, each micro-batch
    chunk-walks + stats only its own clips (the x278 shape on the audio
    leg)."""
    return _decode_twin(spark, sf_dir, "x292", "wav")


def x304_stream_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the binaryFile video ingest (x296) — closes
    the modality-symmetry gap (image had x278/x282, audio x292, video
    none; VERDICT r13 ask #4): real .y4m files arrive as a
    ``binaryFile`` FILE STREAM, each micro-batch tag-parses +
    frame-walks only its own clips."""
    return _decode_twin(spark, sf_dir, "x304", "y4m")


register(
    QuerySpec(
        "x304_stream_video_decode",
        x304_stream_video_decode,
        _oracle_of("multimodal", "x296_video_binaryfile_source"),
        "streaming binaryFile video ingest: drained per-batch frame-walk decodes union to the batch read",
    )
)


def x307_stream_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the PNG binaryFile ingest (x306): real .png
    files arrive as a ``binaryFile`` FILE STREAM, each micro-batch
    inflates + unfilters only its own files (the x278 shape on the
    compressed-format leg)."""
    return _decode_twin(spark, sf_dir, "x307", "png")


def x311_stream_tar_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the tar shard re-read (x305): .tar shards land
    as a ``binaryFile`` FILE STREAM (the arrival shape of a WebDataset
    drop-off directory) over 2 micro-batches and each micro-batch runs
    x305's ``tar_shard_stats`` on ONLY its own shards — a whole shard
    always sits in one binary row, so the per-shard rollup is
    batch-local and the drained union equals the one-shot batch read;
    x305's oracle is reused verbatim."""
    from .multimodal import tar_shard_dir, tar_shard_stats

    feed = (tar_shard_dir(spark, sf_dir), "*.tar")
    return _twin(spark, sf_dir, "x311", feed, tar_shard_stats, n_batches=2).orderBy(
        "shard_id"
    )


register(
    QuerySpec(
        "x311_stream_tar_ingest",
        x311_stream_tar_ingest,
        _oracle_of("multimodal", "x305_tar_shard_roundtrip"),
        "streaming tar shard ingest: per-batch shard parses union to the batch round-trip read",
    )
)


register(
    QuerySpec(
        "x307_stream_png_decode",
        x307_stream_png_decode,
        _oracle_of("multimodal", "x306_png_binaryfile_source"),
        "streaming binaryFile PNG ingest: drained per-batch inflate+unfilter decodes union to the batch read",
    )
)


register(
    QuerySpec(
        "x292_stream_audio_decode",
        x292_stream_audio_decode,
        _oracle_of("multimodal", "x290_audio_binaryfile_source"),
        "streaming binaryFile audio ingest: drained per-batch chunk-walk decodes union to the batch read",
    )
)
