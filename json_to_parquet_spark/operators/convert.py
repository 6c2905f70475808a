"""The convert pipeline — the reference's entire end-to-end surface,
re-expressed as one lazy DataFrame chain.

Reference pipeline (SURVEY §3 EP1; /root/reference/pyarrow/main.py:94-169):
scan gzipped NDJSON → infer schema → recursive ``_dt`` timestamp rewrite →
global ascending sort on ``sort_column`` (skip if absent,
pyarrow/main.py:70-73) → tuned single Parquet file.

Spark mapping: ``spark.read.json`` → compiled ``_dt`` Project →
Sort/Exchange → InsertIntoHadoopFsRelation. Catalyst owns the physical
plan; the writer confs live on the session (session.py).

Scale design (SURVEY §7b): a single global ``orderBy`` at 100 TB funnels
the tail of the job through one total-order range exchange and — if a
single output file is demanded — one writer task. The default mode is
therefore ``cluster``: ``repartitionByRange(sort_col)`` +
``sortWithinPartitions(sort_col)``, which gives globally range-partitioned,
per-file-sorted output — the same downstream min/max-pruning benefit as a
global sort with no single-task bottleneck, and N output files. For a
spilled single object with a long sort key the range bounds come from a
sample of the spill file instead of the exchange's sampling job, and
``repartitionById`` places each row by the bounds below its key. Mode
``global`` (exact reference parity: one file, one total order) remains for
single-object conversion, which is the reference's actual deployment shape
(one Lambda = one small S3 object).
"""

from __future__ import annotations

import dataclasses
import os
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.dt_rewrite import dt_rewrite_paths, rewrite_dt_fields
from ..sources.ndjson import read_ndjson_parallel, release_parallel_read, sample_spill

# Reference default sort column (pyarrow/main.py:14: SORT_COLUMN env, default "time").
DEFAULT_SORT_COLUMN = os.environ.get("SORT_COLUMN", "time")


@dataclasses.dataclass
class ConvertResult:
    """Lineage record, mirroring the reference's structured log payload
    (pyarrow/main.py:152-165: row count, sort decision, before/after schema)."""

    output_path: str
    rows: int
    sorted_by: str | None
    rewritten_dt_paths: list[str]
    schema_before: str
    # Schema of the frame that was written, i.e. of the converted table.
    schema_after: str
    # The (possibly inferred) input schema as a StructType — what a caller
    # pins into the schema registry for later objects of the same feed.
    input_schema: object | None = None
    # How the sorted output was partitioned: "bounds" (bucket ids from
    # bounds sampled off the spill file), "range" (repartitionByRange),
    # "global" (one total order, one file) or None (not sorted).
    partitioning: str | None = None
    # Wall seconds per phase of convert(): read_s (read + inference),
    # rewrite_s (the _dt walk and Column build), write_s (partitioning,
    # the Parquet write and the optional sorting footer).
    phases: dict[str, float] = dataclasses.field(default_factory=dict)


class _Laps:
    """Charges the wall time since the previous lap to a named phase, so
    the phases add up to the wall time from construction to the last lap."""

    def __init__(self) -> None:
        self.phases: dict[str, float] = {}
        self._t = time.perf_counter()

    def lap(self, phase: str) -> None:
        now = time.perf_counter()
        self.phases[phase] = self.phases.get(phase, 0.0) + now - self._t
        self._t = now


def derive_output_name(key: str, compression: str = "zstd") -> str:
    """Key-stem naming rule (reference pyarrow/main.py:119-133): the output
    name is the input key's stem plus an extension that encodes compression —
    ``.zst.parquet`` for zstd, ``.gz.parquet`` for gzip. The stem keeps the
    key's full directory prefix (``key.split('.', 1)[0]`` on the whole key,
    pyarrow/main.py:120) so ``a/data.ndjson.gz`` and ``b/data.ndjson.gz``
    land at distinct outputs."""
    stem = key.split(".", 1)[0]
    ext = {"zstd": ".zst.parquet", "gzip": ".gz.parquet"}.get(compression)
    if ext is None:
        raise ValueError(f"unsupported compression {compression!r}")
    return stem + ext


def convert(
    spark: SparkSession,
    source: str | DataFrame,
    dest: str,
    sort_column: str | None = None,
    mode: str = "cluster",
    dt_mode: str = "strict",
    schema=None,
    sorting_metadata: bool = False,
    partition_by: list[str] | None = None,
    sampling_ratio: float | None = None,
) -> ConvertResult:
    """Run the full convert pipeline and write Parquet to ``dest``.

    mode='cluster' (default, scale path): range partitioning + per-partition
    sort. A spilled single object with a long sort key takes its range
    bounds from a sample of the spill file (``partitioning="bounds"``, no
    sampling job); every other shape uses repartitionByRange.
    mode='global': exact total order coalesced to one file (reference
    parity for single-object conversion). mode='none': no sort.

    ``sampling_ratio`` (opt-in) passes through to inference — see
    ``read_ndjson.sampling_ratio`` for the semantics caveat.

    ``partition_by`` writes a hive-layout sink (``dest/col=value/...``) —
    the at-scale output shape the single-file reference can't express:
    downstream readers get partition pruning on those columns for free.
    Combined with the default cluster sort, each partition directory's
    files stay sorted on the sort column (repartitionByRange keys on the
    partition columns first so a partition's rows co-locate, then range
    on the sort column within them).
    """
    if mode not in ("cluster", "global", "none"):
        raise ValueError(f"unknown sort mode {mode!r}")
    if partition_by and mode == "global":
        raise ValueError("partition_by requires mode='cluster' or 'none'")
    sort_column = DEFAULT_SORT_COLUMN if sort_column is None else sort_column

    laps = _Laps()
    parsed_here = not isinstance(source, DataFrame)
    df = (
        source
        if isinstance(source, DataFrame)
        # parallel path: decompress single-threaded, parse/rewrite/sort on
        # all cores — see read_ndjson_parallel (2-4× on single-gz objects)
        else read_ndjson_parallel(spark, source, schema, sampling_ratio=sampling_ratio)
    )
    laps.lap("read_s")
    # The parallel read may have left a spill dir behind (see
    # release_parallel_read); delete it in a finally that spans
    # EVERYTHING from here on, so an exception raised before the write
    # (dt rewrite, the persist/count, plan errors) can't leak it.
    try:
        return _convert_body(
            spark, df, dest, sort_column, mode, dt_mode,
            sorting_metadata, partition_by, parsed_here, laps,
        )
    finally:
        release_parallel_read(spark, df)


def _convert_body(
    spark: SparkSession,
    df: DataFrame,
    dest: str,
    sort_column: str,
    mode: str,
    dt_mode: str,
    sorting_metadata: bool,
    partition_by: list[str] | None,
    parsed_here: bool,
    laps: _Laps,
) -> ConvertResult:
    schema_before = df.schema.simpleString()
    rewritten = dt_rewrite_paths(df.schema)

    # Sort is SKIPPED, not failed, when the column is absent (reference
    # pyarrow/main.py:70-73) — same contract here.
    sorted_by: str | None = None
    will_range_exchange = mode != "none" and sort_column in df.columns

    # A range exchange SAMPLES its child in a separate job, and that job
    # executes the full child plan.  When the sort key is NOT one of the
    # rewritten ``_dt`` columns (the reference default ``time`` is a raw
    # epoch long), the rewrite Project commutes with the sort — so apply
    # the exchange to the RAW parsed frame and the rewrite once, above
    # the shuffle: the sampling job then pays the JSON parse only
    # (measured 0.38 s vs 0.92 s parse+rewrite per pass on the 100k
    # bench object; full pinned convert 2.49 → ~2.0 s).  When the sort
    # key (or a hive partition column) IS rewritten, keep the
    # reference's convert-then-sort order (pyarrow/main.py:111,115):
    # ISO8601 strings don't sort temporally in general.
    rewritten_top = {p.split(".", 1)[0] for p in rewritten}
    sort_first = (
        will_range_exchange
        and mode == "cluster"  # global coalesces to 1 — a post-coalesce
        # Project would run the rewrite single-threaded
        and sort_column not in rewritten_top
        and not any(c in rewritten_top for c in (partition_by or []))
    )
    out = df if sort_first else rewrite_dt_fields(df, mode=dt_mode)
    laps.lap("rewrite_s")

    # A range exchange SAMPLES its child in a separate job before the
    # shuffle, so an unpersisted JSON-parse chain would run twice
    # (decompress + from_json for sampling, then again for the shuffle).
    # When we built that chain ourselves over an UNSPLITTABLE source,
    # persist the parsed frame across the two jobs — a serialized cache
    # round-trip beats re-decompressing the gzip. A SPILLED source
    # (ndjson._spill_to_splittable) re-scans in parallel from the
    # page-cached splittable file, which measures cheaper than the cache
    # round-trip — so no persist there (and in cluster mode its bounds
    # come from the spill file, with no sampling job at all).
    spill_dir = getattr(df, "_graft_spill_dir", None)
    cached = (
        out.persist()
        if (parsed_here and will_range_exchange and spill_dir is None)
        else None
    )
    # Inference-path line cache (ndjson._graft_text_cache): once the parsed
    # frame is materialized the raw lines are never read again — drop them.
    text_cache = getattr(df, "_graft_text_cache", None)
    if cached is not None:
        out = cached
        out.count()  # materializes the cache in one pass
        if text_cache is not None:
            text_cache.unpersist()
            text_cache = None

    partitioning: str | None = None
    if will_range_exchange:
        sorted_by = sort_column
        bounds = (
            _spill_bounds(spark, df, spill_dir, sort_column)
            if sort_first and not partition_by and spill_dir is not None
            else None
        )
        if mode == "global":
            partitioning = "global"
            out = out.orderBy(F.asc(sort_column)).coalesce(1)
        elif bounds is not None:
            partitioning = "bounds"
            n, cuts = bounds
            out = out.repartitionById(
                n, _bucket(F.col(sort_column), cuts)
            ).sortWithinPartitions(F.asc(sort_column))
        else:
            partitioning = "range"
            # with partition_by: co-locate each hive partition's rows, then
            # range-order the sort column within them — one exchange,
            # sorted files per dir
            keys = [F.asc(c) for c in partition_by or ()] + [F.asc(sort_column)]
            out = out.repartitionByRange(*keys).sortWithinPartitions(*keys)
    laps.lap("write_s")
    if sort_first:
        # row-local Project above the exchange: preserves the per-file
        # sort order, runs once, and a range sampling job never sees it
        out = rewrite_dt_fields(out, mode=dt_mode)
        laps.lap("rewrite_s")

    # the row count rides on the write job itself: no read-back of dest
    written = Observation()
    out = out.observe(written, F.count(F.lit(1)).alias("rows"))
    try:
        writer = out.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(dest)
    finally:
        if cached is not None:
            cached.unpersist()
        if text_cache is not None:
            text_cache.unpersist()
    if sorting_metadata and sorted_by is not None:
        # Reference-parity SortingColumn footer (SURVEY §2 O3); PyArrow
        # post-pass since Spark's writer can't record it.
        from .sorting_metadata import add_sorting_metadata

        add_sorting_metadata(dest, sorted_by)
    laps.lap("write_s")
    return ConvertResult(
        output_path=dest,
        rows=written.get["rows"],
        sorted_by=sorted_by,
        rewritten_dt_paths=rewritten,
        schema_before=schema_before,
        schema_after=out.schema.simpleString(),
        input_schema=df.schema,
        partitioning=partitioning,
        phases=laps.phases,
    )


def _spill_bounds(
    spark: SparkSession, df: DataFrame, spill_dir: str, sort_column: str
) -> tuple[int, list[int]] | None:
    """Partition count and range bounds for a long sort key, taken from a
    sample of the spill file instead of a sampling job over the parsed
    frame; None falls back to repartitionByRange.

    The sample size and partition count are the ones the range exchange
    uses (``rangeExchange.sampleSizePerPartition`` × shuffle partitions).
    The bounds decide only file balance: equal keys share a bucket, so
    file ranges never overlap whatever the sample holds."""
    if not isinstance(df.schema[sort_column].dataType, T.LongType):
        return None
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    per = int(spark.conf.get("spark.sql.execution.rangeExchange.sampleSizePerPartition"))
    sample = sample_spill(spill_dir, sort_column, per * n)
    keys = [v for v in sample or () if v is not None]
    # bool is an int subclass; anything but a plain int means the
    # sample does not read the key the way Spark parsed it
    if not keys or any(type(v) is not int for v in keys):
        return None
    keys.sort()
    return n, sorted({keys[i * len(keys) // n] for i in range(1, n)})


def _bucket(key: Column, bounds: list[int]) -> Column:
    """Σ(key > bᵢ): the number of bounds below ``key``, so equal keys share
    a bucket and a null key lands in bucket 0 (``asc`` puts nulls first)."""
    return sum((F.when(key > b, 1).otherwise(0) for b in bounds), F.lit(0))
