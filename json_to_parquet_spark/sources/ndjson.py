"""NDJSON source.

The reference ingests one gzipped newline-delimited JSON S3 object per
invocation and infers its schema as the union of all records (reference
pyarrow/main.py:54-63). Spark's JSON source does exactly this natively —
gzip decompression, NDJSON line splitting, distributed union-schema
inference — so this module is a thin, contract-pinning wrapper:

  * schema may be pinned with an explicit ``StructType`` (production mode;
    SURVEY §7c — inference across heterogeneous files is nondeterministic)
  * corrupt records can be captured instead of crashing (the reference
    would raise mid-Lambda), via ``columnNameOfCorruptRecord``
  * a single local ``.gz`` object is spilled to a splittable temp file
    (``read_ndjson_parallel``) so Spark's per-core split sizing fans the
    scan over every core; the module sets no session conf, and the spill
    dir is the only thing ``release_parallel_read`` cleans up
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import tempfile
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_ndjson(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    corrupt_column: str | None = None,
    sampling_ratio: float | None = None,
) -> DataFrame:
    """Read (possibly gzipped) newline-delimited JSON.

    With ``schema=None`` Spark performs union-schema inference across all
    records — the same semantics as the reference's ``paj.read_json``
    (missing keys in heterogeneous records become nulls).

    ``sampling_ratio`` (opt-in, 0 < r <= 1) makes inference parse only a
    random ~r fraction of lines — a large constant-factor cut on the
    inference pass for wide feeds. NOT the default because it changes
    union-inference semantics: a key that appears only in unsampled
    records is silently absent from the schema, so it is only safe on
    feeds known to be structurally homogeneous (or combined with a
    corrupt-record column to catch drift).
    """
    reader = spark.read
    if sampling_ratio is not None and schema is None:
        reader = reader.option("samplingRatio", str(sampling_ratio))
    if schema is not None:
        if corrupt_column is not None:
            schema = T.StructType(
                [*schema.fields, T.StructField(corrupt_column, T.StringType(), True)]
            )
        reader = reader.schema(schema)
    if corrupt_column is not None:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", corrupt_column
        )
    return reader.json(path)


def read_ndjson_parallel(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    sampling_ratio: float | None = None,
) -> DataFrame:
    """NDJSON read that does not inherit the input's partitioning for the
    expensive work.

    Gzip is not splittable: one ``.ndjson.gz`` object = one partition, and
    with plain ``spark.read.json`` the whole infer→parse→transform chain
    runs on a single core.

    Already-parallel input (many objects, or splittable compression) goes
    straight to the native JSON datasource — distributed inference and
    parse, full pushdown/pruning, no extra shuffle: the at-scale shape is
    untouched. The single-unsplittable-object shape (the reference's own
    deployment unit) is fixed by SPILLING: gunzip the object once to a
    local splittable temp file (sequential C-loop copy, ~40×
    faster than the JSON parse it unblocks) and hand THAT to the native
    scan. Spark sizes file splits per core (``bytes / cores``, capped by
    the session's split size), so inference, parse, and the sort's
    sampling pass all run on all cores with zero shuffle and full native
    pushdown; no session conf is touched. The spill location is attached
    to the returned frame as ``_graft_spill_dir``; EVERY caller must call
    ``release_parallel_read(spark, df)`` in a ``finally`` after the
    frame's last action (the convert pipeline does). (On a cluster the same pattern
    spills to the job's scratch dir — the point is one sequential
    decompress buys a splittable source for every downstream pass.)

    Remote unsplittable objects without local-file access fall back to the
    previous strategy: decompress+line-split single-threaded, round-robin
    the raw lines across the cluster once, and run distributed inference
    (JVM ``Dataset[String]`` reader) + parse over that cached line frame
    (attached as ``_graft_text_cache``; callers unpersist it after
    materializing the parse).
    """
    target = _default_cpus()
    text = spark.read.text(path)
    if text.rdd.getNumPartitions() >= target:
        return read_ndjson(spark, path, schema, sampling_ratio=sampling_ratio)
    spilled = _spill_to_splittable(path)
    if spilled is not None:
        df = read_ndjson(spark, spilled, schema, sampling_ratio=sampling_ratio)
        df._graft_spill_dir = os.path.dirname(spilled)
        return df
    text = text.filter(F.length("value") > 0).repartition(target)
    if schema is None:
        cached_text = text.persist()
        try:
            parsed = _json_from_lines(spark, cached_text)
        except Exception:
            # Classic-session JVM handle unavailable (e.g. Spark Connect):
            # fall back to a single-threaded inference pass over the source.
            cached_text.unpersist()
            schema = spark.read.json(path).schema
        else:
            parsed._graft_text_cache = cached_text
            return parsed
    return text.select(
        F.from_json(F.col("value"), schema).alias("r")
    ).select("r.*")


def release_parallel_read(spark: SparkSession, df: DataFrame) -> None:
    """Delete the spill dir a ``read_ndjson_parallel`` spill path left
    behind. EVERY caller of ``read_ndjson_parallel`` must invoke this (in
    a ``finally``) after the frame's LAST action: the scan reads the
    spilled file. Idempotent; safe when the spill path was not taken."""
    spill_dir = getattr(df, "_graft_spill_dir", None)
    if spill_dir is not None:
        shutil.rmtree(spill_dir, ignore_errors=True)
        df._graft_spill_dir = None


def sample_spill(spill_dir: str, key: str, lines: int) -> list | None:
    """Top-level ``key`` of about ``lines`` records of a spilled object:
    the first full line after each of ``lines`` evenly spaced byte offsets
    of the one file in ``spill_dir`` (the file ``_spill_to_splittable``
    wrote). A record without ``key`` yields None. Returns None when a
    sampled line is not a JSON object, so the caller can fall back.

    Reads ``lines`` lines from the page-cached file — no Spark job."""
    (name,) = os.listdir(spill_dir)
    path = os.path.join(spill_dir, name)
    size = os.path.getsize(path)
    values: list = []
    seen: set[int] = set()
    with open(path, "rb") as f:
        for i in range(lines):
            offset = i * size // lines
            f.seek(max(offset - 1, 0))
            if offset:
                # skip to the first line that starts at or after offset
                f.readline()
            start = f.tell()
            line = f.readline()
            if start in seen or not line.strip():
                continue
            seen.add(start)
            try:
                record = json.loads(line)
            except ValueError:
                return None
            if not isinstance(record, dict):
                return None
            values.append(record.get(key))
    return values


def _spill_to_splittable(path: str) -> str | None:
    """Gunzip a LOCAL single ``.gz`` object to a splittable temp file;
    returns the spilled path, or None when the shape doesn't apply
    (remote scheme, directory input, not gzip)."""
    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        return None
    local = parsed.path if parsed.scheme == "file" else path
    if not (os.path.isfile(local) and local.endswith(".gz")):
        return None
    spill_dir = tempfile.mkdtemp(prefix="spark_graft_spill_")
    out = os.path.join(spill_dir, os.path.basename(local)[: -len(".gz")] or "data")
    try:
        with gzip.open(local, "rb") as fin, open(out, "wb") as fout:
            shutil.copyfileobj(fin, fout, 1 << 20)
    except OSError:
        shutil.rmtree(spill_dir, ignore_errors=True)
        return None
    return out


def _json_from_lines(spark: SparkSession, text: DataFrame) -> DataFrame:
    """``DataFrameReader.json(Dataset[String])`` via the JVM handle:
    distributed union-schema inference + parse over an in-cluster line
    frame, with no Python round-trip. (PySpark only exposes the
    RDD-of-strings overload, which would pipe every line through the
    Python worker; the Scala Dataset overload is public API.)"""
    jdf = text.select(F.col("value").cast("string").alias("value"))._jdf
    jds = getattr(jdf, "as")(spark._jvm.org.apache.spark.sql.Encoders.STRING())
    return DataFrame(spark._jsparkSession.read().json(jds), spark)


def _default_cpus() -> int:
    from ..session import DEFAULT_CPUS

    return DEFAULT_CPUS
