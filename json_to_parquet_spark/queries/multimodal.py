"""Multimodal columns (SURVEY §2.C X5): opaque binary payloads + typed
metadata structs, content-hash dedup, and the decode/feature-extract
plumbing as Arrow-batched ``mapInPandas``.

Decode is REAL for uncompressed formats (binary PPM + 24-bit BMP, pure
stdlib — operators/media.py, VERDICT r12 ask #4): x30/x133 decode and
resample actual image bytes, x276 proves the two format branches agree
pixel-exactly, and x277 ingests real .ppm files through Spark's
``binaryFile`` source.  Compressed codecs (JPEG/PNG) remain the one
clearly-marked stub boundary; everything Spark-side is real either way:
BinaryType schema, batch iteration, per-partition processing, metadata
struct construction.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.media import (
    AUD_NS_MIN,
    AUD_NS_MOD,
    AUD_SR_BASE,
    AUD_SR_MOD,
    AUD_SR_STEP,
    AUD_VAL_A,
    AUD_VAL_B,
    AUD_VAL_MOD,
    FRAME_BYTES,
    IMG_H_MIN,
    IMG_H_MOD,
    IMG_PIX_MOD,
    IMG_W_MIN,
    IMG_W_MOD,
    PNG_ALPHA_A,
    VID_BYTE_A,
    VID_BYTE_F,
    VID_BYTE_J,
    VID_BYTE_MOD,
    VID_FPS_DEN,
    VID_FPS_NUM,
    VID_H_MIN,
    VID_H_MOD,
    VID_NF_MIN,
    VID_NF_MOD,
    VID_W_MIN,
    VID_W_MOD,
    extract_audio_stats,
    extract_image_stats,
    extract_video_stats,
    make_audio,
    make_image,
    make_video,
)
from ..sources.catalog import load_table
from . import QuerySpec, register


def x14_multimodal_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model a blob store: text bytes as the opaque payload (stand-in for
    image/audio bytes) + typed metadata + content hash for dedup."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("content_sha256"),
        F.concat(F.lit("doc/"), F.col("source"), F.lit("/"), F.col("doc_id").cast("string")).alias("uri"),
        F.lit("text/plain").alias("mime"),
    )


register(
    QuerySpec(
        "x14_multimodal_catalog",
        x14_multimodal_catalog,
        """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               sha256(text) AS content_sha256,
               concat('doc/', source, '/', CAST(doc_id AS VARCHAR)) AS uri,
               'text/plain' AS mime
        FROM documents
        """,
        "binary payload catalog: sizes, content hashes, URIs, mime metadata",
    )
)


def x15_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dedup over binary payloads (doubled corpus →
    every payload has 2 copies): group by sha256, keep min id."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionAll(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    sha = F.sha2(F.encode(F.col("text"), "UTF-8"), 256)
    return (
        doubled.select("doc_id", sha.alias("content_sha256"))
        .groupBy("content_sha256")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def x30_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract over REAL image bytes (VERDICT r12 ask #4):
    every document gets a real binary-PPM payload whose dimensions and
    pixel values are pure doc_id arithmetic (operators/media.py
    ``make_image``), and the stats come from the real pure-stdlib header
    parse + pixel walk (``decode_image_pixels``) — no stand-in kernel
    anywhere on the Spark side.  Because the image CONTENT is arithmetic,
    the DuckDB oracle predicts every decoded statistic (dims, payload
    byte length incl. the variable-width ASCII header, pixel-byte sum)
    without touching bytes, so the whole encode→decode→stats path is
    value-checked.  At 100 TB the stage is embarrassingly parallel: no
    shuffle, one Python worker per partition, whole Arrow batches across
    the boundary, images never on the driver."""
    from ..operators.media import documents_as_image_media, extract_image_stats

    docs = load_table(spark, sf_dir, "documents")
    return extract_image_stats(documents_as_image_media(docs, fmt="ppm"))


def _x30_sql() -> str:
    from ..operators.media import (
        IMG_H_MAX,
        IMG_H_MIN,
        IMG_H_MOD,
        IMG_PIX_MOD,
        IMG_W_MAX,
        IMG_W_MIN,
        IMG_W_MOD,
    )

    # n_bytes: "P6\n" (3) + w-digits + " " + h-digits + "\n" + "255\n" (4)
    # + 3·w·h pixel bytes = 9 + digits(w) + digits(h) + 3·w·h.
    return f"""
        WITH d AS (
          SELECT doc_id,
                 (doc_id % {IMG_W_MOD}) + {IMG_W_MIN} AS w,
                 (doc_id % {IMG_H_MOD}) + {IMG_H_MIN} AS h
          FROM documents),
        px AS (
          SELECT d.doc_id, (d.doc_id + g.i) % {IMG_PIX_MOD} AS v
          FROM d JOIN generate_series(0, {3 * IMG_W_MAX * IMG_H_MAX - 1})
                      AS g(i) ON g.i < 3 * d.w * d.h),
        ps AS (
          SELECT doc_id, CAST(SUM(v) AS BIGINT) AS pix_sum
          FROM px GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(9 + strlen(CAST(d.w AS VARCHAR))
                      + strlen(CAST(d.h AS VARCHAR))
                      + 3 * d.w * d.h AS BIGINT) AS n_bytes,
               CAST(d.w AS BIGINT) AS width,
               CAST(d.h AS BIGINT) AS height,
               CAST(3 AS BIGINT) AS channels,
               ps.pix_sum
        FROM d JOIN ps USING (doc_id)
        """


register(
    QuerySpec(
        "x30_media_features",
        x30_media_features,
        _x30_sql(),
        "real-PPM decode via pure-stdlib parser in mapInPandas; dims/bytes/pixel-sum oracle-checked",
    )
)


def x38_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through mapInPandas with VARIABLE-cardinality output
    (one payload → N frame rows) — the video/audio chunking shape. The
    fixed-stride splitter + md5 stand-in kernel is SQL-expressible
    (payloads are ASCII text bytes, so char slicing == byte slicing), so
    the exploding Python stage is value-checked end-to-end."""
    from ..operators.media import documents_as_media, extract_frames

    docs = load_table(spark, sf_dir, "documents")
    return extract_frames(documents_as_media(docs))


register(
    QuerySpec(
        "x38_media_frames",
        x38_media_frames,
        f"""
        WITH f AS (
          SELECT doc_id,
                 unnest(range(0, CAST(greatest(1, ceil(strlen(text) / {FRAME_BYTES}.0))
                                      AS BIGINT)))
                     AS frame_idx
          FROM documents),
        c AS (
          SELECT f.doc_id, f.frame_idx,
                 substr(d.text, CAST(f.frame_idx * {FRAME_BYTES} + 1 AS BIGINT),
                        {FRAME_BYTES}) AS chunk
          FROM f JOIN documents d USING (doc_id))
        SELECT doc_id,
               CAST(frame_idx AS BIGINT) AS frame_idx,
               CAST(length(chunk) AS BIGINT) AS frame_len,
               md5(chunk) AS frame_md5
        FROM c
        """,
        "frame sampling: 1→N mapInPandas chunking, value-checked via chunk md5",
    )
)


register(
    QuerySpec(
        "x15_binary_dedup",
        x15_binary_dedup,
        """
        WITH doubled AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS doc_id, text FROM documents)
        SELECT sha256(text) AS content_sha256,
               MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM doubled GROUP BY sha256(text)
        """,
        "content-addressed binary dedup via sha256",
    )
)


# --- x117: byte-budget media shard packing -----------------------------------
# The WebDataset/tar-shard layout step for multimodal training data:
# blobs pack into fixed-byte-budget shards in deterministic doc order,
# via x27's two-phase prefix sum (range partition → partition-local
# running byte sums → tiny offsets frame broadcast back) — never a
# global single-partition window. Each shard's manifest row carries an
# md5 over its members' content hashes in doc order, so the gate proves
# the exact shard membership, not just counts. At 100 TB the shard
# writer consumes exactly this frame, one task per shard directory.
MEDIA_SHARD_BYTES = 16_384


def x117_media_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cat = x14_multimodal_catalog(spark, sf_dir).select(
        "doc_id", "n_bytes", "content_sha256"
    )
    parts = cat.repartitionByRange(F.col("doc_id")).withColumn(
        "pid", F.spark_partition_id()
    )
    wp = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parts.withColumn("local_cum", F.sum("n_bytes").over(wp))
    totals = local.groupBy("pid").agg(F.sum("n_bytes").alias("tot"))
    wo = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "pid", F.coalesce(F.sum("tot").over(wo), F.lit(0)).alias("offset")
    )
    assigned = local.join(F.broadcast(offsets), "pid").select(
        "doc_id",
        "n_bytes",
        "content_sha256",
        F.floor((F.col("local_cum") + F.col("offset") - 1) / MEDIA_SHARD_BYTES)
        .cast("long")
        .alias("shard_id"),
    )
    return (
        assigned.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_blobs"),
            F.sum("n_bytes").cast("long").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "content_sha256"))
                        ),
                        lambda s: s.content_sha256,
                    ),
                    "",
                )
            ).alias("members_md5"),
        )
        .orderBy("shard_id")
    )


register(
    QuerySpec(
        "x117_media_shard_pack",
        x117_media_shard_pack,
        f"""
        WITH cat AS (
          SELECT doc_id,
                 CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                 sha256(text) AS content_sha256
          FROM documents),
        a AS (
          SELECT doc_id, n_bytes, content_sha256,
                 CAST(floor((SUM(n_bytes) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
                      / {MEDIA_SHARD_BYTES}) AS BIGINT) AS shard_id
          FROM cat)
        SELECT shard_id, COUNT(*) AS n_blobs,
               CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
               md5(string_agg(content_sha256, '' ORDER BY doc_id))
                   AS members_md5
        FROM a GROUP BY shard_id
        ORDER BY shard_id
        """,
        "byte-budget media shard packing with per-shard membership digests",
    )
)


def x133_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize over REAL image bytes (VERDICT r12 ask
    #4): real PPM payloads (the x30 fixture images) are decoded by the
    real pure-stdlib parser, fit into a MEDIA_RESIZE_BOX-pixel box by
    integer arithmetic, and RESAMPLED for real — nearest-neighbor on the
    decoded pixel buffer (operators/media.py ``resize_nearest``), with
    the output-pixel checksum proving the resampled CONTENT, not just
    the dims.  The oracle re-derives every output pixel from the source
    arithmetic (sx = x·sw div ow, sy = y·sh div oh over the (doc_id+i)
    mod 256 pattern), so the branching Python stage — which payloads
    resize at all, and what bytes come out — is value-checked.  Same
    scale posture as x30/x38: embarrassingly parallel, no shuffle."""
    from ..operators.media import documents_as_image_media, resize_image_stats

    docs = load_table(spark, sf_dir, "documents")
    return resize_image_stats(documents_as_image_media(docs, fmt="ppm"))


def _x133_sql() -> str:
    from ..operators.media import (
        IMG_H_MAX,
        IMG_H_MIN,
        IMG_H_MOD,
        IMG_PIX_MOD,
        IMG_W_MAX,
        IMG_W_MIN,
        IMG_W_MOD,
        MEDIA_RESIZE_BOX,
    )

    box = MEDIA_RESIZE_BOX
    # Output pixel (x, y, c) samples source index
    #   3·((y·sh div oh)·sw + (x·sw div ow)) + c
    # of the (doc_id + i) mod 256 pattern.
    return f"""
        WITH d AS (
          SELECT doc_id,
                 (doc_id % {IMG_W_MOD}) + {IMG_W_MIN} AS sw,
                 (doc_id % {IMG_H_MOD}) + {IMG_H_MIN} AS sh
          FROM documents),
        r AS (
          SELECT doc_id, sw, sh,
                 CASE WHEN greatest(sw, sh) > {box}
                      THEN greatest(1, (sw * {box}) // greatest(sw, sh))
                      ELSE sw END AS ow,
                 CASE WHEN greatest(sw, sh) > {box}
                      THEN greatest(1, (sh * {box}) // greatest(sw, sh))
                      ELSE sh END AS oh
          FROM d),
        opx AS (
          SELECT r.doc_id,
                 (r.doc_id
                  + 3 * (((gy.j * r.sh) // r.oh) * r.sw
                         + ((gx.i * r.sw) // r.ow))
                  + gc.c) % {IMG_PIX_MOD} AS v
          FROM r
          JOIN generate_series(0, {IMG_W_MAX - 1}) AS gx(i) ON gx.i < r.ow
          JOIN generate_series(0, {IMG_H_MAX - 1}) AS gy(j) ON gy.j < r.oh
          CROSS JOIN generate_series(0, 2) AS gc(c)),
        ps AS (
          SELECT doc_id, CAST(SUM(v) AS BIGINT) AS out_pix_sum
          FROM opx GROUP BY doc_id)
        SELECT r.doc_id,
               CAST(r.sw AS BIGINT) AS src_width,
               CAST(r.sh AS BIGINT) AS src_height,
               CAST(r.ow AS BIGINT) AS out_width,
               CAST(r.oh AS BIGINT) AS out_height,
               greatest(r.sw, r.sh) > {box} AS resized,
               ps.out_pix_sum
        FROM r JOIN ps USING (doc_id)
        """


register(
    QuerySpec(
        "x133_media_resize",
        x133_media_resize,
        _x133_sql(),
        "real nearest-neighbor resample on real-decoded PPM pixels; output checksum oracle-checked",
    )
)


# --- x187: frame-level media dedup -------------------------------------------
FD_HALF_OFF = 200_000  # id offset: first-half-frames re-encode
FD_CORRUPT_OFF = 300_000  # id offset: one-frame-corrupted copy
FD_MIN_CONTAIN = 0.5
# Hot-frame cap (VERDICT r5): a frame hash with more than FD_MAX_DF
# occurrences corpus-wide (black frames, silence, intro cards — corpus-
# sized copy counts in real media) is dropped from PAIR GENERATION, so
# the frame_md5 self-join fans out at most FD_MAX_DF² per frame
# independent of corpus size — the x125 posting-df treatment applied to
# frames.  Denominators keep FULL frame counts, so containment over the
# surviving frames is a lower bound (capped pairs can only lose shared
# frames, never gain).
FD_MAX_DF = 8


def x187_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level media near-dup: chunk every payload into fixed-stride
    frames through the REAL mapInPandas splitter (x38's plumbing), then
    find media pairs sharing frames by content hash — the
    shared-frame containment pass video/audio dedup runs (a shortened
    or partially-corrupted re-encode shares most frames with its
    source even though the whole-file hash differs, which is exactly
    what x15's binary dedup cannot see). The corpus is augmented with
    two deterministic re-encode families: a first-half truncation
    (containment 1.0 from the copy side) and a first-frame corruption
    (containment (n-1)/n), so the containment spectrum is real.

    Shapes: frame explosion is the x38 map stage (no shuffle); the pair
    join keys on frame_md5 with frames above FD_MAX_DF occurrences
    dropped first (see FD_MAX_DF — the hot-key guard that keeps the
    self-join linear when a frame's copy count is corpus-sized); the
    rollup is pair-keyed. Output: pairs with containment ≥
    FD_MIN_CONTAIN.

    All slicing/counting is in BYTES (octet_length + binary substring
    on the encoded payload), matching the byte-stride splitter; the
    oracle's char-based slicing is byte-equivalent only because the
    documents corpus is pure ASCII — asserted by
    tests/test_round6_invariants.py::test_documents_corpus_is_ascii."""
    from ..operators.media import extract_frames

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    n_frames = F.greatest(
        F.lit(1), F.ceil(F.octet_length("payload") / F.lit(float(FRAME_BYTES)))
    )
    half = (
        docs.filter(n_frames >= 2)
        .select(
            (F.col("doc_id") + FD_HALF_OFF).alias("doc_id"),
            F.substring(
                "payload", 1, (F.floor(n_frames / 2) * FRAME_BYTES).cast("int")
            ).alias("payload"),
        )
    )
    corrupt = docs.select(
        (F.col("doc_id") + FD_CORRUPT_OFF).alias("doc_id"),
        F.concat(
            F.encode(F.lit("#"), "UTF-8"), F.substring("payload", 2, 1 << 30)
        ).alias("payload"),
    )
    media = docs.unionAll(half).unionAll(corrupt)
    frames = extract_frames(media).select("doc_id", "frame_md5").persist()
    counts = frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_frames"))
    cold = (
        frames.groupBy("frame_md5")
        .agg(F.count(F.lit(1)).alias("fdf"))
        .filter(F.col("fdf") <= FD_MAX_DF)
        .select("frame_md5")
    )
    joinable = frames.join(cold, "frame_md5")
    a = joinable.select(F.col("doc_id").alias("id_a"), "frame_md5")
    b = joinable.select(F.col("doc_id").alias("id_b"), "frame_md5")
    shared = (
        a.join(b, "frame_md5")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_frames"))
    )
    ca = counts.select(F.col("doc_id").alias("id_a"), F.col("n_frames").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("id_b"), F.col("n_frames").alias("n_b"))
    out = (
        shared.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared_frames",
            F.round(
                F.col("shared_frames").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= FD_MIN_CONTAIN)
        .orderBy("id_a", "id_b")
    )
    return out


register(
    QuerySpec(
        "x187_frame_dedup",
        x187_frame_dedup,
        # Char-based slicing (substr/strlen) is byte-equivalent to the
        # engine's byte-stride frames ONLY on ASCII text — precondition
        # asserted by test_round6_invariants.py::test_documents_corpus_is_ascii.
        f"""
        WITH base AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + {FD_HALF_OFF},
                 substr(text, 1,
                        CAST(floor(greatest(1, ceil(strlen(text) / {FRAME_BYTES}.0)) / 2)
                             * {FRAME_BYTES} AS BIGINT))
          FROM documents
          WHERE greatest(1, ceil(strlen(text) / {FRAME_BYTES}.0)) >= 2
          UNION ALL
          SELECT doc_id + {FD_CORRUPT_OFF}, '#' || substr(text, 2)
          FROM documents),
        f AS (
          SELECT doc_id,
                 unnest(range(0, CAST(greatest(1, ceil(strlen(text) / {FRAME_BYTES}.0))
                                      AS BIGINT))) AS frame_idx
          FROM base),
        frames AS MATERIALIZED (
          SELECT f.doc_id,
                 md5(substr(b.text, CAST(f.frame_idx * {FRAME_BYTES} + 1 AS BIGINT),
                            {FRAME_BYTES}))
                     AS frame_md5
          FROM f JOIN base b USING (doc_id)),
        counts AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames
          FROM frames GROUP BY doc_id),
        cold AS (
          SELECT frame_md5 FROM frames
          GROUP BY frame_md5 HAVING COUNT(*) <= {FD_MAX_DF}),
        joinable AS MATERIALIZED (
          SELECT f.doc_id, f.frame_md5
          FROM frames f JOIN cold USING (frame_md5)),
        shared AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(COUNT(*) AS BIGINT) AS shared_frames
          FROM joinable a JOIN joinable b
            ON a.frame_md5 = b.frame_md5 AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT s.id_a, s.id_b, s.shared_frames,
               ROUND(CAST(s.shared_frames AS DOUBLE)
                     / least(ca.n_frames, cb.n_frames), 6) AS containment
        FROM shared s
        JOIN counts ca ON ca.doc_id = s.id_a
        JOIN counts cb ON cb.doc_id = s.id_b
        WHERE CAST(s.shared_frames AS DOUBLE)
              / least(ca.n_frames, cb.n_frames) >= {FD_MIN_CONTAIN}
        ORDER BY s.id_a, s.id_b
        """,
        "frame-level media dedup: shared-frame containment across re-encodes",
    )
)


# --- x276/x277: the BMP decode path + the binaryFile source ------------------
# x30/x133 route PPM bytes through the real decoder; these two close the
# remaining gaps of VERDICT r12 ask #4.  x276 proves the BMP branch —
# whose on-disk structure (bottom-up rows, BGR order, 4-byte row
# padding) is the part a naive parser gets wrong — by decoding the SAME
# logical image from both encodings and comparing pixel-exactly.  x277
# puts real image FILES on disk and reads them back through Spark's
# ``binaryFile`` source (path/length/content), the production ingest
# shape for a blob-store media corpus, with the per-file stats
# oracle-checked end-to-end.
MEDIA_FILE_MOD = 23  # one fixture file per doc_id ≡ 0 (mod 23)


def x276_bmp_decode_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document dual decode: the doc's fixture image encoded as real
    binary PPM AND as real uncompressed 24-bit BMP, both parsed by the
    pure-stdlib decoder, pixel buffers compared byte-for-byte
    (formats_agree).  The BMP byte length follows the padded-row law
    54 + h·(3w rounded up to 4), which the oracle recomputes — so a
    decoder that mis-handled padding or row order would break either
    the parity bit or the pixel sum.  One fused mapInPandas stage, no
    shuffle, embarrassingly parallel."""
    import pandas as pd

    from ..operators.media import (
        decode_image_pixels,
        make_image,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("channels", T.LongType()),
            T.StructField("pix_sum", T.LongType()),
            T.StructField("ppm_n_bytes", T.LongType()),
            T.StructField("bmp_n_bytes", T.LongType()),
            T.StructField("formats_agree", T.BooleanType()),
        ]
    )

    def batches(it):
        for pdf in it:
            rows = {k: [] for k in schema.fieldNames()}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                ppm = make_image(d, "ppm")
                bmp = make_image(d, "bmp")
                pw, ph, pc, prgb = decode_image_pixels(ppm)
                bw, bh, bc, brgb = decode_image_pixels(bmp)
                rows["doc_id"].append(d)
                rows["width"].append(pw)
                rows["height"].append(ph)
                rows["channels"].append(pc)
                rows["pix_sum"].append(sum(prgb))
                rows["ppm_n_bytes"].append(len(ppm))
                rows["bmp_n_bytes"].append(len(bmp))
                rows["formats_agree"].append(
                    (pw, ph, pc, prgb) == (bw, bh, bc, brgb)
                )
            yield pd.DataFrame(
                {
                    k: pd.Series(
                        rows[k],
                        dtype="bool" if k == "formats_agree" else "int64",
                    )
                    for k in schema.fieldNames()
                }
            )

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id").mapInPandas(batches, schema)


def _x276_sql() -> str:
    from ..operators.media import (
        IMG_H_MAX,
        IMG_H_MIN,
        IMG_H_MOD,
        IMG_PIX_MOD,
        IMG_W_MAX,
        IMG_W_MIN,
        IMG_W_MOD,
    )

    return f"""
        WITH d AS (
          SELECT doc_id,
                 (doc_id % {IMG_W_MOD}) + {IMG_W_MIN} AS w,
                 (doc_id % {IMG_H_MOD}) + {IMG_H_MIN} AS h
          FROM documents),
        px AS (
          SELECT d.doc_id, (d.doc_id + g.i) % {IMG_PIX_MOD} AS v
          FROM d JOIN generate_series(0, {3 * IMG_W_MAX * IMG_H_MAX - 1})
                      AS g(i) ON g.i < 3 * d.w * d.h),
        ps AS (
          SELECT doc_id, CAST(SUM(v) AS BIGINT) AS pix_sum
          FROM px GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(d.w AS BIGINT) AS width,
               CAST(d.h AS BIGINT) AS height,
               CAST(3 AS BIGINT) AS channels,
               ps.pix_sum,
               CAST(9 + strlen(CAST(d.w AS VARCHAR))
                      + strlen(CAST(d.h AS VARCHAR))
                      + 3 * d.w * d.h AS BIGINT) AS ppm_n_bytes,
               CAST(54 + d.h * (((3 * d.w + 3) // 4) * 4) AS BIGINT)
                   AS bmp_n_bytes,
               TRUE AS formats_agree
        FROM d JOIN ps USING (doc_id)
        """


register(
    QuerySpec(
        "x276_bmp_decode_parity",
        x276_bmp_decode_parity,
        _x276_sql(),
        "PPM vs BMP dual real decode of identical logical images: pixel-exact parity + padded-row byte law",
    )
)


def _file_fixture(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    law: tuple,
    name_fmt: str,
    make: Callable[[int], bytes],
) -> str:
    """Write-once GATE_DIR directory of REAL media files for the
    binaryFile-source path: one ``name_fmt.format(doc_id)`` file holding
    ``make(doc_id)`` per doc_id ≡ 0 (mod MEDIA_FILE_MOD).  Keyed on the
    generation-law constants ``law`` AND the documents-table
    fingerprint (the GATE_DIR cache-keying invariant: a retuned law or
    regenerated-in-place testdata busts the cache rather than serving
    stale files).  The writer is driver-side but bounded:
    corpus/MEDIA_FILE_MOD tiny files at gate scale.  In production the
    media files EXIST (they are the corpus being ingested) — generating
    them is harness work, not engine work; the engine path under test
    starts at ``spark.read.format("binaryFile")``."""
    import hashlib
    import os

    from .convert_gate import GATE_DIR
    from .similarity import _data_fingerprint

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    sig = repr((f"{kind}files-v1", MEDIA_FILE_MOD, *law))
    token = hashlib.sha256(sig.encode()).hexdigest()[:8]
    dest = os.path.join(
        GATE_DIR,
        f"{kind}_{tag}_{token}_d{_data_fingerprint(sf_dir, 'documents')}",
    )
    marker = os.path.join(dest, "_SUCCESS")
    if not os.path.exists(marker):
        os.makedirs(dest, exist_ok=True)
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        for r in docs.filter(F.col("doc_id") % MEDIA_FILE_MOD == 0).collect():
            with open(os.path.join(dest, name_fmt.format(r.doc_id)), "wb") as f:
                f.write(make(int(r.doc_id)))
        with open(marker, "w"):
            pass
    return dest


_IMG_LAW = (IMG_W_MOD, IMG_W_MIN, IMG_H_MOD, IMG_H_MIN, IMG_PIX_MOD)


def media_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """.ppm images (x277/x278/x282)."""
    return _file_fixture(
        spark, sf_dir, "media", _IMG_LAW, "img_{:08d}.ppm",
        lambda d: make_image(d, "ppm"),
    )


def audio_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """.wav clips (x290/x292), keyed on every audio-law constant."""
    law = (AUD_NS_MOD, AUD_NS_MIN, AUD_SR_MOD, AUD_SR_STEP, AUD_SR_BASE,
           AUD_VAL_MOD, AUD_VAL_A, AUD_VAL_B)
    return _file_fixture(spark, sf_dir, "audio", law, "clip_{:08d}.wav", make_audio)


def video_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """.y4m clips (x296/x304), keyed on every video-law constant."""
    law = (VID_W_MOD, VID_W_MIN, VID_H_MOD, VID_H_MIN, VID_NF_MOD, VID_NF_MIN,
           VID_FPS_NUM, VID_FPS_DEN, VID_BYTE_A, VID_BYTE_F, VID_BYTE_J,
           VID_BYTE_MOD)
    return _file_fixture(spark, sf_dir, "video", law, "vid_{:08d}.y4m", make_video)


def png_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """.png images (x306/x307); the alpha constant pins the encoder
    version."""
    return _file_fixture(
        spark, sf_dir, "png", (*_IMG_LAW, PNG_ALPHA_A), "img_{:08d}.png",
        lambda d: make_image(d, "png"),
    )


# The binaryFile media legs: file extension → (file-name stem, fixture
# writer, decode kernel, output columns between doc_id and
# length_agrees).  The batch entries (x277/x290/x296/x306) and their
# streaming twins (x278/x292/x304/x307) decode through the same
# ``decode_media_files``, so a twin cannot drift from its batch entry.
MEDIA_LEGS = {
    "ppm": ("img", media_fixture_dir, extract_image_stats,
            ("src_length", "n_bytes", "width", "height", "pix_sum")),
    "wav": ("clip", audio_fixture_dir, extract_audio_stats,
            ("src_length", "n_bytes", "sample_rate", "n_samples", "sum_abs")),
    "y4m": ("vid", video_fixture_dir, extract_video_stats,
            ("src_length", "n_bytes", "width", "height", "n_frames", "n_cuts")),
    "png": ("img", png_fixture_dir, extract_image_stats,
            ("width", "height", "pix_sum")),
}


def media_files(files: DataFrame, ext: str) -> DataFrame:
    """binaryFile rows → (doc_id, src_length, payload), the doc_id parsed
    from the file name JVM-side (regexp on the path — no Python for
    metadata work)."""
    stem = MEDIA_LEGS[ext][0]
    return files.select(
        F.regexp_extract(F.col("path"), rf"{stem}_(\d+)\.{ext}$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("src_length"),
        F.col("content").alias("payload"),
    )


def decode_media_files(files: DataFrame, ext: str) -> DataFrame:
    """Real decode + stats of one leg's binaryFile rows in one
    mapInPandas stage, the source's own ``length`` carried next to the
    decoded payload length so the gate cross-checks the source metadata
    against the bytes it delivered."""
    _stem, _fixture, extract, cols = MEDIA_LEGS[ext]
    rows = media_files(files, ext)
    return (
        extract(rows)
        .join(rows.select("doc_id", "src_length"), "doc_id")
        .select(
            "doc_id",
            *cols,
            (F.col("src_length") == F.col("n_bytes")).alias("length_agrees"),
        )
    )


def _decode_fixture(spark: SparkSession, sf_dir: str, ext: str) -> DataFrame:
    """A leg's fixture directory read through ``binaryFile`` and decoded."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"*.{ext}")
        .load(MEDIA_LEGS[ext][1](spark, sf_dir))
    )
    return decode_media_files(files, ext)


def x277_media_binaryfile_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blob-store media ingest through Spark's ``binaryFile`` source:
    real .ppm files on disk → (path, length, content) rows → doc_id
    parsed from the file name JVM-side → real decode + stats in one
    mapInPandas stage, source length cross-checked against the decoded
    payload.  At 100 TB this is the actual ingest shape: binaryFile
    lists + reads files distributed, decode is per-partition Python
    with whole-Arrow-batch transfer, no shuffle anywhere."""
    return _decode_fixture(spark, sf_dir, "ppm")


def _x277_sql() -> str:
    from ..operators.media import (
        IMG_H_MAX,
        IMG_H_MIN,
        IMG_H_MOD,
        IMG_PIX_MOD,
        IMG_W_MAX,
        IMG_W_MIN,
        IMG_W_MOD,
    )

    return f"""
        WITH d AS (
          SELECT doc_id,
                 (doc_id % {IMG_W_MOD}) + {IMG_W_MIN} AS w,
                 (doc_id % {IMG_H_MOD}) + {IMG_H_MIN} AS h
          FROM documents
          WHERE doc_id % {MEDIA_FILE_MOD} = 0),
        px AS (
          SELECT d.doc_id, (d.doc_id + g.i) % {IMG_PIX_MOD} AS v
          FROM d JOIN generate_series(0, {3 * IMG_W_MAX * IMG_H_MAX - 1})
                      AS g(i) ON g.i < 3 * d.w * d.h),
        ps AS (
          SELECT doc_id, CAST(SUM(v) AS BIGINT) AS pix_sum
          FROM px GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(9 + strlen(CAST(d.w AS VARCHAR))
                      + strlen(CAST(d.h AS VARCHAR))
                      + 3 * d.w * d.h AS BIGINT) AS src_length,
               CAST(9 + strlen(CAST(d.w AS VARCHAR))
                      + strlen(CAST(d.h AS VARCHAR))
                      + 3 * d.w * d.h AS BIGINT) AS n_bytes,
               CAST(d.w AS BIGINT) AS width,
               CAST(d.h AS BIGINT) AS height,
               ps.pix_sum,
               TRUE AS length_agrees
        FROM d JOIN ps USING (doc_id)
        """


register(
    QuerySpec(
        "x277_media_binaryfile_source",
        x277_media_binaryfile_source,
        _x277_sql(),
        "real .ppm files through the binaryFile source: metadata vs decoded bytes, stats oracle-checked",
    )
)


# --- x279/x280/x281: perceptual dHash image dedup over real bytes -------------
# The image near-dup arrow (SURVEY §2.C X5 ∩ X2), enabled by the real
# decoder: x279 computes the canonical 64-bit difference hash from
# ACTUAL decoded pixel buffers (the arithmetic pixel law lets the
# oracle predict every bit without touching bytes), x280 generates
# near-dup candidate pairs by multi-index Hamming banding — the LSH
# discipline applied to image hashes: a band-value equijoin with
# capacity-capped buckets, never an all-pairs scan — and x281 executes
# the exact-hash dedup (canonical survivor + reclaimed bytes), the
# content-addressable-store economics readout.
#
# Scale: x279 is shuffle-free and embarrassingly parallel.  x280's pair
# stage is bounded by construction: every (band, value) bucket is
# chunked to DHASH_CAP members (row_number over doc_id — deterministic
# on both engines), so a bucket of m docs yields ≤ ⌈m/CAP⌉·C(CAP,2)
# pairs — linear in m, the x214 capacity-capping pattern.  Recall is
# LSH-style, not complete: 4 bands guarantee an exact band match only
# for Hamming ≤ 3 (pigeonhole needs radius < band count); at the
# working threshold T=6 a pair CAN differ in all four bands, and
# chunking can additionally split a matching band's bucket — x286
# AUDITS the realized recall against pigeonhole-complete exact truth
# (8 sub-bands of 8 bits, complete for Hamming ≤ 7) on a bounded
# slice, the same measured-recall discipline x188/x240 apply to the
# MinHash and graph sketches.
DHASH_CAP = 8     # max bucket members co-chunked per (band, value)
DHASH_HAM_T = 6   # near-dup threshold: Hamming distance over 64 bits


def _dhash_ctes(where: str = "") -> str:
    """Shared oracle CTE chain ending in ``hashes``: per-document dHash
    bands + hex + payload byte length, recomputed from the fixture
    pixel law (doc_id arithmetic) — no bytes touched.  ``where``
    filters the documents scan (the streaming twin's file subset)."""
    from ..operators.media import (
        DHASH_BAND_BITS,
        DHASH_GRID_H,
        DHASH_GRID_W,
        IMG_H_MIN,
        IMG_H_MOD,
        IMG_PIX_MOD,
        IMG_W_MIN,
        IMG_W_MOD,
    )

    gw1 = DHASH_GRID_W + 1
    band_cols = ",\n                 ".join(
        f"CAST(COALESCE(SUM(CASE WHEN k // {DHASH_BAND_BITS} = {i} "
        f"THEN b * (1::BIGINT << (k % {DHASH_BAND_BITS})) END), 0) "
        f"AS BIGINT) AS band{i}"
        for i in range(4)
    )
    return f"""
        d AS (
          SELECT doc_id,
                 (doc_id % {IMG_W_MOD}) + {IMG_W_MIN} AS w,
                 (doc_id % {IMG_H_MOD}) + {IMG_H_MIN} AS h
          FROM documents {where}),
        cell AS (
          SELECT d.doc_id, gy.i AS gy, gx.i AS gx,
                 d.doc_id + 3 * (((gy.i * d.h) // {DHASH_GRID_H}) * d.w
                                 + ((gx.i * d.w) // {gw1})) AS q
          FROM d
          CROSS JOIN generate_series(0, {DHASH_GRID_H - 1}) AS gy(i)
          CROSS JOIN generate_series(0, {gw1 - 1}) AS gx(i)),
        g AS (
          SELECT doc_id, gy, gx,
                 q % {IMG_PIX_MOD} + (q + 1) % {IMG_PIX_MOD}
                   + (q + 2) % {IMG_PIX_MOD} AS gray
          FROM cell),
        bit AS (
          SELECT a.doc_id, a.gy * {DHASH_GRID_W} + a.gx AS k,
                 CASE WHEN r.gray > a.gray THEN 1 ELSE 0 END AS b
          FROM g a JOIN g r
            ON r.doc_id = a.doc_id AND r.gy = a.gy AND r.gx = a.gx + 1
          WHERE a.gx < {DHASH_GRID_W}),
        bands AS (
          SELECT doc_id,
                 {band_cols}
          FROM bit GROUP BY doc_id),
        hashes AS (
          SELECT d.doc_id,
                 printf('%04x%04x%04x%04x',
                        bands.band3, bands.band2,
                        bands.band1, bands.band0) AS dhash_hex,
                 bands.band0, bands.band1, bands.band2, bands.band3,
                 CAST(9 + strlen(CAST(d.w AS VARCHAR))
                        + strlen(CAST(d.h AS VARCHAR))
                        + 3 * d.w * d.h AS BIGINT) AS n_bytes
          FROM d JOIN bands USING (doc_id))
        """


def x279_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perceptual hash from REAL bytes: every doc's fixture
    image is encoded as real binary PPM, parsed by the real pure-stdlib
    decoder, and dHashed from the actual pixel buffer
    (``operators/media.py::dhash_bands`` — resample + neighbor-compare
    are pure integer arithmetic, so the oracle recomputes all 64 bits
    from the pixel law without bytes).  One fused mapInPandas stage, no
    shuffle; at 100 TB the stage is one decode per image, local to
    whichever partition holds the bytes."""
    from ..operators.media import (
        documents_as_image_media,
        extract_image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    return extract_image_dhash(documents_as_image_media(docs, fmt="ppm"))


def _x279_sql(where: str = "") -> str:
    return f"""
        WITH {_dhash_ctes(where)}
        SELECT doc_id, dhash_hex, band0, band1, band2, band3, n_bytes
        FROM hashes
        """


register(
    QuerySpec(
        "x279_image_dhash",
        x279_image_dhash,
        _x279_sql(),
        "64-bit perceptual dHash from real decoded pixels: every bit oracle-predicted from the pixel law",
    )
)


def x280_dhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup candidate pairs by multi-index Hamming banding:
    the 64-bit dHash splits into four 16-bit bands; docs sharing a
    band VALUE are candidates (complete for Hamming ≤ 3 by pigeonhole;
    LSH-style probabilistic above that — realized recall at the
    working threshold is AUDITED by x286), each (band, value) bucket
    is capacity-chunked to DHASH_CAP by doc_id rank so pair volume is
    linear in bucket size (the x214 discipline — no quadratic bucket
    blowup on hash-clustered corpora, which this arithmetic corpus
    deliberately is), and surviving pairs are scored by EXACT Hamming
    distance over all 64 bits (bit_count(xor) per band, JVM-side).
    Output: pairs within DHASH_HAM_T.  At 100 TB: one shuffle on
    (band, value) + a chunk-local self-join — shuffle volume is 4 rows
    per image, pair volume capacity-bounded."""
    from pyspark.sql import Window

    from ..operators.media import (
        documents_as_image_media,
        extract_image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = extract_image_dhash(documents_as_image_media(docs, fmt="ppm"))
    long = h.select(
        "doc_id",
        "band0",
        "band1",
        "band2",
        "band3",
        F.expr(
            "stack(4, 0L, band0, 1L, band1, 2L, band2, 3L, band3) "
            "AS (band, val)"
        ),
    )
    w = Window.partitionBy("band", "val").orderBy("doc_id")
    chunked = long.withColumn(
        "chunk",
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(DHASH_CAP)),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.band{i}").alias(f"a{i}") for i in range(4)],
            *[F.col(f"b.band{i}").alias(f"b{i}") for i in range(4)],
        )
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}")))
        for i in range(4)
    ).cast("long")
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= DHASH_HAM_T)
        .select("doc_a", "doc_b", "hamming")
    )


_SQL_PAIR_HAMMING = (
    "bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) "
    "+ bit_count(xor(a2, b2)) + bit_count(xor(a3, b3))"
)


def _x280_ctes() -> str:
    """x280's candidate chain ending in ``cand`` (doc_a, doc_b,
    hamming ≤ T) — composable so the recall audit (x286) can reuse the
    production candidate generator verbatim inside its own query."""
    return f"""
        long AS (
          SELECT doc_id, band0, band1, band2, band3, v.band,
                 CASE v.band WHEN 0 THEN band0 WHEN 1 THEN band1
                             WHEN 2 THEN band2 ELSE band3 END AS val
          FROM hashes CROSS JOIN (VALUES (0), (1), (2), (3)) AS v(band)),
        chunked AS (
          SELECT *,
                 (ROW_NUMBER() OVER (PARTITION BY band, val
                                     ORDER BY doc_id) - 1)
                   // {DHASH_CAP} AS chunk
          FROM long),
        pairs AS (
          SELECT DISTINCT
                 a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.band0 AS a0, a.band1 AS a1, a.band2 AS a2, a.band3 AS a3,
                 b.band0 AS b0, b.band1 AS b1, b.band2 AS b2, b.band3 AS b3
          FROM chunked a JOIN chunked b
            ON a.band = b.band AND a.val = b.val AND a.chunk = b.chunk
               AND a.doc_id < b.doc_id),
        cand AS (
          SELECT doc_a, doc_b,
                 CAST({_SQL_PAIR_HAMMING} AS BIGINT) AS hamming
          FROM pairs
          WHERE {_SQL_PAIR_HAMMING} <= {DHASH_HAM_T})"""


def _x280_sql() -> str:
    return f"""
        WITH {_dhash_ctes()},
        {_x280_ctes()}
        SELECT doc_a, doc_b, hamming FROM cand
        """


register(
    QuerySpec(
        "x280_dhash_neardup_pairs",
        x280_dhash_neardup_pairs,
        _x280_sql(),
        "banded-Hamming image near-dup pairs: capacity-capped band buckets, exact 64-bit rescore",
    )
)


def x281_dhash_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-perceptual-hash dedup EXECUTION — the content-addressable
    store manifest: group by the full 64-bit dHash, keep the lowest
    doc_id as the canonical copy, and report the bytes a blob store
    reclaims by deduplicating the rest (sum of member payload sizes
    minus the keeper's — n_bytes comes from the REAL encoded payload
    Spark-side, from the byte-length law oracle-side).  One shuffle on
    the hash key with map-side partial aggregation; at 100 TB this is
    the standard hash-groupBy dedup shape."""
    from ..operators.media import (
        documents_as_image_media,
        extract_image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = extract_image_dhash(documents_as_image_media(docs, fmt="ppm"))
    return h.groupBy("dhash_hex").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_members"),
        (F.sum("n_bytes") - F.min_by("n_bytes", "doc_id"))
        .cast("long")
        .alias("bytes_reclaimed"),
    )


def _x281_sql() -> str:
    return f"""
        WITH {_dhash_ctes()}
        SELECT dhash_hex,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_members,
               CAST(SUM(n_bytes) - MIN_BY(n_bytes, doc_id) AS BIGINT)
                 AS bytes_reclaimed
        FROM hashes GROUP BY dhash_hex
        """


register(
    QuerySpec(
        "x281_dhash_dedup_survivors",
        x281_dhash_dedup_survivors,
        _x281_sql(),
        "exact-dHash dedup execute: canonical survivor per hash + reclaimed payload bytes",
    )
)


# --- x283/x284: dedup adoption policy + policy-routed media store serve -------
# The media edition of the integer-decide discipline (x231/x258/x266/
# x271): deduplicating a blob store pays a hash-keyed rewrite, which is
# only worth it when duplicate mass is material.  x283 measures the
# reclaimable fraction in basis points — pure BIGINT arithmetic the
# oracle re-derives — and adopts the dedup iff it clears
# DHASH_RECLAIM_BP.  x284 serves the store's shard manifest (objects
# sharded by hash prefix — the content-addressable-store layout)
# THROUGH the decision: 'dedup' stores one object per distinct hash,
# 'hold' stores every object as-is and never pays the group-by-hash
# rewrite.  The decision is named in every output row, so one gate hash
# proves decision and served manifest agree cross-engine.
BP_SCALE = 10_000
DHASH_RECLAIM_BP = 2_000  # dedup iff ≥ 20.00% of payload bytes reclaimable


def _store_groups(h: DataFrame, key: str, shard: Column) -> DataFrame:
    """Per-(shard, content key) store accounting over decoded rows
    (doc_id, key, n_bytes): logical bytes (all refs), stored bytes under
    dedup (the keeper's, the lowest doc_id) and the ref count."""
    return h.withColumn("shard", shard).groupBy("shard", key).agg(
        F.count(F.lit(1)).alias("refs"),
        F.sum("n_bytes").alias("logical"),
        F.min_by("n_bytes", "doc_id").alias("stored"),
    )


def _dhash_store_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image store groups off the REAL decode path.  Shard = leading hex
    nibble of the content hash, the standard CAS fan-out key."""
    from ..operators.media import (
        documents_as_image_media,
        extract_image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = extract_image_dhash(documents_as_image_media(docs, fmt="ppm"))
    return _store_groups(h, "dhash_hex", F.substring("dhash_hex", 1, 1))


def _groups_sql(p: str, src: str, shard: str, key: str) -> str:
    """Oracle fragment mirroring ``_store_groups``: the ``{p}groups``
    CTE over ``src`` plus the ``{p}agg`` totals the decision reads."""
    return f"""
        {p}groups AS (
          SELECT {shard} AS shard, {key},
                 COUNT(*) AS refs,
                 SUM(n_bytes) AS logical,
                 MIN_BY(n_bytes, doc_id) AS stored
          FROM {src} GROUP BY 1, 2),
        {p}agg AS (
          SELECT CAST(SUM(refs) AS BIGINT) AS n_objects,
                 CAST(SUM(logical) AS BIGINT) AS total_bytes,
                 CAST(SUM(logical) - SUM(stored) AS BIGINT)
                   AS reclaimable_bytes
          FROM {p}groups)"""


def _decision_sql(thr_bp: int) -> str:
    return (
        f"CASE WHEN ({BP_SCALE} * reclaimable_bytes) // total_bytes "
        f">= {thr_bp} THEN 'dedup' ELSE 'hold' END"
    )


def _store_policy_sql(ctes: str, p: str, thr_bp: int) -> str:
    """The decide oracle (x283/x301/x308) over ``ctes``, which ends
    with a ``_groups_sql(p, ...)`` fragment."""
    return f"""
        WITH {ctes}
        SELECT n_objects, total_bytes, reclaimable_bytes,
               ({BP_SCALE} * reclaimable_bytes) // total_bytes
                 AS reclaim_bp,
               CAST({thr_bp} AS BIGINT) AS thr_bp,
               {_decision_sql(thr_bp)} AS decision
        FROM {p}agg
        """


def _store_manifest_sql(ctes: str, p: str, thr_bp: int) -> str:
    """The policy-routed manifest oracle (x284/x302/x309): re-makes the
    integer decision and serves the same branch."""
    return f"""
        WITH {ctes},
        {p}dec AS (SELECT {_decision_sql(thr_bp)} AS decision FROM {p}agg),
        {p}per AS (
          SELECT shard,
                 CAST(COUNT(*) AS BIGINT) AS dd_objects,
                 CAST(SUM(refs) AS BIGINT) AS n_refs,
                 CAST(SUM(stored) AS BIGINT) AS dd_bytes,
                 CAST(SUM(logical) AS BIGINT) AS logical_bytes
          FROM {p}groups GROUP BY shard)
        SELECT (SELECT decision FROM {p}dec) AS decision,
               shard,
               CASE WHEN (SELECT decision FROM {p}dec) = 'dedup'
                    THEN dd_objects ELSE n_refs END AS n_objects,
               n_refs AS n_logical_refs,
               CASE WHEN (SELECT decision FROM {p}dec) = 'dedup'
                    THEN dd_bytes ELSE logical_bytes END AS stored_bytes,
               logical_bytes
        FROM {p}per
        """


def _dhash_store_ctes() -> str:
    groups = _groups_sql("", "hashes", "substring(dhash_hex, 1, 1)", "dhash_hex")
    return f"{_dhash_ctes()},\n        {groups}"


def _dedup_policy_from(
    g: DataFrame, thr_bp: int = DHASH_RECLAIM_BP
) -> DataFrame:
    """x283's measure + decide over a per-hash groups frame carrying
    (refs, logical, stored) — shared VERBATIM by the batch policy, the
    streaming twin x285, and the audio edition x301 (the
    x266/_swap_policy_from pattern: the drained partials feed the same
    Column expressions, so batching cannot change the decision)."""
    agg = g.agg(
        F.sum("refs").cast("long").alias("n_objects"),
        F.sum("logical").cast("long").alias("total_bytes"),
        (F.sum("logical") - F.sum("stored"))
        .cast("long")
        .alias("reclaimable_bytes"),
    )
    return agg.select(
        "n_objects",
        "total_bytes",
        "reclaimable_bytes",
        F.expr(
            f"({BP_SCALE} * reclaimable_bytes) div total_bytes"
        ).alias("reclaim_bp"),
        F.lit(thr_bp).cast("long").alias("thr_bp"),
        F.when(
            F.expr(f"({BP_SCALE} * reclaimable_bytes) div total_bytes")
            >= F.lit(thr_bp),
            F.lit("dedup"),
        )
        .otherwise(F.lit("hold"))
        .alias("decision"),
    )


def x283_media_dedup_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_objects, total_bytes, reclaimable_bytes, reclaim_bp,
    thr_bp, decision) — adopt the store dedup iff the reclaimable
    payload fraction clears the threshold, in exact basis points
    (BIGINT div, both engines).  Scale shapes: the measure is x281's
    hash-groupBy (one shuffle, map-side partials) collapsed to one
    metadata-plane row; no rewrite is paid to decide."""
    return _dedup_policy_from(_dhash_store_groups(spark, sf_dir))


def _x283_sql() -> str:
    return _store_policy_sql(_dhash_store_ctes(), "", DHASH_RECLAIM_BP)


register(
    QuerySpec(
        "x283_media_dedup_policy",
        x283_media_dedup_policy,
        _x283_sql(),
        "store-dedup adoption policy: dedup iff the reclaimable payload fraction clears the basis-point threshold",
    )
)


def _policy_routed_store(g: DataFrame, thr_bp: int) -> DataFrame:
    """A store's shard manifest served THROUGH the dedup policy over the
    groups frame ``g``, the decision named in every row: (decision,
    shard, n_objects, n_logical_refs, stored_bytes, logical_bytes).
    'dedup' stores one object per distinct content key (n_objects =
    distinct keys, stored_bytes = keepers only); 'hold' stores every
    object verbatim (n_objects = refs, stored = logical) and never pays
    the group-by-key rewrite beyond the measure itself.  The oracle
    re-makes the integer decision and serves the same branch — one hash
    proves decision and manifest agree.  Shared by x284, x302 and x309."""
    decision = (
        _dedup_policy_from(g, thr_bp).collect()[0].decision
    )  # 1-row bounded decision (the x235 pattern)
    dedup = decision == "dedup"
    return g.groupBy("shard").agg(
        (F.count(F.lit(1)) if dedup else F.sum("refs")).cast("long").alias("n_objects"),
        F.sum("refs").cast("long").alias("n_logical_refs"),
        F.sum("stored" if dedup else "logical").cast("long").alias("stored_bytes"),
        F.sum("logical").cast("long").alias("logical_bytes"),
    ).select(
        F.lit(decision).alias("decision"),
        "shard",
        "n_objects",
        "n_logical_refs",
        "stored_bytes",
        "logical_bytes",
    )


def x284_policy_routed_media_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The store's shard manifest served THROUGH x283's decision (see
    ``_policy_routed_store``).  Scale shapes: one hash-keyed shuffle + a
    16-key shard rollup."""
    return _policy_routed_store(_dhash_store_groups(spark, sf_dir), DHASH_RECLAIM_BP)


def _x284_sql() -> str:
    return _store_manifest_sql(_dhash_store_ctes(), "", DHASH_RECLAIM_BP)


register(
    QuerySpec(
        "x284_policy_routed_media_store",
        x284_policy_routed_media_store,
        _x284_sql(),
        "policy-routed media store manifest: shard accounting through whichever layout the dedup policy adopts",
    )
)


# --- x286: the banding+chunking recall audit ----------------------------------
# x280's candidate generation is LSH-style: 4 bands guarantee an exact
# band match only for Hamming ≤ 3, and a matching band's bucket can
# still chunk-split a pair.  This audit MEASURES the realized recall
# (the x188/x240 discipline): exact truth on a bounded slice via a
# pigeonhole-COMPLETE second index — 8 sub-bands of 8 bits, complete
# for Hamming ≤ 7 ≥ T, so the truth equijoin provably misses nothing —
# then the production candidates (x280's chain verbatim) are scored
# against it, split into exact-dup (Hamming 0) and near-dup mass.
#
# The audit set is bounded ABSOLUTELY, not as a corpus fraction: a
# fixed-fraction slice makes truth pair volume quadratic in corpus
# size on a hash-degenerate corpus — the x196 failure mode, avoided
# at birth by capping the set at the DHASH_AUDIT_N lowest slice ids
# (at gate scale the slice is smaller than the cap, so gate evidence
# is the uncapped slice; at probe scales the audit stays O(N²) in a
# CONSTANT N).
DHASH_AUDIT_MOD = 7    # audit slice: doc_id ≡ 0 (mod 7)
DHASH_AUDIT_N = 128    # absolute bound: lowest N slice ids


def x286_dhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_truth_pairs, n_cand_pairs, pair_recall_bp,
    n_truth_docs, n_covered_docs, doc_coverage_bp).  Truth = ALL slice
    pairs within DHASH_HAM_T, found by a pigeonhole-COMPLETE second
    index (8 sub-bands of 8 bits — complete for Hamming ≤ 7 ≥ T; no
    capacity cap — affordable because the slice is 1/DHASH_AUDIT_MOD
    of the corpus and the audit is pay-per-audit, the x196-demotion
    lesson applied at birth).

    Two metrics because they answer different questions.  PAIR recall
    is low by design on a hash-degenerate corpus (this one: ~1/3 of
    all slice pairs are within T): the capacity cap exists precisely
    to refuse to enumerate quadratic pair mass.  What dedup/clustering
    actually needs is DOC coverage — every doc that HAS a true
    near-dup gets linked to at least one candidate partner (any
    partner, slice or not), after which cluster-closure (the x26
    connected-components pass) recovers the group.  The gate pins
    both numbers, so a cap retune that silently destroyed coverage
    would fail loudly."""
    sl = (
        x279_image_dhash(spark, sf_dir)
        .filter(F.col("doc_id") % DHASH_AUDIT_MOD == 0)
        .select("doc_id", "band0", "band1", "band2", "band3")
        .orderBy("doc_id")
        .limit(DHASH_AUDIT_N)
    )
    sub = sl.select(
        "doc_id",
        "band0",
        "band1",
        "band2",
        "band3",
        F.expr(
            "stack(8, 0L, band0 % 256, 1L, band0 div 256, "
            "2L, band1 % 256, 3L, band1 div 256, "
            "4L, band2 % 256, 5L, band2 div 256, "
            "6L, band3 % 256, 7L, band3 div 256) AS (sb, val)"
        ),
    )
    a, b = sub.alias("a"), sub.alias("b")
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}")))
        for i in range(4)
    ).cast("long")
    truth = (
        a.join(
            b,
            (F.col("a.sb") == F.col("b.sb"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.band{i}").alias(f"a{i}") for i in range(4)],
            *[F.col(f"b.band{i}").alias(f"b{i}") for i in range(4)],
        )
        .distinct()
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= DHASH_HAM_T)
        .select("doc_a", "doc_b")
    )
    ids = sl.select(F.col("doc_id").alias("d"))  # ≤ DHASH_AUDIT_N rows
    cand_all = x280_dhash_neardup_pairs(spark, sf_dir)
    cand_sliced = (
        cand_all.join(
            F.broadcast(ids), cand_all.doc_a == ids.d, "left_semi"
        )
        .join(F.broadcast(ids), F.col("doc_b") == ids.d, "left_semi")
        .select("doc_a", "doc_b", F.lit(1).alias("hit"))
    )
    pair_agg = truth.join(cand_sliced, ["doc_a", "doc_b"], "left").agg(
        F.count(F.lit(1)).cast("long").alias("n_truth_pairs"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0)))
        .cast("long")
        .alias("n_hit_pairs"),
    )
    tdocs = (
        truth.select(F.col("doc_a").alias("d"))
        .unionAll(truth.select(F.col("doc_b").alias("d")))
        .distinct()
    )
    cdocs = (
        cand_all.select(F.col("doc_a").alias("d"))
        .unionAll(cand_all.select(F.col("doc_b").alias("d")))
        .join(F.broadcast(ids), "d", "left_semi")
        .distinct()
        .withColumn("covered", F.lit(1))
    )
    doc_agg = tdocs.join(cdocs, "d", "left").agg(
        F.count(F.lit(1)).cast("long").alias("n_truth_docs"),
        F.sum(F.coalesce(F.col("covered"), F.lit(0)))
        .cast("long")
        .alias("n_covered_docs"),
    )
    return pair_agg.join(doc_agg).select(
        "n_truth_pairs",
        F.col("n_hit_pairs").alias("n_cand_pairs"),
        F.expr(
            f"CASE WHEN n_truth_pairs = 0 THEN {BP_SCALE} "
            f"ELSE ({BP_SCALE} * n_hit_pairs) div n_truth_pairs END"
        ).alias("pair_recall_bp"),
        "n_truth_docs",
        "n_covered_docs",
        F.expr(
            f"CASE WHEN n_truth_docs = 0 THEN {BP_SCALE} "
            f"ELSE ({BP_SCALE} * n_covered_docs) div n_truth_docs END"
        ).alias("doc_coverage_bp"),
    )


def _x286_sql() -> str:
    return f"""
        WITH {_dhash_ctes()},
        {_x280_ctes()},
        sl AS (
          SELECT doc_id, band0, band1, band2, band3
          FROM hashes WHERE doc_id % {DHASH_AUDIT_MOD} = 0
          ORDER BY doc_id LIMIT {DHASH_AUDIT_N}),
        sub AS (
          SELECT doc_id, band0, band1, band2, band3, s.i AS sb,
                 CASE s.i
                   WHEN 0 THEN band0 % 256 WHEN 1 THEN band0 // 256
                   WHEN 2 THEN band1 % 256 WHEN 3 THEN band1 // 256
                   WHEN 4 THEN band2 % 256 WHEN 5 THEN band2 // 256
                   WHEN 6 THEN band3 % 256 ELSE band3 // 256 END AS val
          FROM sl CROSS JOIN generate_series(0, 7) AS s(i)),
        tpairs AS (
          SELECT DISTINCT
                 a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.band0 AS a0, a.band1 AS a1, a.band2 AS a2, a.band3 AS a3,
                 b.band0 AS b0, b.band1 AS b1, b.band2 AS b2, b.band3 AS b3
          FROM sub a JOIN sub b
            ON a.sb = b.sb AND a.val = b.val AND a.doc_id < b.doc_id),
        truth AS (
          SELECT doc_a, doc_b
          FROM tpairs
          WHERE {_SQL_PAIR_HAMMING} <= {DHASH_HAM_T}),
        scand AS (
          SELECT doc_a, doc_b FROM cand
          WHERE doc_a IN (SELECT doc_id FROM sl)
            AND doc_b IN (SELECT doc_id FROM sl)),
        pagg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_truth_pairs,
                 CAST(SUM(CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END)
                      AS BIGINT) AS n_hit_pairs
          FROM truth t LEFT JOIN scand c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
        tdocs AS (
          SELECT DISTINCT d FROM (
            SELECT doc_a AS d FROM truth
            UNION ALL SELECT doc_b FROM truth)),
        cdocs AS (
          SELECT DISTINCT d FROM (
            SELECT doc_a AS d FROM cand
            UNION ALL SELECT doc_b FROM cand)
          WHERE d IN (SELECT doc_id FROM sl)),
        dagg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_truth_docs,
                 CAST(SUM(CASE WHEN d IN (SELECT d FROM cdocs)
                               THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_covered_docs
          FROM tdocs)
        SELECT n_truth_pairs,
               n_hit_pairs AS n_cand_pairs,
               CASE WHEN n_truth_pairs = 0 THEN {BP_SCALE}
                    ELSE ({BP_SCALE} * n_hit_pairs) // n_truth_pairs END
                 AS pair_recall_bp,
               n_truth_docs,
               n_covered_docs,
               CASE WHEN n_truth_docs = 0 THEN {BP_SCALE}
                    ELSE ({BP_SCALE} * n_covered_docs) // n_truth_docs END
                 AS doc_coverage_bp
        FROM pagg CROSS JOIN dagg
        """


register(
    QuerySpec(
        "x286_dhash_recall_audit",
        x286_dhash_recall_audit,
        _x286_sql(),
        "banding+chunking recall audit: x280's candidates vs pigeonhole-complete exact Hamming truth on a bounded slice",
    )
)


# --- x287-x290: REAL audio decode (PCM WAV) -----------------------------------
# The multimodal triad's second real-decode leg: RIFF/WAVE 16-bit mono
# PCM parsed by a real stdlib chunk walk (operators/media.py
# ``decode_wav`` — fmt/data located by walking chunk sizes, unknown
# chunks skipped word-aligned), fixture clips doc_id-ARITHMETIC so the
# oracle predicts every decoded statistic without bytes.  x287 = decode
# stats; x288 = silence segmentation, where the SQL oracle re-derives
# the Python kernel's run counting INDEPENDENTLY via LAG
# gaps-and-islands — two different algorithms, one answer; x289 = the
# energy-contour fingerprint (the dHash idea on the time axis) with
# exact-dup grouping; x290 = real .wav files through the binaryFile
# source (the x277 ingest shape).  Compressed codecs (MP3/AAC/FLAC)
# remain the marked stub boundary, same as JPEG/PNG.


def _audio_ctes(where: str = "") -> str:
    from ..operators.media import (
        AUD_NS_MAX,
        AUD_NS_MIN,
        AUD_NS_MOD,
        AUD_SIL_THRESH,
        AUD_SR_BASE,
        AUD_SR_MOD,
        AUD_SR_STEP,
        AUD_VAL_A,
        AUD_VAL_B,
        AUD_VAL_MOD,
    )

    half = AUD_VAL_MOD // 2
    return f"""
        ad AS (
          SELECT doc_id,
                 {AUD_SR_BASE} + {AUD_SR_STEP} * (doc_id % {AUD_SR_MOD})
                   AS sr,
                 doc_id % {AUD_NS_MOD} + {AUD_NS_MIN} AS n
          FROM documents {where}),
        asamp AS (
          SELECT ad.doc_id, g.i AS i,
                 (ad.doc_id * {AUD_VAL_A} + g.i * {AUD_VAL_B})
                   % {AUD_VAL_MOD} - {half} AS v
          FROM ad JOIN generate_series(0, {AUD_NS_MAX - 1}) AS g(i)
            ON g.i < ad.n),
        asil AS (
          SELECT doc_id, i,
                 CASE WHEN abs(v) < {AUD_SIL_THRESH} THEN 1 ELSE 0 END
                   AS silent
          FROM asamp),
        alag AS (
          SELECT doc_id, silent,
                 COALESCE(LAG(silent) OVER (
                   PARTITION BY doc_id ORDER BY i), 0) AS prev
          FROM asil),
        aruns AS (
          SELECT doc_id,
                 CAST(SUM(silent) AS BIGINT) AS n_silent_samples,
                 CAST(SUM(CASE WHEN silent = 1 AND prev = 0
                               THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_silent_runs
          FROM alag GROUP BY doc_id),
        astat AS (
          SELECT doc_id,
                 CAST(SUM(abs(v)) AS BIGINT) AS sum_abs,
                 CAST(MAX(abs(v)) AS BIGINT) AS peak
          FROM asamp GROUP BY doc_id)"""


def _audio_fp_ctes() -> str:
    from ..operators.media import AUD_FP_WINDOWS

    return f"""
        awin AS (
          SELECT s.doc_id, (s.i * {AUD_FP_WINDOWS}) // ad.n AS w,
                 abs(s.v) AS av
          FROM asamp s JOIN ad USING (doc_id)),
        aen AS (
          SELECT doc_id, w, SUM(av) AS e
          FROM awin GROUP BY doc_id, w),
        afp AS (
          SELECT a.doc_id,
                 CAST(COALESCE(SUM(CASE WHEN b.e > a.e
                        THEN (1::BIGINT << a.w) ELSE 0 END), 0) AS BIGINT)
                   AS fingerprint
          FROM aen a JOIN aen b
            ON b.doc_id = a.doc_id AND b.w = a.w + 1
          WHERE a.w < {AUD_FP_WINDOWS - 1}
          GROUP BY a.doc_id)"""


def x287_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip stats through the REAL WAV chunk walk: byte length,
    header sample rate, decoded sample count, Σ|s|, peak — every value
    predicted by the oracle from the sample law, so the whole
    encode→chunk-walk→decode path is value-checked.  One mapInPandas
    stage, no shuffle, embarrassingly parallel at any scale."""
    from ..operators.media import (
        documents_as_audio_media,
        extract_audio_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return extract_audio_stats(documents_as_audio_media(docs)).select(
        "doc_id", "n_bytes", "sample_rate", "n_samples", "sum_abs", "peak"
    )


def _x287_sql(where: str = "") -> str:
    return f"""
        WITH {_audio_ctes(where)}
        SELECT ad.doc_id,
               CAST(44 + 2 * ad.n AS BIGINT) AS n_bytes,
               CAST(ad.sr AS BIGINT) AS sample_rate,
               CAST(ad.n AS BIGINT) AS n_samples,
               astat.sum_abs, astat.peak
        FROM ad JOIN astat USING (doc_id)
        """


register(
    QuerySpec(
        "x287_audio_decode_stats",
        x287_audio_decode_stats,
        _x287_sql(),
        "real PCM WAV chunk-walk decode: byte/rate/count/energy stats oracle-predicted from the sample law",
    )
)


def x288_audio_silence_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Silence segmentation per clip — the VAD-shaped readout: count of
    maximal silent runs (|s| < AUD_SIL_THRESH) and total silent
    samples, plus the silent fraction in basis points.  The Spark side
    counts runs in the decode kernel (a linear scan per clip); the
    oracle re-derives them with LAG gaps-and-islands over the sample
    law — two independent algorithms whose agreement the gate hashes."""
    from ..operators.media import (
        documents_as_audio_media,
        extract_audio_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = extract_audio_stats(documents_as_audio_media(docs))
    return h.select(
        "doc_id",
        "n_silent_runs",
        "n_silent_samples",
        F.expr(f"({BP_SCALE} * n_silent_samples) div n_samples").alias(
            "silent_bp"
        ),
    )


def _x288_sql() -> str:
    return f"""
        WITH {_audio_ctes()}
        SELECT ad.doc_id, aruns.n_silent_runs, aruns.n_silent_samples,
               ({BP_SCALE} * aruns.n_silent_samples) // ad.n AS silent_bp
        FROM ad JOIN aruns USING (doc_id)
        """


register(
    QuerySpec(
        "x288_audio_silence_segments",
        x288_audio_silence_segments,
        _x288_sql(),
        "silence segmentation: kernel run-count vs an independent LAG gaps-and-islands oracle",
    )
)


def x289_audio_fingerprint_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Energy-contour fingerprint (the dHash idea on the time axis:
    AUD_FP_WINDOWS integer window energies, bit w = energy rises) with
    exact-fingerprint dedup grouping — keep-min survivor + member
    count, the x281 execute shape for audio.  One hash-keyed shuffle
    with map-side partials."""
    from ..operators.media import (
        documents_as_audio_media,
        extract_audio_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = extract_audio_stats(documents_as_audio_media(docs))
    return h.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


def _x289_sql() -> str:
    return f"""
        WITH {_audio_ctes()},
        {_audio_fp_ctes()}
        SELECT fingerprint,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_members
        FROM afp GROUP BY fingerprint
        """


register(
    QuerySpec(
        "x289_audio_fingerprint_dedup",
        x289_audio_fingerprint_dedup,
        _x289_sql(),
        "energy-contour audio fingerprint + exact-fingerprint dedup groups",
    )
)


def x290_audio_binaryfile_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blob-store audio ingest through Spark's ``binaryFile`` source
    (the x277 shape on the audio leg): real .wav files on disk →
    (path, length, content) → doc_id parsed JVM-side → real chunk-walk
    decode + stats in one mapInPandas stage, the source's own length
    cross-checked against the delivered bytes."""
    return _decode_fixture(spark, sf_dir, "wav")


def _x290_sql() -> str:
    return f"""
        WITH {_audio_ctes(f"WHERE doc_id % {MEDIA_FILE_MOD} = 0")}
        SELECT ad.doc_id,
               CAST(44 + 2 * ad.n AS BIGINT) AS src_length,
               CAST(44 + 2 * ad.n AS BIGINT) AS n_bytes,
               CAST(ad.sr AS BIGINT) AS sample_rate,
               CAST(ad.n AS BIGINT) AS n_samples,
               astat.sum_abs,
               TRUE AS length_agrees
        FROM ad JOIN astat USING (doc_id)
        """


register(
    QuerySpec(
        "x290_audio_binaryfile_source",
        x290_audio_binaryfile_source,
        _x290_sql(),
        "real .wav files through the binaryFile source: metadata vs chunk-walk decoded bytes",
    )
)


# --- x293: image near-dup CLUSTER CLOSURE --------------------------------------
# x286's coverage argument says cluster closure recovers dup groups
# from capacity-capped links; this op IS that closure — connected
# components over x280's pair graph (x26's ``connected_components`` on
# the image leg), turning bounded pairwise links into dedup groups.
# Oracle: recursive-CTE transitive closure over the SAME candidate
# chain.  A gate hash over (cluster, size) proves the routine reaches
# exactly the transitive closure the SQL computes.


def x293_image_neardup_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(cluster_id = MIN doc_id of the component, n_members) for every
    image near-dup component of ≥ 2 docs.  Pair volume is
    capacity-bounded upstream, so the pair graph is tiny relative to
    the corpus: below ``dedup.CC_DRIVER_EDGES`` edges (39,172 at sf0.1)
    it is fetched once and closed by a driver union-find, with no
    distributed round.  At 100 TB the rounds run on the edges alone and
    converge in O(log n), handing off to the driver once the edges are
    under the bound."""
    from .dedup import connected_components

    pairs = x280_dhash_neardup_pairs(spark, sf_dir)
    return (
        connected_components(
            pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        )
        .groupBy(F.col("component").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
    )


def _x293_sql() -> str:
    return f"""
        WITH RECURSIVE {_dhash_ctes()},
        {_x280_ctes()},
        csym AS (
          SELECT doc_a AS src, doc_b AS dst FROM cand
          UNION ALL SELECT doc_b AS src, doc_a AS dst FROM cand),
        cnodes AS (SELECT DISTINCT src AS id FROM csym),
        reach(id, r) AS (
          SELECT id, id FROM cnodes
          UNION
          SELECT s.dst, reach.r FROM reach JOIN csym s ON s.src = reach.id),
        clabels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY 1)
        SELECT cluster_id, COUNT(*) AS n_members
        FROM clabels GROUP BY cluster_id
        """


register(
    QuerySpec(
        "x293_image_neardup_clusters",
        x293_image_neardup_clusters,
        _x293_sql(),
        "image near-dup cluster closure: connected_components over the capped pair graph vs recursive-CTE truth",
    )
)


# --- x294-x296: REAL video decode (YUV4MPEG2) ----------------------------------
# The multimodal triad's third real-decode leg: Y4M — the uncompressed
# interchange format ffmpeg pipelines speak — parsed by a real stdlib
# tag parse + FRAME walk (operators/media.py ``decode_y4m``), fixture
# clips doc_id-arithmetic so the oracle predicts every frame
# statistic and scene cut without bytes.  x294 = per-clip stats + cut
# counting (|frame − prev| energy threshold — the shot-boundary
# primitive); x295 = every-k-th frame sampling (the vision-training
# frame extraction shape, variable-cardinality mapInPandas); x296 =
# real .y4m files through the binaryFile source.  Compressed codecs
# (H.264/VP9/AV1) remain the marked stub boundary.


def _video_ctes(where: str = "") -> str:
    from ..operators.media import (
        VID_BYTE_A,
        VID_BYTE_F,
        VID_BYTE_J,
        VID_BYTE_MOD,
        VID_CUT_THRESH_NUM,
        VID_H_MAX,
        VID_H_MIN,
        VID_H_MOD,
        VID_NF_MAX,
        VID_NF_MIN,
        VID_NF_MOD,
        VID_W_MAX,
        VID_W_MIN,
        VID_W_MOD,
    )

    plane_max = 3 * VID_W_MAX * VID_H_MAX
    return f"""
        vd AS (
          SELECT doc_id,
                 doc_id % {VID_W_MOD} + {VID_W_MIN} AS w,
                 doc_id % {VID_H_MOD} + {VID_H_MIN} AS h,
                 doc_id % {VID_NF_MOD} + {VID_NF_MIN} AS nf
          FROM documents {where}),
        vbytes AS (
          SELECT vd.doc_id, vd.w, vd.h, vd.nf, f.i AS f, j.i AS j,
                 (vd.doc_id * {VID_BYTE_A} + f.i * {VID_BYTE_F}
                  + j.i * {VID_BYTE_J}) % {VID_BYTE_MOD} AS v,
                 (vd.doc_id * {VID_BYTE_A} + (f.i - 1) * {VID_BYTE_F}
                  + j.i * {VID_BYTE_J}) % {VID_BYTE_MOD} AS v_prev
          FROM vd
          CROSS JOIN generate_series(0, {VID_NF_MAX - 1}) AS f(i)
          CROSS JOIN generate_series(0, {plane_max - 1}) AS j(i)
          WHERE f.i < vd.nf AND j.i < 3 * vd.w * vd.h),
        vdiff AS (
          SELECT doc_id, f,
                 CASE WHEN SUM(abs(v - v_prev))
                        > {VID_CUT_THRESH_NUM} * 3 * MAX(w) * MAX(h)
                      THEN 1 ELSE 0 END AS cut
          FROM vbytes WHERE f >= 1 GROUP BY doc_id, f),
        vcuts AS (
          SELECT doc_id, CAST(COALESCE(SUM(cut), 0) AS BIGINT) AS n_cuts
          FROM vdiff GROUP BY doc_id)"""


def x294_video_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip stats through the REAL Y4M parse: byte length (header
    digits + per-frame marker law), header geometry and rate, frame
    count, total plane-byte sum, and scene cuts — transitions whose
    |frame − prev| energy exceeds the per-byte threshold.  One
    mapInPandas stage, no shuffle; at 100 TB decode is per-clip Python
    local to the partition holding the bytes."""
    from ..operators.media import (
        documents_as_video_media,
        extract_video_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return extract_video_stats(documents_as_video_media(docs))


def _x294_sql(where: str = "") -> str:
    from ..operators.media import VID_FPS_NUM

    return f"""
        WITH {_video_ctes(where)},
        vsum AS (
          SELECT doc_id, CAST(SUM(v) AS BIGINT) AS byte_sum
          FROM vbytes GROUP BY doc_id)
        SELECT vd.doc_id,
               CAST(33 + strlen(CAST(vd.w AS VARCHAR))
                       + strlen(CAST(vd.h AS VARCHAR))
                       + vd.nf * (6 + 3 * vd.w * vd.h) AS BIGINT)
                 AS n_bytes,
               CAST(vd.w AS BIGINT) AS width,
               CAST(vd.h AS BIGINT) AS height,
               CAST({VID_FPS_NUM} AS BIGINT) AS fps_num,
               CAST(vd.nf AS BIGINT) AS n_frames,
               vsum.byte_sum,
               vcuts.n_cuts
        FROM vd JOIN vsum USING (doc_id) JOIN vcuts USING (doc_id)
        """


register(
    QuerySpec(
        "x294_video_decode_stats",
        x294_video_decode_stats,
        _x294_sql(),
        "real Y4M parse: geometry/rate/frames/byte-sum + scene cuts, all oracle-predicted from the frame law",
    )
)


def x295_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every VID_SAMPLE_K-th frame of every clip → one row with the
    frame's byte sum and peak from the REAL decoded planes — the frame
    extraction a vision-training pipeline feeds downstream.  Variable-
    cardinality mapInPandas (one clip → many frame rows), no shuffle."""
    from ..operators.media import (
        documents_as_video_media,
        extract_video_frame_samples,
    )

    docs = load_table(spark, sf_dir, "documents")
    return extract_video_frame_samples(documents_as_video_media(docs))


def _x295_sql() -> str:
    from ..operators.media import VID_SAMPLE_K

    return f"""
        WITH {_video_ctes()}
        SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
               CAST(SUM(v) AS BIGINT) AS frame_sum,
               CAST(MAX(v) AS BIGINT) AS frame_peak
        FROM vbytes
        WHERE f % {VID_SAMPLE_K} = 0
        GROUP BY doc_id, f
        """


register(
    QuerySpec(
        "x295_video_frame_sample",
        x295_video_frame_sample,
        _x295_sql(),
        "every-k-th frame sampling over real decoded planes: per-frame sum/peak value-checked",
    )
)


def x296_video_binaryfile_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blob-store video ingest through Spark's ``binaryFile`` source
    (the x277/x290 shape on the video leg): real .y4m files → doc_id
    parsed JVM-side → real tag parse + frame walk + stats in one
    mapInPandas stage, source length cross-checked against the bytes."""
    return _decode_fixture(spark, sf_dir, "y4m")


def _x296_sql() -> str:
    return f"""
        WITH {_video_ctes(f"WHERE doc_id % {MEDIA_FILE_MOD} = 0")}
        SELECT vd.doc_id,
               CAST(33 + strlen(CAST(vd.w AS VARCHAR))
                       + strlen(CAST(vd.h AS VARCHAR))
                       + vd.nf * (6 + 3 * vd.w * vd.h) AS BIGINT)
                 AS src_length,
               CAST(33 + strlen(CAST(vd.w AS VARCHAR))
                       + strlen(CAST(vd.h AS VARCHAR))
                       + vd.nf * (6 + 3 * vd.w * vd.h) AS BIGINT)
                 AS n_bytes,
               CAST(vd.w AS BIGINT) AS width,
               CAST(vd.h AS BIGINT) AS height,
               CAST(vd.nf AS BIGINT) AS n_frames,
               vcuts.n_cuts,
               TRUE AS length_agrees
        FROM vd JOIN vcuts USING (doc_id)
        """


register(
    QuerySpec(
        "x296_video_binaryfile_source",
        x296_video_binaryfile_source,
        _x296_sql(),
        "real .y4m files through the binaryFile source: metadata vs frame-walked bytes",
    )
)


# --- x297: the multimodal training-sample manifest -----------------------------
# The deliverable the three real-decode legs exist FOR: one row per
# training sample assembling text + image + audio + video metadata —
# the WebDataset-style sample record a multimodal trainer reads.
# Spark side: the three REAL extractors (image stats, audio stats,
# video stats) joined on doc_id with the documents row — every number
# comes from actually decoding bytes; oracle side: the three
# arithmetic-law CTE chains composed in one query.  The gate hash over
# the full manifest proves the composed decode paths agree end-to-end.


def x297_multimodal_sample_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, text_chars, img_bytes, img_w, img_h, wav_bytes,
    wav_samples, vid_bytes, vid_frames, total_bytes): the per-sample
    manifest.  Scale shapes: three shuffle-free decode stages + three
    doc_id-keyed joins (co-partitioned on the same key — at scale these
    are one shuffle each on narrow stats frames, or zero with
    bucketing; the payloads themselves never move)."""
    from ..operators.media import (
        documents_as_audio_media,
        documents_as_image_media,
        documents_as_video_media,
        extract_audio_stats,
        extract_image_stats,
        extract_video_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    img = extract_image_stats(
        documents_as_image_media(docs, fmt="ppm")
    ).select(
        "doc_id",
        F.col("n_bytes").alias("img_bytes"),
        F.col("width").alias("img_w"),
        F.col("height").alias("img_h"),
    )
    wav = extract_audio_stats(documents_as_audio_media(docs)).select(
        "doc_id",
        F.col("n_bytes").alias("wav_bytes"),
        F.col("n_samples").alias("wav_samples"),
    )
    vid = extract_video_stats(documents_as_video_media(docs)).select(
        "doc_id",
        F.col("n_bytes").alias("vid_bytes"),
        F.col("n_frames").alias("vid_frames"),
    )
    return (
        docs.select("doc_id", F.col("n_chars").cast("long").alias("text_chars"))
        .join(img, "doc_id")
        .join(wav, "doc_id")
        .join(vid, "doc_id")
        .select(
            "doc_id",
            "text_chars",
            "img_bytes",
            "img_w",
            "img_h",
            "wav_bytes",
            "wav_samples",
            "vid_bytes",
            "vid_frames",
            (
                F.col("text_chars")
                + F.col("img_bytes")
                + F.col("wav_bytes")
                + F.col("vid_bytes")
            )
            .cast("long")
            .alias("total_bytes"),
        )
    )


def _x297_sql() -> str:
    from ..operators.media import (
        AUD_NS_MIN,
        AUD_NS_MOD,
        IMG_H_MIN,
        IMG_H_MOD,
        IMG_W_MIN,
        IMG_W_MOD,
        VID_H_MIN,
        VID_H_MOD,
        VID_NF_MIN,
        VID_NF_MOD,
        VID_W_MIN,
        VID_W_MOD,
    )

    return f"""
        WITH m AS (
          SELECT doc_id,
                 CAST(n_chars AS BIGINT) AS text_chars,
                 (doc_id % {IMG_W_MOD}) + {IMG_W_MIN} AS iw,
                 (doc_id % {IMG_H_MOD}) + {IMG_H_MIN} AS ih,
                 doc_id % {AUD_NS_MOD} + {AUD_NS_MIN} AS an,
                 doc_id % {VID_W_MOD} + {VID_W_MIN} AS vw,
                 doc_id % {VID_H_MOD} + {VID_H_MIN} AS vh,
                 doc_id % {VID_NF_MOD} + {VID_NF_MIN} AS vnf
          FROM documents)
        SELECT doc_id, text_chars,
               CAST(9 + strlen(CAST(iw AS VARCHAR))
                      + strlen(CAST(ih AS VARCHAR))
                      + 3 * iw * ih AS BIGINT) AS img_bytes,
               CAST(iw AS BIGINT) AS img_w,
               CAST(ih AS BIGINT) AS img_h,
               CAST(44 + 2 * an AS BIGINT) AS wav_bytes,
               CAST(an AS BIGINT) AS wav_samples,
               CAST(33 + strlen(CAST(vw AS VARCHAR))
                       + strlen(CAST(vh AS VARCHAR))
                       + vnf * (6 + 3 * vw * vh) AS BIGINT) AS vid_bytes,
               CAST(vnf AS BIGINT) AS vid_frames,
               CAST(text_chars
                    + (9 + strlen(CAST(iw AS VARCHAR))
                         + strlen(CAST(ih AS VARCHAR)) + 3 * iw * ih)
                    + (44 + 2 * an)
                    + (33 + strlen(CAST(vw AS VARCHAR))
                          + strlen(CAST(vh AS VARCHAR))
                          + vnf * (6 + 3 * vw * vh)) AS BIGINT)
                 AS total_bytes
        FROM m
        """


register(
    QuerySpec(
        "x297_multimodal_sample_manifest",
        x297_multimodal_sample_manifest,
        _x297_sql(),
        "the multimodal training-sample manifest: text+image+audio+video metadata from real decodes, one row per sample",
    )
)


# --- x298/x299: REAL PNG decode — a compressed format, pure stdlib -------------
# VERDICT r13 ask #1: PNG's pixel data is DEFLATE, which stdlib ``zlib``
# inflates, so the 'compressed codecs' stub boundary was overdrawn by
# one format.  ``operators/media.py::decode_png`` is a real decoder —
# chunk walk with per-chunk CRC32 verification, concatenated-IDAT
# inflate, per-scanline unfilter of all five filter types — and the
# fixture encoder deliberately filters row y with type y%5 so any image
# of ≥5 rows exercises None/Sub/Up/Average/Paeth on real DEFLATE data.
# x298 proves the branch the way x276 proved BMP: the SAME logical
# image decoded from PNG and PPM must agree pixel-exactly, and the
# filter histogram read from the actual DEFLATE stream must match the
# y%5 law (so the oracle pins that Paeth rows really ran).  x299 covers
# the RGBA leg: the alpha plane follows its own arithmetic law,
# independent of the RGB law, so a plane mix-up cannot cancel in the
# checksums.  Compressed-but-LOSSY codecs (JPEG/WebP) remain the honest
# stub boundary.


def x298_png_decode_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document dual decode: the doc's fixture image as real PNG
    (inflate + unfilter) AND as real binary PPM, pixel buffers compared
    byte-for-byte.  ``n_filter_kinds``/``paeth_rows`` come from the
    filter bytes OBSERVED in the decoded scanlines — the oracle
    recomputes them from the y%5 encoder law, so a decoder that
    silently skipped a filter path (or an encoder that stopped
    exercising one) breaks the gate.  One fused mapInPandas stage, no
    shuffle, embarrassingly parallel."""
    import pandas as pd
    from pyspark.sql import types as T

    from ..operators.media import decode_image_pixels, decode_png, make_image

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("channels", T.LongType()),
            T.StructField("pix_sum", T.LongType()),
            T.StructField("n_filter_kinds", T.LongType()),
            T.StructField("paeth_rows", T.LongType()),
            T.StructField("formats_agree", T.BooleanType()),
        ]
    )

    def batches(it):
        for pdf in it:
            rows = {k: [] for k in schema.fieldNames()}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                png = make_image(d, "png")
                ppm = make_image(d, "ppm")
                gw, gh, gc, gpix, filters = decode_png(png)
                pw, ph, pc, ppix = decode_image_pixels(ppm)
                rows["doc_id"].append(d)
                rows["width"].append(gw)
                rows["height"].append(gh)
                rows["channels"].append(gc)
                rows["pix_sum"].append(sum(gpix))
                rows["n_filter_kinds"].append(len(set(filters)))
                rows["paeth_rows"].append(sum(1 for f in filters if f == 4))
                rows["formats_agree"].append(
                    (gw, gh, gc, gpix) == (pw, ph, pc, ppix)
                )
            yield pd.DataFrame(
                {
                    k: pd.Series(
                        rows[k],
                        dtype="bool" if k == "formats_agree" else "int64",
                    )
                    for k in schema.fieldNames()
                }
            )

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id").mapInPandas(batches, schema)


def _x298_sql() -> str:
    from ..operators.media import (
        IMG_H_MAX,
        IMG_H_MIN,
        IMG_H_MOD,
        IMG_PIX_MOD,
        IMG_W_MAX,
        IMG_W_MIN,
        IMG_W_MOD,
    )

    # Filter law: row y carries filter y % 5 → distinct kinds =
    # LEAST(h, 5); Paeth (type 4) rows = rows with y % 5 = 4, and
    # h ≤ IMG_H_MAX = 9 < 10 means that count is 1 iff h ≥ 5.
    return f"""
        WITH d AS (
          SELECT doc_id,
                 (doc_id % {IMG_W_MOD}) + {IMG_W_MIN} AS w,
                 (doc_id % {IMG_H_MOD}) + {IMG_H_MIN} AS h
          FROM documents),
        px AS (
          SELECT d.doc_id, (d.doc_id + g.i) % {IMG_PIX_MOD} AS v
          FROM d JOIN generate_series(0, {3 * IMG_W_MAX * IMG_H_MAX - 1})
                      AS g(i) ON g.i < 3 * d.w * d.h),
        ps AS (
          SELECT doc_id, CAST(SUM(v) AS BIGINT) AS pix_sum
          FROM px GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(d.w AS BIGINT) AS width,
               CAST(d.h AS BIGINT) AS height,
               CAST(3 AS BIGINT) AS channels,
               ps.pix_sum,
               CAST(LEAST(d.h, 5) AS BIGINT) AS n_filter_kinds,
               CAST(CASE WHEN d.h >= 5 THEN 1 ELSE 0 END AS BIGINT)
                 AS paeth_rows,
               TRUE AS formats_agree
        FROM d JOIN ps USING (doc_id)
        """


register(
    QuerySpec(
        "x298_png_decode_parity",
        x298_png_decode_parity,
        _x298_sql(),
        "real PNG decode (zlib inflate + all-five-filter unfilter, CRC-verified) vs the PPM twin: pixel-exact parity + observed filter histogram",
    )
)


def x299_png_rgba_alpha_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RGBA PNG decode: the alpha plane follows its OWN arithmetic law
    (alpha_p = (doc_id·PNG_ALPHA_A + p) mod 256), so the oracle
    predicts ``alpha_sum`` independently of ``rgb_sum`` — a decoder
    that interleaved planes wrong would break one sum without the
    other covering for it.  ``rgb_agrees`` pins the color bytes to the
    opaque twin's law byte-for-byte."""
    import pandas as pd
    from pyspark.sql import types as T

    from ..operators.media import decode_png, image_rgb, make_image_rgba

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("channels", T.LongType()),
            T.StructField("rgb_sum", T.LongType()),
            T.StructField("alpha_sum", T.LongType()),
            T.StructField("rgb_agrees", T.BooleanType()),
        ]
    )

    def batches(it):
        for pdf in it:
            rows = {k: [] for k in schema.fieldNames()}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h, c, pix, _f = decode_png(make_image_rgba(d))
                rgb = bytes(
                    pix[i] for i in range(len(pix)) if i % 4 != 3
                )
                alpha = pix[3::4]
                rows["doc_id"].append(d)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["channels"].append(c)
                rows["rgb_sum"].append(sum(rgb))
                rows["alpha_sum"].append(sum(alpha))
                rows["rgb_agrees"].append(rgb == image_rgb(d, w, h))
            yield pd.DataFrame(
                {
                    k: pd.Series(
                        rows[k],
                        dtype="bool" if k == "rgb_agrees" else "int64",
                    )
                    for k in schema.fieldNames()
                }
            )

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id").mapInPandas(batches, schema)


def _x299_sql() -> str:
    from ..operators.media import (
        IMG_H_MAX,
        IMG_H_MIN,
        IMG_H_MOD,
        IMG_PIX_MOD,
        IMG_W_MAX,
        IMG_W_MIN,
        IMG_W_MOD,
        PNG_ALPHA_A,
    )

    return f"""
        WITH d AS (
          SELECT doc_id,
                 (doc_id % {IMG_W_MOD}) + {IMG_W_MIN} AS w,
                 (doc_id % {IMG_H_MOD}) + {IMG_H_MIN} AS h
          FROM documents),
        px AS (
          SELECT d.doc_id, (d.doc_id + g.i) % {IMG_PIX_MOD} AS v
          FROM d JOIN generate_series(0, {3 * IMG_W_MAX * IMG_H_MAX - 1})
                      AS g(i) ON g.i < 3 * d.w * d.h),
        ps AS (
          SELECT doc_id, CAST(SUM(v) AS BIGINT) AS rgb_sum
          FROM px GROUP BY doc_id),
        ap AS (
          SELECT d.doc_id,
                 (d.doc_id * {PNG_ALPHA_A} + g.i) % {IMG_PIX_MOD} AS a
          FROM d JOIN generate_series(0, {IMG_W_MAX * IMG_H_MAX - 1})
                      AS g(i) ON g.i < d.w * d.h),
        asum AS (
          SELECT doc_id, CAST(SUM(a) AS BIGINT) AS alpha_sum
          FROM ap GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(d.w AS BIGINT) AS width,
               CAST(d.h AS BIGINT) AS height,
               CAST(4 AS BIGINT) AS channels,
               ps.rgb_sum,
               asum.alpha_sum,
               TRUE AS rgb_agrees
        FROM d JOIN ps USING (doc_id) JOIN asum USING (doc_id)
        """


register(
    QuerySpec(
        "x299_png_rgba_alpha_stats",
        x299_png_rgba_alpha_stats,
        _x299_sql(),
        "RGBA PNG decode: independent alpha-plane law vs RGB law, plane mix-ups cannot cancel",
    )
)


def x306_png_binaryfile_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blob-store PNG ingest through Spark's ``binaryFile`` source (the
    x277 shape on the compressed-format leg): real .png files on disk →
    (path, length, content) → doc_id parsed JVM-side → real inflate +
    unfilter + stats in one mapInPandas stage.  A PNG's DEFLATE length
    is not an arithmetic law, so the byte-count check here is
    ``length_agrees`` (source metadata vs delivered payload) rather
    than a predicted size; the decoded dims and pixel checksum ARE
    law-predicted, which is what proves the decompression path."""
    return _decode_fixture(spark, sf_dir, "png")


def _x306_sql() -> str:
    from ..operators.media import (
        IMG_H_MAX,
        IMG_H_MIN,
        IMG_H_MOD,
        IMG_PIX_MOD,
        IMG_W_MAX,
        IMG_W_MIN,
        IMG_W_MOD,
    )

    return f"""
        WITH d AS (
          SELECT doc_id,
                 (doc_id % {IMG_W_MOD}) + {IMG_W_MIN} AS w,
                 (doc_id % {IMG_H_MOD}) + {IMG_H_MIN} AS h
          FROM documents
          WHERE doc_id % {MEDIA_FILE_MOD} = 0),
        px AS (
          SELECT d.doc_id, (d.doc_id + g.i) % {IMG_PIX_MOD} AS v
          FROM d JOIN generate_series(0, {3 * IMG_W_MAX * IMG_H_MAX - 1})
                      AS g(i) ON g.i < 3 * d.w * d.h),
        ps AS (
          SELECT doc_id, CAST(SUM(v) AS BIGINT) AS pix_sum
          FROM px GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(d.w AS BIGINT) AS width,
               CAST(d.h AS BIGINT) AS height,
               ps.pix_sum,
               TRUE AS length_agrees
        FROM d JOIN ps USING (doc_id)
        """


register(
    QuerySpec(
        "x306_png_binaryfile_source",
        x306_png_binaryfile_source,
        _x306_sql(),
        "real .png files through the binaryFile source: inflate+unfilter per file, dims/pixel-sum law-checked",
    )
)


def x312_png_palette_gray_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PNG-8 (palette) and grayscale decode — the two remaining lossless
    PNG color types real corpora carry (icons/screenshots are PNG-8):
    per doc, a palette image (PLTE lookup over y%5-filtered INDEX
    bytes — filtering runs over indices per spec, so the unfilter unit
    is 1 byte) and a grayscale image (expanded to RGB), each under its
    OWN arithmetic law.  The oracle re-derives both pixel checksums
    from the laws, so a LUT/plane mix-up or a wrong 1-byte filter unit
    breaks the gate.  One fused mapInPandas stage, no shuffle."""
    import pandas as pd
    from pyspark.sql import types as T

    from ..operators.media import (
        decode_png,
        make_image_gray,
        make_image_pal,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("gray_pix_sum", T.LongType()),
            T.StructField("pal_pix_sum", T.LongType()),
            T.StructField("filters_lawful", T.BooleanType()),
        ]
    )

    def batches(it):
        for pdf in it:
            rows = {k: [] for k in schema.fieldNames()}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                gw, gh, _gc, gpix, gf = decode_png(make_image_gray(d))
                pw, ph, _pc, ppix, pf = decode_png(make_image_pal(d))
                law = [y % 5 for y in range(gh)]
                rows["doc_id"].append(d)
                rows["width"].append(gw)
                rows["height"].append(gh)
                rows["gray_pix_sum"].append(sum(gpix))
                rows["pal_pix_sum"].append(sum(ppix))
                rows["filters_lawful"].append(
                    gf == law and pf == law and (gw, gh) == (pw, ph)
                )
            yield pd.DataFrame(
                {
                    k: pd.Series(
                        rows[k],
                        dtype="bool" if k == "filters_lawful" else "int64",
                    )
                    for k in schema.fieldNames()
                }
            )

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id").mapInPandas(batches, schema)


def _x312_sql() -> str:
    from ..operators.media import (
        IMG_H_MAX,
        IMG_H_MIN,
        IMG_H_MOD,
        IMG_PIX_MOD,
        IMG_W_MAX,
        IMG_W_MIN,
        IMG_W_MOD,
        PNG_GRAY_A,
        PNG_GRAY_B,
        PNG_PAL_A,
        PNG_PAL_K,
        PNG_PAL_N,
    )

    return f"""
        WITH d AS (
          SELECT doc_id,
                 (doc_id % {IMG_W_MOD}) + {IMG_W_MIN} AS w,
                 (doc_id % {IMG_H_MOD}) + {IMG_H_MIN} AS h
          FROM documents),
        px AS (
          SELECT d.doc_id, g.i AS p
          FROM d JOIN generate_series(0, {IMG_W_MAX * IMG_H_MAX - 1})
                      AS g(i) ON g.i < d.w * d.h),
        gs AS (
          SELECT doc_id,
                 CAST(3 * SUM((doc_id * {PNG_GRAY_A}
                               + {PNG_GRAY_B} * p) % {IMG_PIX_MOD})
                      AS BIGINT) AS gray_pix_sum
          FROM px GROUP BY doc_id),
        ps AS (
          SELECT px.doc_id,
                 CAST(SUM((px.doc_id * {PNG_PAL_A}
                           + {PNG_PAL_K} * ((px.doc_id + px.p) % {PNG_PAL_N})
                           + c.i) % {IMG_PIX_MOD}) AS BIGINT)
                   AS pal_pix_sum
          FROM px CROSS JOIN generate_series(0, 2) AS c(i)
          GROUP BY px.doc_id)
        SELECT d.doc_id,
               CAST(d.w AS BIGINT) AS width,
               CAST(d.h AS BIGINT) AS height,
               gs.gray_pix_sum,
               ps.pal_pix_sum,
               TRUE AS filters_lawful
        FROM d JOIN gs USING (doc_id) JOIN ps USING (doc_id)
        """


register(
    QuerySpec(
        "x312_png_palette_gray_decode",
        x312_png_palette_gray_decode,
        _x312_sql(),
        "PNG-8 palette + grayscale decode: LUT resolution and 1-byte filter unit under independent laws",
    )
)


# --- x300-x302: the audio near-dup → policy → routed-store arrow ---------------
# VERDICT r13 ask #4 (audio leg): bring the audio modality to parity
# with the image arrow (x280 → x283 → x284).  The near-dup primitive is
# the 15-bit energy-contour fingerprint (x289's hash, from REAL WAV
# chunk-walk decode): x300 generates candidate pairs by multi-index
# Hamming banding — 3 bands of 5 bits, so an exact band match is
# PIGEONHOLE-COMPLETE for Hamming ≤ 2 = the working threshold (unlike
# the image case, no recall audit is owed at this T; capacity chunking
# is the only loss channel and the x286 doc-coverage argument carries
# over).  x301 measures duplicate mass and adopts/holds the store dedup
# in exact basis points; x302 serves the shard manifest THROUGH the
# decision.  Every constant is f-strung into the oracle SQL
# (CLAUDE.md invariant).
AUD_FP_BAND_BITS = 5   # 3 bands × 5 bits cover the 15 fingerprint bits
AUD_FP_BANDS = 3
AUD_HAM_T = 2          # pigeonhole: ≤ 2 bit flips cannot touch all 3 bands
AUD_NEARDUP_CAP = 8    # max bucket members co-chunked per (band, value)
AUD_RECLAIM_BP = 2_000  # dedup iff ≥ 20.00% of payload bytes reclaimable
AUD_STORE_SHARDS = 16  # CAS fan-out: shard = fingerprint mod 16


def x300_audio_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup candidate pairs by multi-index Hamming banding
    over the energy-contour fingerprint: docs sharing a 5-bit band
    value are candidates, each (band, value) bucket capacity-chunked
    to AUD_NEARDUP_CAP by doc_id rank (pair volume linear in bucket
    size — the x214/x280 discipline), surviving pairs rescored by
    EXACT Hamming distance over all 15 bits (bit_count(xor),
    JVM-side).  At 100 TB: one shuffle on (band, value) — 3 rows per
    clip — plus a chunk-local self-join; decode cost is paid once in
    the upstream shuffle-free stats stage."""
    from pyspark.sql import Window

    from ..operators.media import (
        documents_as_audio_media,
        extract_audio_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = extract_audio_stats(documents_as_audio_media(docs)).select(
        "doc_id", "fingerprint"
    )
    band_pairs = ", ".join(
        f"{b}L, (fingerprint div {1 << (AUD_FP_BAND_BITS * b)}) "
        f"% {1 << AUD_FP_BAND_BITS}"
        for b in range(AUD_FP_BANDS)
    )
    long = h.select(
        "doc_id",
        "fingerprint",
        F.expr(f"stack({AUD_FP_BANDS}, {band_pairs}) AS (band, val)"),
    )
    w = Window.partitionBy("band", "val").orderBy("doc_id")
    chunked = long.withColumn(
        "chunk",
        F.floor(
            (F.row_number().over(w) - F.lit(1)) / F.lit(AUD_NEARDUP_CAP)
        ),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fingerprint").alias("fa"),
            F.col("b.fingerprint").alias("fb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("long")
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= AUD_HAM_T)
        .select("doc_a", "doc_b", "hamming")
    )


def _x300_ctes() -> str:
    """x300's candidate chain ending in ``acand`` (doc_a, doc_b,
    hamming ≤ T) — assumes the ``afp`` CTE (doc_id, fingerprint) is in
    scope from ``_audio_fp_ctes``."""
    band_val = " ".join(
        f"WHEN {b} THEN (fingerprint // {1 << (AUD_FP_BAND_BITS * b)}) "
        f"% {1 << AUD_FP_BAND_BITS}"
        for b in range(AUD_FP_BANDS - 1)
    )
    last = (
        f"(fingerprint // {1 << (AUD_FP_BAND_BITS * (AUD_FP_BANDS - 1))}) "
        f"% {1 << AUD_FP_BAND_BITS}"
    )
    values = ", ".join(f"({b})" for b in range(AUD_FP_BANDS))
    return f"""
        along AS (
          SELECT doc_id, fingerprint, v.band,
                 CASE v.band {band_val} ELSE {last} END AS val
          FROM afp CROSS JOIN (VALUES {values}) AS v(band)),
        achunked AS (
          SELECT *,
                 (ROW_NUMBER() OVER (PARTITION BY band, val
                                     ORDER BY doc_id) - 1)
                   // {AUD_NEARDUP_CAP} AS chunk
          FROM along),
        apairs AS (
          SELECT DISTINCT
                 a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.fingerprint AS fa, b.fingerprint AS fb
          FROM achunked a JOIN achunked b
            ON a.band = b.band AND a.val = b.val AND a.chunk = b.chunk
               AND a.doc_id < b.doc_id),
        acand AS (
          SELECT doc_a, doc_b,
                 CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
          FROM apairs
          WHERE bit_count(xor(fa, fb)) <= {AUD_HAM_T})"""


def _x300_sql() -> str:
    return f"""
        WITH {_audio_ctes()},
        {_audio_fp_ctes()},
        {_x300_ctes()}
        SELECT doc_a, doc_b, hamming FROM acand
        """


register(
    QuerySpec(
        "x300_audio_neardup_pairs",
        x300_audio_neardup_pairs,
        _x300_sql(),
        "banded-Hamming audio near-dup pairs over the energy-contour fingerprint: pigeonhole-complete at T=2, capacity-capped buckets",
    )
)


def _audio_store_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(shard, fingerprint) store accounting off the REAL WAV
    decode path — the audio edition of ``_dhash_store_groups``: shard =
    fingerprint mod AUD_STORE_SHARDS (the CAS fan-out key), logical
    bytes all refs, stored bytes the keeper's."""
    from ..operators.media import (
        documents_as_audio_media,
        extract_audio_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = extract_audio_stats(documents_as_audio_media(docs))
    shard = (F.col("fingerprint") % AUD_STORE_SHARDS).cast("long")
    return _store_groups(h, "fingerprint", shard)


def _audio_store_ctes() -> str:
    groups = _groups_sql("a", "ab", f"fingerprint % {AUD_STORE_SHARDS}", "fingerprint")
    ab = """
        ab AS (
          SELECT afp.doc_id, afp.fingerprint,
                 CAST(44 + 2 * ad.n AS BIGINT) AS n_bytes
          FROM afp JOIN ad USING (doc_id)),"""
    return f"{_audio_ctes()},\n        {_audio_fp_ctes()},\n        {ab}{groups}"


def x301_audio_dedup_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: adopt the audio store dedup iff the reclaimable payload
    fraction clears AUD_RECLAIM_BP, in exact basis points — x283's
    measure + decide Column expressions VERBATIM over the audio
    groups frame."""
    return _dedup_policy_from(
        _audio_store_groups(spark, sf_dir), thr_bp=AUD_RECLAIM_BP
    )


def _x301_sql() -> str:
    return _store_policy_sql(_audio_store_ctes(), "a", AUD_RECLAIM_BP)


register(
    QuerySpec(
        "x301_audio_dedup_policy",
        x301_audio_dedup_policy,
        _x301_sql(),
        "audio store-dedup adoption policy: fingerprint-duplicate mass vs the basis-point threshold",
    )
)


def x302_policy_routed_audio_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The audio store's shard manifest served THROUGH x301's decision
    (``_policy_routed_store``).  Scale shapes: one fingerprint-keyed
    shuffle + a AUD_STORE_SHARDS-key rollup."""
    return _policy_routed_store(_audio_store_groups(spark, sf_dir), AUD_RECLAIM_BP)


def _x302_sql() -> str:
    return _store_manifest_sql(_audio_store_ctes(), "a", AUD_RECLAIM_BP)


register(
    QuerySpec(
        "x302_policy_routed_audio_store",
        x302_policy_routed_audio_store,
        _x302_sql(),
        "policy-routed audio store manifest: shard accounting through whichever layout the dedup policy adopts",
    )
)


# --- x303: video scene-fingerprint near-dup ------------------------------------
# VERDICT r13 ask #4 (video leg): the near-dup primitive for video is
# the scene fingerprint — the cut pattern of the clip as an integer
# (bit f−1 = transition f is a cut, from REAL Y4M frame-walk decode;
# ``operators/media.py::video_fingerprint``).  Banding: ≤ 10 bits split
# into 2 bands of 5, so an exact band match is pigeonhole-complete for
# Hamming ≤ 1 = the working threshold; capacity chunking is the only
# loss channel (the x286 coverage argument carries over).
VID_FP_BAND_BITS = 5
VID_FP_BANDS = 2       # covers VID_NF_MAX − 1 = 10 fingerprint bits
VID_HAM_T = 1          # pigeonhole: 1 bit flip cannot touch both bands
VID_NEARDUP_CAP = 8


def x303_video_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup candidate pairs by banded Hamming over the scene
    fingerprint — the x280/x300 chain on the video leg: (band, value)
    equijoin, capacity-chunked buckets, exact bit_count(xor) rescore.
    At 100 TB: the decode stage is shuffle-free; the pair stage
    shuffles 2 narrow rows per clip."""
    from pyspark.sql import Window

    from ..operators.media import (
        documents_as_video_media,
        extract_video_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = extract_video_fingerprints(documents_as_video_media(docs)).select(
        "doc_id", "fingerprint"
    )
    band_pairs = ", ".join(
        f"{b}L, (fingerprint div {1 << (VID_FP_BAND_BITS * b)}) "
        f"% {1 << VID_FP_BAND_BITS}"
        for b in range(VID_FP_BANDS)
    )
    long = h.select(
        "doc_id",
        "fingerprint",
        F.expr(f"stack({VID_FP_BANDS}, {band_pairs}) AS (band, val)"),
    )
    w = Window.partitionBy("band", "val").orderBy("doc_id")
    chunked = long.withColumn(
        "chunk",
        F.floor(
            (F.row_number().over(w) - F.lit(1)) / F.lit(VID_NEARDUP_CAP)
        ),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fingerprint").alias("fa"),
            F.col("b.fingerprint").alias("fb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("long")
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= VID_HAM_T)
        .select("doc_a", "doc_b", "hamming")
    )


_SQL_VIDEO_FP_CTE = """
        vfp AS (
          SELECT doc_id,
                 CAST(COALESCE(SUM(cut * (1::BIGINT << (f - 1))), 0)
                      AS BIGINT) AS fingerprint
          FROM vdiff GROUP BY doc_id)"""


def _x303_sql() -> str:
    return f"""
        WITH {_video_ctes()},
        {_SQL_VIDEO_FP_CTE},
        vlong AS (
          SELECT doc_id, fingerprint, v.band,
                 CASE v.band
                   WHEN 0 THEN fingerprint % {1 << VID_FP_BAND_BITS}
                   ELSE (fingerprint // {1 << VID_FP_BAND_BITS})
                        % {1 << VID_FP_BAND_BITS} END AS val
          FROM vfp CROSS JOIN (VALUES (0), (1)) AS v(band)),
        vchunked AS (
          SELECT *,
                 (ROW_NUMBER() OVER (PARTITION BY band, val
                                     ORDER BY doc_id) - 1)
                   // {VID_NEARDUP_CAP} AS chunk
          FROM vlong),
        vpairs AS (
          SELECT DISTINCT
                 a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.fingerprint AS fa, b.fingerprint AS fb
          FROM vchunked a JOIN vchunked b
            ON a.band = b.band AND a.val = b.val AND a.chunk = b.chunk
               AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
        FROM vpairs
        WHERE bit_count(xor(fa, fb)) <= {VID_HAM_T}
        """


register(
    QuerySpec(
        "x303_video_neardup_pairs",
        x303_video_neardup_pairs,
        _x303_sql(),
        "banded-Hamming video near-dup pairs over the scene fingerprint: pigeonhole-complete at T=1, capacity-capped buckets",
    )
)


# --- x308/x309: video store decide arrow + policy-routed manifest --------------
# Completes the three-modality symmetry: every modality now carries the
# full near-dup → decide → policy-routed-store arrow (image x280/x283/
# x284, audio x300/x301/x302, video x303/x308/x309).  Same integer
# discipline; constants f-strung into the oracle.
VID_RECLAIM_BP = 2_000
VID_STORE_SHARDS = 16


def _video_store_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(shard, fingerprint) store accounting off the REAL Y4M
    decode path: shard = scene fingerprint mod VID_STORE_SHARDS,
    logical bytes all refs, stored bytes the keeper's."""
    from ..operators.media import (
        documents_as_video_media,
        extract_video_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = extract_video_fingerprints(documents_as_video_media(docs))
    shard = (F.col("fingerprint") % VID_STORE_SHARDS).cast("long")
    return _store_groups(h, "fingerprint", shard)


def _video_store_ctes() -> str:
    groups = _groups_sql("v", "vb", f"fingerprint % {VID_STORE_SHARDS}", "fingerprint")
    vb = """
        vb AS (
          SELECT vfp.doc_id, vfp.fingerprint,
                 CAST(33 + strlen(CAST(vd.w AS VARCHAR))
                         + strlen(CAST(vd.h AS VARCHAR))
                         + vd.nf * (6 + 3 * vd.w * vd.h) AS BIGINT)
                   AS n_bytes
          FROM vfp JOIN vd USING (doc_id)),"""
    return f"{_video_ctes()},\n        {_SQL_VIDEO_FP_CTE},\n        {vb}{groups}"


def x308_video_dedup_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: adopt the video store dedup iff the reclaimable payload
    fraction clears VID_RECLAIM_BP — the shared measure+decide Column
    expressions over the video groups frame."""
    return _dedup_policy_from(
        _video_store_groups(spark, sf_dir), thr_bp=VID_RECLAIM_BP
    )


def _x308_sql() -> str:
    return _store_policy_sql(_video_store_ctes(), "v", VID_RECLAIM_BP)


register(
    QuerySpec(
        "x308_video_dedup_policy",
        x308_video_dedup_policy,
        _x308_sql(),
        "video store-dedup adoption policy: scene-fingerprint duplicate mass vs the basis-point threshold",
    )
)


def x309_policy_routed_video_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The video store's shard manifest served THROUGH x308's decision
    (``_policy_routed_store``), decision named in every row."""
    return _policy_routed_store(_video_store_groups(spark, sf_dir), VID_RECLAIM_BP)


def _x309_sql() -> str:
    return _store_manifest_sql(_video_store_ctes(), "v", VID_RECLAIM_BP)


register(
    QuerySpec(
        "x309_policy_routed_video_store",
        x309_policy_routed_video_store,
        _x309_sql(),
        "policy-routed video store manifest: shard accounting through whichever layout the dedup policy adopts",
    )
)


# --- x305: WebDataset-style tar shard ROUND-TRIP -------------------------------
# VERDICT r13 ask #5: x117 plans the byte-budgeted shard layout and
# x297 builds the sample manifest, but the artifact a training job
# actually mounts is a sharded .tar of sample files.  This op WRITES
# the shards (stdlib ``tarfile``, deterministic metadata, one
# applyInPandas task per shard — the x117 packing law assigns members)
# and then RE-READS them through ``binaryFile`` + a stdlib tar parse,
# gating the round-trip: every member extracted from the re-read shard
# must be byte-identical to the image the law regenerates, and the
# per-shard membership/byte accounting must equal what the packing law
# predicts.  The oracle recomputes the packing over the PPM byte-length
# law — so a shard writer that dropped, duplicated, or corrupted a
# member (or a tar parser that mis-walked 512-byte blocks) breaks the
# gate.  Store discipline: the shard directory is write-once under
# GATE_DIR, keyed on every packing/image constant AND the documents
# fingerprint (CLAUDE.md invariant).
TAR_SHARD_BYTES = 2_048  # member-payload byte budget per shard


def tar_shard_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write-once GATE_DIR directory of REAL .tar shards packing the
    fixture .ppm population (doc_id ≡ 0 mod MEDIA_FILE_MOD).  Member →
    shard assignment is x117's running-byte-sum law (shard =
    ⌈cum/budget⌉−1 via (cum−1) div budget) computed with the two-phase
    prefix sum (range partition → partition-local window → tiny offset
    broadcast — never a global single-partition window); each shard is
    then written by ONE applyInPandas task: members in doc order,
    deterministic tar metadata (mtime 0, uid/gid 0, mode 0644, USTAR),
    atomic rename.  At 100 TB this is the production shard-writer
    shape: one task per output shard, bytes never on the driver."""
    import hashlib
    import os

    from pyspark.sql import Window
    from pyspark.sql import types as T

    from ..operators.media import (
        IMG_H_MIN,
        IMG_H_MOD,
        IMG_PIX_MOD,
        IMG_W_MIN,
        IMG_W_MOD,
        documents_as_image_media,
    )
    from ..sources.catalog import load_table as _lt
    from .convert_gate import GATE_DIR
    from .similarity import _data_fingerprint

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    sig = repr(
        (
            "tarshards-v1",
            MEDIA_FILE_MOD,
            TAR_SHARD_BYTES,
            IMG_W_MOD,
            IMG_W_MIN,
            IMG_H_MOD,
            IMG_H_MIN,
            IMG_PIX_MOD,
        )
    )
    token = hashlib.sha256(sig.encode()).hexdigest()[:8]
    dest = os.path.join(
        GATE_DIR,
        f"tarshards_{tag}_{token}_d{_data_fingerprint(sf_dir, 'documents')}",
    )
    marker = os.path.join(dest, "_SUCCESS")
    if os.path.exists(marker):
        return dest
    os.makedirs(dest, exist_ok=True)

    docs = (
        _lt(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % MEDIA_FILE_MOD == 0)
    )
    media = documents_as_image_media(docs, fmt="ppm").withColumn(
        "n_bytes", F.octet_length("payload").cast("long")
    )
    # x117's two-phase prefix sum → shard assignment.
    parts = media.repartitionByRange(F.col("doc_id")).withColumn(
        "pid", F.spark_partition_id()
    )
    wp = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parts.withColumn("local_cum", F.sum("n_bytes").over(wp))
    totals = local.groupBy("pid").agg(F.sum("n_bytes").alias("tot"))
    wo = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "pid", F.coalesce(F.sum("tot").over(wo), F.lit(0)).alias("offset")
    )
    assigned = local.join(F.broadcast(offsets), "pid").select(
        "doc_id",
        "payload",
        F.floor(
            (F.col("local_cum") + F.col("offset") - 1) / TAR_SHARD_BYTES
        )
        .cast("long")
        .alias("shard_id"),
    )

    out_schema = T.StructType(
        [
            T.StructField("shard_id", T.LongType()),
            T.StructField("n_members", T.LongType()),
        ]
    )

    def write_shard(pdf):
        import io
        import tarfile

        import pandas as pd

        pdf = pdf.sort_values("doc_id")
        sid = int(pdf["shard_id"].iloc[0])
        buf = io.BytesIO()
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                info = tarfile.TarInfo(name=f"img_{int(doc_id):08d}.ppm")
                info.size = len(b)
                info.mtime = 0
                info.uid = info.gid = 0
                info.mode = 0o644
                tf.addfile(info, io.BytesIO(b))
        path = os.path.join(dest, f"shard_{sid:06d}.tar")
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(buf.getvalue())
        os.replace(tmp, path)
        return pd.DataFrame({"shard_id": [sid], "n_members": [len(pdf)]})

    # One task per shard; the tiny manifest is the action that drives
    # the distributed write (bounded: one row per shard).
    n_shards = (
        assigned.groupBy("shard_id")
        .applyInPandas(write_shard, out_schema)
        .count()
    )
    if n_shards == 0:
        raise RuntimeError("tar shard writer produced no shards")
    with open(marker, "w"):
        pass
    return dest


def tar_shard_stats(files: DataFrame) -> DataFrame:
    """binaryFile rows of .tar shards → stdlib tar parse per shard (one
    mapInPandas stage, no shuffle) → per-member byte-identity check
    against the regenerated image → per-shard rollup (shard_id,
    n_members, member_bytes, first_doc, last_doc, all_match).  A whole
    shard sits in one binary row, so any split of the rows into batches
    rolls up to the same shards (x305 and its twin x311)."""
    import pandas as pd
    from pyspark.sql import types as T

    member_schema = T.StructType(
        [
            T.StructField("shard_id", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("member_bytes", T.LongType()),
            T.StructField("payload_matches", T.BooleanType()),
        ]
    )

    def parse_tars(it):
        import io
        import re
        import tarfile

        for pdf in it:
            rows: dict[str, list] = {
                k: [] for k in member_schema.fieldNames()
            }
            for sid, content in zip(pdf["shard_id"], pdf["content"]):
                with tarfile.open(
                    fileobj=io.BytesIO(bytes(content)), mode="r:"
                ) as tf:
                    for m in tf.getmembers():
                        doc_id = int(
                            re.fullmatch(r"img_(\d+)\.ppm", m.name).group(1)
                        )
                        payload = tf.extractfile(m).read()
                        rows["shard_id"].append(int(sid))
                        rows["doc_id"].append(doc_id)
                        rows["member_bytes"].append(len(payload))
                        rows["payload_matches"].append(
                            payload == make_image(doc_id, "ppm")
                        )
            yield pd.DataFrame(
                {
                    k: pd.Series(
                        rows[k],
                        dtype="bool" if k == "payload_matches" else "int64",
                    )
                    for k in member_schema.fieldNames()
                }
            )

    shards = files.select(
        F.regexp_extract(F.col("path"), r"shard_(\d+)\.tar$", 1)
        .cast("long")
        .alias("shard_id"),
        F.col("content"),
    )
    return shards.mapInPandas(parse_tars, member_schema).groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("member_bytes").cast("long").alias("member_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.bool_and("payload_matches").alias("all_match"),
    )


def x305_tar_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the tar shards (write-once), then prove the round-trip by
    RE-READING them through ``binaryFile`` and ``tar_shard_stats``:
    membership and byte accounting must equal the packing law's
    prediction, and all_match pins every member's bytes."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tar")
        .load(tar_shard_dir(spark, sf_dir))
    )
    return tar_shard_stats(files)


def _x305_sql() -> str:
    from ..operators.media import (
        IMG_H_MIN,
        IMG_H_MOD,
        IMG_W_MIN,
        IMG_W_MOD,
    )

    return f"""
        WITH d AS (
          SELECT doc_id,
                 (doc_id % {IMG_W_MOD}) + {IMG_W_MIN} AS w,
                 (doc_id % {IMG_H_MOD}) + {IMG_H_MIN} AS h
          FROM documents
          WHERE doc_id % {MEDIA_FILE_MOD} = 0),
        sz AS (
          SELECT doc_id,
                 CAST(9 + strlen(CAST(w AS VARCHAR))
                        + strlen(CAST(h AS VARCHAR))
                        + 3 * w * h AS BIGINT) AS n_bytes
          FROM d),
        a AS (
          SELECT doc_id, n_bytes,
                 CAST(floor((SUM(n_bytes) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)
                      / {TAR_SHARD_BYTES}) AS BIGINT) AS shard_id
          FROM sz)
        SELECT shard_id, COUNT(*) AS n_members,
               CAST(SUM(n_bytes) AS BIGINT) AS member_bytes,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
               TRUE AS all_match
        FROM a GROUP BY shard_id
        """


register(
    QuerySpec(
        "x305_tar_shard_roundtrip",
        x305_tar_shard_roundtrip,
        _x305_sql(),
        "WebDataset tar shard round-trip: law-packed shards written by tarfile, re-read via binaryFile + tar parse, member bytes identity-gated",
    )
)


# --- x310: CROSS-MODAL sample-level dedup --------------------------------------
# The per-modality near-dup arrows find duplicate images, clips, and
# videos separately; a multimodal TRAINING-SAMPLE is duplicated only
# when all of its modalities are — the sample-level key is the triple
# (image dHash, audio fingerprint, video fingerprint).  This op
# composes the three REAL decode kernels into one sample-identity
# dedup: per doc, decode all three payloads, group by the triple, keep
# the lowest doc_id.  Spark side: three shuffle-free decode stages +
# two doc_id-keyed joins + one triple-keyed shuffle; oracle side: the
# three arithmetic-law chains (dHash, audio fp, video fp) composed in
# one WITH and grouped — the x297 composition applied to DEDUP.


def x310_crossmodal_sample_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(dhash_hex, audio_fp, video_fp, keep_id, n_members,
    sample_bytes) per distinct sample identity — the dedup manifest a
    multimodal trainer consumes (n_members > 1 ⇒ the whole SAMPLE is a
    re-occurrence, not just one modality).  sample_bytes is the
    triple's payload total for the keeper, from real encoded bytes."""
    from ..operators.media import (
        documents_as_audio_media,
        documents_as_image_media,
        documents_as_video_media,
        extract_audio_stats,
        extract_image_dhash,
        extract_video_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents")
    img = extract_image_dhash(
        documents_as_image_media(docs, fmt="ppm")
    ).select(
        "doc_id", "dhash_hex", F.col("n_bytes").alias("img_bytes")
    )
    aud = extract_audio_stats(documents_as_audio_media(docs)).select(
        "doc_id",
        F.col("fingerprint").alias("audio_fp"),
        F.col("n_bytes").alias("wav_bytes"),
    )
    vid = extract_video_fingerprints(
        documents_as_video_media(docs)
    ).select(
        "doc_id",
        F.col("fingerprint").alias("video_fp"),
        F.col("n_bytes").alias("vid_bytes"),
    )
    samples = (
        img.join(aud, "doc_id")
        .join(vid, "doc_id")
        .withColumn(
            "sample_bytes",
            (
                F.col("img_bytes") + F.col("wav_bytes") + F.col("vid_bytes")
            ).cast("long"),
        )
    )
    return samples.groupBy("dhash_hex", "audio_fp", "video_fp").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_members"),
        F.min_by("sample_bytes", "doc_id").alias("sample_bytes"),
    )


def _x310_sql() -> str:
    return f"""
        WITH {_dhash_ctes()},
        {_audio_ctes()},
        {_audio_fp_ctes()},
        {_video_ctes()},
        {_SQL_VIDEO_FP_CTE},
        s AS (
          SELECT h.doc_id, h.dhash_hex,
                 afp.fingerprint AS audio_fp,
                 vfp.fingerprint AS video_fp,
                 h.n_bytes
                 + (44 + 2 * ad.n)
                 + (33 + strlen(CAST(vd.w AS VARCHAR))
                       + strlen(CAST(vd.h AS VARCHAR))
                       + vd.nf * (6 + 3 * vd.w * vd.h)) AS sample_bytes
          FROM hashes h
          JOIN afp USING (doc_id)
          JOIN ad USING (doc_id)
          JOIN vfp USING (doc_id)
          JOIN vd USING (doc_id))
        SELECT dhash_hex, audio_fp, video_fp,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_members,
               CAST(MIN_BY(sample_bytes, doc_id) AS BIGINT) AS sample_bytes
        FROM s GROUP BY 1, 2, 3
        """


register(
    QuerySpec(
        "x310_crossmodal_sample_dedup",
        x310_crossmodal_sample_dedup,
        _x310_sql(),
        "cross-modal sample dedup: the (image dHash, audio fp, video fp) triple as the sample identity, three real decodes composed",
    )
)
