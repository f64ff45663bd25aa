"""Multimodal columns for LLM-data pipelines (north star).

Design: image/audio/video payloads are opaque ``binary`` columns with a
typed metadata struct riding alongside — the Spark-native shape for
petabyte media corpora (payload bytes stay columnar/compressed in
parquet; metadata predicates prune row-groups without touching bytes).

Heavy per-item work (BMP/PPM encode and decode, perceptual hashing,
frame sampling) runs as Arrow-batched ``mapInPandas`` — the ONLY
sanctioned Python hot path in this engine (SURVEY §2.8 policy):
vectorized transfer, bounded batches, no row-at-a-time pickling. Only
the numpy-decodable raster formats are decoded; JPEG/PNG/audio/video
payloads are not (PIL/ffmpeg are not dependencies).

Scale: mapInPandas streams Arrow batches; memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``. Media tables
partition by (kind, date); feature extraction is embarrassingly
parallel — zero shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import parallelize, table

_KINDS = ["image", "audio", "video"]


def synth_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from ``documents``: payload =
    utf-8 bytes of the text (a stand-in for real image/audio bytes),
    kind = doc_id % 3. Exercises the real binary-column plumbing."""
    docs = parallelize(table(spark, sf_dir, "documents"), spark)
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    data = F.encode("text", "utf-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        data.alias("data"),
        F.struct(
            F.lit("raw/v1").alias("format"),
            F.length(data).cast("long").alias("n_bytes"),
            F.col("lang").alias("tag"),
        ).alias("meta"),
    )


def frame_sample(media: DataFrame, every: int = 64) -> DataFrame:
    """Frame sampler over the raw payload: one row per `every`-byte
    slice — the plumbing shape of video frame-sampling (one input row
    → N frame rows); no video codec is involved."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["data"]):
                for i, off in enumerate(range(0, len(payload), every)):
                    out_ids.append(mid)
                    out_idx.append(i)
                    out_frames.append(bytes(payload[off : off + every]))
            yield pd.DataFrame(
                {"media_id": out_ids, "frame_idx": out_idx, "frame": out_frames}
            )

    return media.mapInPandas(run, "media_id bigint, frame_idx int, frame binary")


# ---------------------------------------------------------------------------
# REAL codecs: BMP (BITMAPINFOHEADER, 24bpp) and PPM (P6) — numpy-only
# formats with fixed headers and raw raster math, so decode is genuinely
# executed here (no PIL/ffmpeg needed). JPEG/PNG/audio/video are not decoded.
# ---------------------------------------------------------------------------

import struct


def _pixels(doc_id: int, w: int, h: int) -> np.ndarray:
    """Deterministic RGB test raster (h, w, 3) uint8 — the same
    closed-form the DuckDB oracle recomputes arithmetically."""
    x = np.arange(w, dtype=np.int64)[None, :, None]
    y = np.arange(h, dtype=np.int64)[:, None, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    return ((doc_id + 3 * x + 5 * y + 7 * c) % 256).astype(np.uint8)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Windows BMP, 24-bit uncompressed: 14-byte file header +
    40-byte BITMAPINFOHEADER + bottom-up BGR raster with each row
    padded to a 4-byte boundary."""
    h, w, _ = pixels.shape
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    raster = np.zeros((h, row_bytes + pad), dtype=np.uint8)
    raster[:, :row_bytes] = pixels[::-1, :, ::-1].reshape(h, -1)  # flip+BGR
    img = raster.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(img), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0)
    return header + info + img


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Binary PPM (P6): ASCII header 'P6\\n<w> <h>\\n255\\n' + raw
    top-down RGB raster."""
    h, w, _ = pixels.shape
    return f"P6\n{w} {h}\n255\n".encode() + pixels.tobytes()


def decode_image(payload: bytes) -> tuple[int, int, float, float, float]:
    """Decode a BMP or PPM payload to (width, height, mean_r, mean_g,
    mean_b). This is a REAL decoder: header fields are parsed, BMP row
    padding stripped and the bottom-up BGR raster unflipped, PPM's
    ASCII header consumed — a byte-level mistake here shows up as an
    oracle hash mismatch on the channel means."""
    if payload[:2] == b"BM":
        offset = struct.unpack_from("<I", payload, 10)[0]
        w, h = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        if bpp != 24:
            raise ValueError(f"unsupported BMP bpp={bpp}")
        row = (3 * w + 3) & ~3
        a = np.frombuffer(payload, np.uint8, count=h * row, offset=offset)
        img = a.reshape(h, row)[:, : 3 * w].reshape(h, w, 3)[::-1, :, ::-1]
    elif payload[:2] == b"P6":
        parts = payload.split(maxsplit=4)  # P6, w, h, maxval, raster...
        w, h = int(parts[1]), int(parts[2])
        hdr_len = len(payload) - w * h * 3
        img = np.frombuffer(payload, np.uint8, count=w * h * 3, offset=hdr_len)
        img = img.reshape(h, w, 3)
    else:
        raise ValueError("unknown image magic")
    means = img.reshape(-1, 3).mean(axis=0, dtype=np.float64)
    return w, h, float(means[0]), float(means[1]), float(means[2])


IMAGE_SCHEMA = "media_id bigint, fmt string, data binary"
DECODED_SCHEMA = (
    "media_id bigint, fmt string, width bigint, height bigint, "
    "mean_r double, mean_g double, mean_b double"
)


def synth_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic image corpus: one BMP or PPM payload per document
    (format alternates by doc_id), dimensions 8+doc_id%9 × 8+doc_id%7,
    pixels from the closed-form raster. Encoding runs Arrow-batched in
    mapInPandas — the write-side twin of the decode path."""
    docs = parallelize(table(spark, sf_dir, "documents"), spark).select("doc_id")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fmts, blobs = [], [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = 8 + doc_id % 9, 8 + doc_id % 7
                px = _pixels(doc_id, w, h)
                fmt = "bmp" if doc_id % 2 == 0 else "ppm"
                blobs.append(encode_bmp(px) if fmt == "bmp" else encode_ppm(px))
                ids.append(doc_id)
                fmts.append(fmt)
            yield pd.DataFrame({"media_id": ids, "fmt": fmts, "data": blobs})

    return docs.mapInPandas(run, IMAGE_SCHEMA)


def decode_images(media: DataFrame) -> DataFrame:
    """Arrow-batched real decode: binary payload in → typed
    (width, height, channel means) out. Zero shuffle; memory bounded
    by the Arrow batch size — the scale shape for petabyte decode."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode_image(b) for b in pdf["data"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "fmt": pdf["fmt"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "mean_r": [d[2] for d in decoded],
                    "mean_g": [d[3] for d in decoded],
                    "mean_b": [d[4] for d in decoded],
                }
            )

    return media.mapInPandas(run, DECODED_SCHEMA)


def decode_raster(payload: bytes) -> np.ndarray:
    """Decode a BMP or PPM payload to the full (h, w, 3) uint8 raster
    (shared parser with :func:`decode_image`)."""
    if payload[:2] == b"BM":
        offset = struct.unpack_from("<I", payload, 10)[0]
        w, h = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        if bpp != 24:
            raise ValueError(f"unsupported BMP bpp={bpp}")
        row = (3 * w + 3) & ~3
        a = np.frombuffer(payload, np.uint8, count=h * row, offset=offset)
        return a.reshape(h, row)[:, : 3 * w].reshape(h, w, 3)[::-1, :, ::-1]
    if payload[:2] == b"P6":
        parts = payload.split(maxsplit=4)
        w, h = int(parts[1]), int(parts[2])
        hdr_len = len(payload) - w * h * 3
        img = np.frombuffer(payload, np.uint8, count=w * h * 3, offset=hdr_len)
        return img.reshape(h, w, 3)
    raise ValueError("unknown image magic")


# perceptual-hash grid: 8 columns x 4 rows -> 32-bit average hash
_AH_GX, _AH_GY = 8, 4


def ahash32(pixels: np.ndarray) -> int:
    """32-bit average hash over an 8x4 block grid, integer-exact: the
    per-pixel signal is the CHANNEL SUM r+g+b (no float gray), and the
    bit test compares cross-multiplied integer sums
    (block_sum * n_total > grand_sum * n_block) so there is no
    floating-point mean anywhere — the DuckDB oracle reproduces the
    hash bit-for-bit with the same arithmetic."""
    h, w, _ = pixels.shape
    gray = pixels.astype(np.int64).sum(axis=2)  # (h, w) channel sums
    gx = (np.arange(w) * _AH_GX) // w  # pixel -> grid column
    gy = (np.arange(h) * _AH_GY) // h  # pixel -> grid row
    bsum = np.zeros((_AH_GY, _AH_GX), dtype=np.int64)
    bcnt = np.zeros((_AH_GY, _AH_GX), dtype=np.int64)
    np.add.at(bsum, (gy[:, None], gx[None, :]), gray)
    np.add.at(bcnt, (gy[:, None], gx[None, :]), 1)
    gsum, gcnt = int(gray.sum()), w * h
    bits = (bsum * gcnt) > (gsum * bcnt)
    idx = np.arange(_AH_GY * _AH_GX).reshape(_AH_GY, _AH_GX)
    return int((bits.astype(np.int64) << idx).sum())


_NEAR_CLASSES = 37  # images with the same doc_id % 37 share a base raster
_NEAR_HAMMING = 3  # must stay < number of bands (pigeonhole exactness)
_NEAR_BANDS = 4  # 4 bands x 8 bits over the 32-bit hash


def synth_near_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image corpus WITH planted near-duplicates: the base raster and
    dimensions depend only on doc_id % 37, and each document adds a
    small deterministic brightness perturbation (+delta on a sparse
    (3x+5y) % 13 == 0 lattice) — so same-class images are near-dups
    whose hashes differ in a few bits, not exact copies. Encoded
    through the real BMP/PPM writers so the hash path exercises the
    actual codec bytes."""
    docs = parallelize(table(spark, sf_dir, "documents"), spark).select("doc_id")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fmts, blobs = [], [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                b = doc_id % _NEAR_CLASSES
                delta = (doc_id // _NEAR_CLASSES) % 4
                w, h = 8 + b % 9, 8 + b % 7
                # class-specific multiplicative TEXTURE (x+b)(y+2b+1):
                # average hash is brightness-invariant, so classes that
                # differ only by an offset (or a smooth low-frequency
                # gradient) collapse to near-identical hashes and the
                # "near-dup" set degenerates to the whole corpus —
                # measured: constant-offset classes produced 6195
                # qualifying hash pairs vs 374 with this texture. The
                # per-doc delta perturbation on a sparse lattice makes
                # same-class images near- rather than exact-duplicates.
                x = np.arange(w)[None, :, None]
                y = np.arange(h)[:, None, None]
                c = np.arange(3)[None, None, :]
                mask = (3 * x + 5 * y) % 13 == 0
                px = (
                    ((x + b) * (y + 2 * b + 1) + 7 * c + delta * mask) % 256
                ).astype(np.uint8)
                fmt = "bmp" if doc_id % 2 == 0 else "ppm"
                blobs.append(encode_bmp(px) if fmt == "bmp" else encode_ppm(px))
                ids.append(doc_id)
                fmts.append(fmt)
            yield pd.DataFrame({"media_id": ids, "fmt": fmts, "data": blobs})

    return docs.mapInPandas(run, IMAGE_SCHEMA)


def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-duplicate join — the visual twin of
    MinHash/SimHash text near-dup: decode real BMP/PPM bytes, compute
    a 32-bit integer-exact average hash, and find all image pairs with
    hamming distance <= 3 via a BANDED join (4 bands x 8 bits; a
    candidate pair must agree exactly on at least one band).

    Exactness: with 4 bands and threshold 3, the pigeonhole principle
    guarantees every qualifying pair shares an untouched band, so the
    banded plan returns EXACTLY the brute-force result — the DuckDB
    oracle does the O(n^2) all-pairs join and must match bit-for-bit.

    Scale: only (media_id, 32-bit hash) shuffles — payload bytes stay
    at the scan — and the quadratic runs over DISTINCT hashes, not
    documents: duplicate-heavy corpora (the whole point of dedup)
    collapse to their unique hash set first, the banded join pairs
    unique hashes, and doc pairs come back by expanding each
    qualifying hash pair through two id joins. Without the collapse,
    a corpus of D docs over H distinct hashes pays band-bucket
    pairs ~ (D/H · share)^2 per bucket — measured 99 s at sf0.1;
    with it, the join is H^2-bounded and the only D-scale work is
    the final output expansion, which is output-bound by
    definition. (This is the same pre-collapse exact-dup trick the
    text LSH path uses.)"""
    media = synth_near_images(spark, sf_dir)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "hash": [
                        ahash32(decode_raster(bytes(b))) for b in pdf["data"]
                    ],
                }
            )

    hashes = media.mapInPandas(run, "media_id bigint, hash bigint")
    uniq = hashes.select("hash").distinct()
    bands = uniq.select(
        "hash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftright("hash", 8 * i)
                        .bitwiseAND(F.lit(255))
                        .alias("band_val"),
                    )
                    for i in range(_NEAR_BANDS)
                ]
            )
        ).alias("band"),
    ).select("hash", "band.band_id", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    hash_pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.hash") <= F.col("b.hash")),
        )
        .select(F.col("a.hash").alias("ha"), F.col("b.hash").alias("hb"))
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long"),
        )
        .where(F.col("hamming") <= _NEAR_HAMMING)
    )
    # expansion: broadcast the H^2-bounded hash-pair table, stream the
    # D-scale (id, hash) map through it twice — no doc-side broadcast.
    #
    # The y-side equi-join key is SALTED (r9, found by the first full
    # sf100 run): the output of this join is quadratic per hash value
    # (every same-class doc pair), but AQE coalesces partitions by
    # INPUT size — at sf100 the whole 4e11-row expansion landed in ONE
    # input-balanced task that then ran for ~45 minutes while 31 cores
    # idled. Salting x by media_id and replicating y across the salt
    # range splits the OUTPUT evenly at the cost of a K-fold larger
    # (still skinny, id+hash) y-side shuffle — the standard answer for
    # output-heavy expansion joins, sized from the fixture like every
    # other bucket count (catalog.fixture_buckets floor 32).
    from ..catalog import fixture_buckets

    n_salt = fixture_buckets(sf_dir, "documents", floor=32)
    x = hashes.select(
        F.col("media_id").alias("x_id"),
        F.col("hash").alias("x_hash"),
        F.pmod(F.col("media_id"), F.lit(n_salt)).alias("x_salt"),
    )
    y = hashes.crossJoin(
        spark.range(n_salt).select(F.col("id").alias("y_salt"))
    ).select(
        F.col("media_id").alias("y_id"),
        F.col("hash").alias("y_hash"),
        "y_salt",
    )
    return (
        x.join(F.broadcast(hash_pairs), F.col("x_hash") == F.col("ha"))
        .join(
            y,
            (F.col("y_hash") == F.col("hb"))
            & (F.col("y_salt") == F.col("x_salt"))
            & (
                (F.col("ha") != F.col("hb"))
                | (F.col("x_id") < F.col("y_id"))
            ),
        )
        .select(
            F.least("x_id", "y_id").alias("id_a"),
            F.greatest("x_id", "y_id").alias("id_b"),
            "hamming",
        )
    )


# ---------------------------------------------------------------------------
# Catalog queries
# ---------------------------------------------------------------------------


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only rollup over the media table: proves predicates on
    the typed meta struct never touch payload bytes (column pruning —
    the scan reads meta+kind only)."""
    media = synth_media(spark, sf_dir)
    return media.groupBy("kind").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
        F.count_if(F.col("meta.tag") == "en").alias("n_en"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL image decode (de-stubbed in round 4): encode a
    deterministic BMP/PPM per document, then parse the actual bytes
    back — header fields, BMP row padding and bottom-up flip, PPM
    ASCII header — and report (width, height, per-channel means).
    Both directions run Arrow-batched in mapInPandas with zero
    shuffle. The DuckDB oracle recomputes the same quantities from
    the closed-form raster arithmetic, so any byte-level decode bug
    breaks the value hash. (JPEG/PNG/audio/video are not decoded:
    their codec libraries are not dependencies.)"""
    media = synth_images(spark, sf_dir)
    dec = decode_images(media)
    return dec.select(
        "media_id",
        "fmt",
        "width",
        "height",
        (F.round(F.col("mean_r") + 1e-9, 4) + 0.0).alias("mean_r"),
        (F.round(F.col("mean_g") + 1e-9, 4) + 0.0).alias("mean_g"),
        (F.round(F.col("mean_b") + 1e-9, 4) + 0.0).alias("mean_b"),
    )


def q_media_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling through the Arrow `mapInPandas`
    plumbing: per media item, the sampled frame count, the max frame
    index, and the total sampled bytes. The payload slicer stands in
    for a real frame decoder (no video codecs in this container), but
    the fan-out arithmetic is fully checkable — promoted from
    rows-only to a FULL oracle in round 4: DuckDB recomputes
    ceil(payload_bytes/64) frames and the byte totals from the same
    deterministic payloads, so the 1→N fan-out, the tail-frame
    handling, and the byte accounting all hash-match (byte slicing is
    additionally unit-tested against plain Python in
    tests/test_multimodal.py)."""
    media = synth_media(spark, sf_dir)
    frames = frame_sample(media, every=64)
    return frames.groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.max("frame_idx").alias("max_idx"),
        F.sum(F.length("frame")).alias("sampled_bytes"),
    )


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary-payload dedup — the media twin of the text
    dedup family: group identical payloads by md5 of the BYTES (not
    any decoded form), keep the lowest media_id, report group sizes.

    Scale shape: the hash is computed scan-side (payload bytes never
    shuffle — only the 16-byte digest and ids do), then one groupBy
    on the digest; the survivors join back by id if payloads are
    needed. This is how petabyte media dedup actually runs: bytes
    stay in place, digests move."""
    media = synth_media(spark, sf_dir)
    return (
        media.select("media_id", "kind", F.md5("data").alias("digest"))
        .groupBy("digest")
        .agg(
            F.min("media_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


ORACLE: dict[str, str] = {
    "q_phash_neardup": """
        -- brute-force O(n^2) reference for the banded perceptual-hash
        -- join: recompute the 32-bit integer-exact average hash from
        -- the closed-form raster (base class = doc_id % 37, sparse
        -- +delta perturbation), then all-pairs hamming <= 3. The
        -- pigeonhole guarantee (4 bands, threshold 3) makes the
        -- engine's banded plan return exactly this set.
        WITH dims AS (
          SELECT doc_id, doc_id % 37 AS b, (doc_id // 37) % 4 AS delta,
                 8 + (doc_id % 37) % 9 AS w, 8 + (doc_id % 37) % 7 AS h
          FROM documents
        ), px AS (
          SELECT doc_id, w, h,
                 (x.i * 8) // w AS gx, (y.i * 4) // h AS gy,
                 (((x.i + b) * (y.i + 2*b + 1)
                   + CASE WHEN (3*x.i + 5*y.i) % 13 = 0 THEN delta ELSE 0 END) % 256)
               + (((x.i + b) * (y.i + 2*b + 1) + 7
                   + CASE WHEN (3*x.i + 5*y.i) % 13 = 0 THEN delta ELSE 0 END) % 256)
               + (((x.i + b) * (y.i + 2*b + 1) + 14
                   + CASE WHEN (3*x.i + 5*y.i) % 13 = 0 THEN delta ELSE 0 END) % 256)
                 AS gray
          FROM dims CROSS JOIN range(16) x(i) CROSS JOIN range(14) y(i)
          WHERE x.i < w AND y.i < h
        ), blocks AS (
          SELECT doc_id, gx, gy, sum(gray) AS bsum, count(*) AS bcnt
          FROM px GROUP BY doc_id, gx, gy
        ), tot AS (
          SELECT doc_id, sum(gray) AS gsum, count(*) AS gcnt
          FROM px GROUP BY doc_id
        ), h AS (
          SELECT blocks.doc_id,
                 CAST(sum(CASE WHEN blocks.bsum * tot.gcnt > tot.gsum * blocks.bcnt
                               THEN (CAST(1 AS BIGINT) << (blocks.gy * 8 + blocks.gx))
                               ELSE 0 END) AS BIGINT) AS hash
          FROM blocks JOIN tot ON blocks.doc_id = tot.doc_id
          GROUP BY blocks.doc_id
        )
        SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
               CAST(bit_count(xor(a.hash, b2.hash)) AS BIGINT) AS hamming
        FROM h a JOIN h b2 ON a.doc_id < b2.doc_id
        WHERE bit_count(xor(a.hash, b2.hash)) <= 3
    """,
    "q_media_features": """
        -- recompute (width, height, channel means) from the SAME
        -- closed-form raster the engine encodes into real BMP/PPM
        -- bytes and decodes back: pixel(c,x,y) = (doc_id+3x+5y+7c)%256
        WITH dims AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt,
                 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
          FROM documents
        ), px AS (
          SELECT d.doc_id, d.fmt, d.w, d.h, c.i AS c,
                 avg((d.doc_id + 3 * x.i + 5 * y.i + 7 * c.i) % 256) AS m
          FROM dims d
          CROSS JOIN range(16) x(i)
          CROSS JOIN range(14) y(i)
          CROSS JOIN range(3) c(i)
          WHERE x.i < d.w AND y.i < d.h
          GROUP BY d.doc_id, d.fmt, d.w, d.h, c.i
        )
        SELECT doc_id AS media_id, fmt,
               CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
               round(max(CASE WHEN c = 0 THEN m END) + 1e-9, 4) + 0.0 AS mean_r,
               round(max(CASE WHEN c = 1 THEN m END) + 1e-9, 4) + 0.0 AS mean_g,
               round(max(CASE WHEN c = 2 THEN m END) + 1e-9, 4) + 0.0 AS mean_b
        FROM px GROUP BY doc_id, fmt, w, h
    """,
    "q_media_dedup": """
        -- payload = utf-8 bytes of text, so grouping by text is
        -- byte-identical grouping (DuckDB's md5 takes no BLOB)
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY text
    """,
    "q_media_framesample": """
        -- payload = utf-8 text bytes sliced every 64: the fan-out
        -- arithmetic is exact (no empty docs in the fixtures)
        SELECT doc_id AS media_id,
               CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT)
                 AS n_frames,
               CAST(ceil(octet_length(encode(text)) / 64.0) - 1
                    AS INTEGER) AS max_idx,
               CAST(octet_length(encode(text)) AS BIGINT)
                 AS sampled_bytes
        FROM documents
    """,
    "q_multimodal_meta": """
        SELECT CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               count(*) AS n_items,
               CAST(sum(CAST(octet_length(encode(text)) AS BIGINT))
                    AS BIGINT) AS total_bytes,
               count(*) FILTER (WHERE lang = 'en') AS n_en
        FROM documents GROUP BY 1
    """,
}
