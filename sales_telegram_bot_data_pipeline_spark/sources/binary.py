"""Multimodal binary columns: opaque image/audio/video bytes with typed
metadata, plus stubbed decode / feature-extraction over ``mapInPandas``.

The reference moves images as S3 objects with lineage encoded in filenames
(pdf_utils.py:50, yolo_ocr_utils.py:179); the engine's native model is a
``binary`` column + a metadata struct in the SAME row — no filename parsing,
no per-object RPCs, and partition-parallel decode.

Decode: ``real_decode=True`` decodes REAL pixels for uncompressed 24-bit
BMP and non-interlaced 8-bit PNG via the pure-stdlib codec
(sources/imagecodec.py, exercised end-to-end in tests/test_imagecodec.py);
formats needing a real codec library (jpeg's DCT, video, audio containers)
raise ``NotImplementedError`` naming what they need.  The default
deterministic fake derives (width, height, n_frames) and an 8-dim feature
vector from the content hash, so schemas, batch shapes and partitioning are
real and tested either way.  ``spark.read.format("binaryFile")`` is the
cluster-scale ingestion path for real files.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import load_table

DECODED_SCHEMA = (
    "doc_id long, byte_len long, content_hash string, mime string, "
    "width int, height int, n_frames int, features array<double>"
)


def with_binary_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Typed metadata columns computed JVM-side from the bytes."""
    c = F.col(content_col)
    return (
        df.withColumn("byte_len", F.length(c).cast("long"))
        .withColumn("content_hash", F.md5(c))
        .withColumn(
            "mime",
            F.when(F.hex(F.substring(c, 1, 4)) == "89504E47", "image/png")
            .when(F.hex(F.substring(c, 1, 3)) == "FFD8FF", "image/jpeg")
            .when(F.hex(F.substring(c, 1, 2)) == "424D", "image/bmp")
            .otherwise("application/octet-stream"),
        )
    )


def decode_stub(df: DataFrame, real_decode: bool = False) -> DataFrame:
    """mapInPandas decode/feature-extract.  ``real_decode=True`` decodes
    REAL pixels for the formats the pure-stdlib codec covers (uncompressed
    24-bit BMP, non-interlaced 8-bit PNG — sources/imagecodec.py) and keeps
    the honest ``NotImplementedError`` gate for everything else (jpeg needs
    a DCT codec)."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                content = bytes(rec.content) if rec.content is not None else b""
                digest = hashlib.md5(content).hexdigest()
                if real_decode:
                    from .imagecodec import decode_image, image_stats_features

                    img = decode_image(content, rec.mime)
                    out.append(
                        {
                            "doc_id": rec.doc_id,
                            "byte_len": len(content),
                            "content_hash": digest,
                            "mime": rec.mime,
                            "width": int(img.shape[1]),
                            "height": int(img.shape[0]),
                            "n_frames": 1,
                            "features": image_stats_features(img),
                        }
                    )
                    continue
                seed = int(digest[:15], 16)
                out.append(
                    {
                        "doc_id": rec.doc_id,
                        "byte_len": len(content),
                        "content_hash": digest,
                        "mime": rec.mime,
                        "width": 64 + seed % 1024,
                        "height": 64 + (seed >> 10) % 1024,
                        "n_frames": 1 + seed % 4,
                        "features": [
                            round(int(digest[i * 2 : i * 2 + 2], 16) / 255.0, 6) for i in range(8)
                        ],
                    }
                )
            yield pd.DataFrame(out, columns=[c.split(" ")[0] for c in DECODED_SCHEMA.split(", ")])

    return df.mapInPandas(_decode, schema=DECODED_SCHEMA)


CROP_SCHEMA = "image_id string, det_idx int, class_name string, crop binary, crop_len long"


def crop_regions(df: DataFrame) -> DataFrame:
    """op 10 (ROI crop, yolo_ocr_utils.py:174-196): slice the detection box
    out of the image bytes and emit one binary crop per detection row.

    Real image slicing needs a decoder (not in this container); the stub
    slices the RAW byte range proportional to the box so partitioning,
    row-explosion and binary-output plumbing are real.  The reference crops
    the UNPADDED box while storing the padded one (asymmetry documented,
    SURVEY.md op 10); this operator crops what it is given — pass padded or
    unpadded columns explicitly."""

    def _crop(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                content = bytes(rec.content) if rec.content is not None else b""
                w = max(int(rec.width), 1)
                lo = min(len(content) * int(rec.x1) // w, len(content))
                hi = min(len(content) * int(rec.x2) // w, len(content))
                crop = content[lo:hi]
                out.append(
                    {
                        "image_id": rec.image_id,
                        "det_idx": rec.det_idx,
                        "class_name": rec.class_name,
                        "crop": crop,
                        "crop_len": len(crop),
                    }
                )
            yield pd.DataFrame(out, columns=[c.split(" ")[0] for c in CROP_SCHEMA.split(", ")])

    return df.mapInPandas(_crop, schema=CROP_SCHEMA)


@register(
    "multimodal_features",
    oracle=None,  # mapInPandas decode stub → rows-only driver check
    doc="Multimodal columns: binary content + typed metadata (length, hash, "
    "mime sniff) + stubbed decode/feature-extraction via mapInPandas — the "
    "engine-native form of the reference's S3 image flow.",
    tags=("multimodal", "udf"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    binary = docs.select(
        "doc_id", F.encode("text", "utf-8").alias("content")
    )
    meta = with_binary_metadata(binary)
    return (
        decode_stub(meta.select("doc_id", "content", "mime"))
        .select("doc_id", "byte_len", "mime", "width", "height", "n_frames", "features")
        .orderBy("doc_id")
    )


RESIZE_SCHEMA = (
    "doc_id long, width int, height int, resized binary, resized_len long"
)


def resize_images(df: DataFrame, width: int, height: int, real_decode: bool = False) -> DataFrame:
    """Batch image resize over ``mapInPandas`` — the thumbnail/normalize
    step before a vision encoder.  Input rows carry (doc_id, content);
    output is the target-dimension binary.  Real resampling needs PIL/cv2
    (gated behind ``real_decode``); the stub emits a deterministic
    byte-resampling (stride-sampled content padded/truncated to a
    width*height-proportional length) so the Spark surface — schema, Arrow
    batching, row-parallel partitioning, binary output — is real and
    tested.  Row-parallel, shuffle-free: resize never needs a shuffle at
    any corpus size."""

    target_len = max(1, width * height // 64)

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                content = bytes(rec.content) if rec.content is not None else b""
                if real_decode:
                    raise NotImplementedError(
                        "real resize needs PIL/cv2 (not in this container); "
                        "wire it here — schema and batching are already correct"
                    )
                if content:
                    stride = max(1, len(content) // target_len)
                    resized = content[::stride][:target_len]
                    resized = resized + b"\x00" * (target_len - len(resized))
                else:
                    resized = b"\x00" * target_len
                out.append(
                    {
                        "doc_id": rec.doc_id,
                        "width": width,
                        "height": height,
                        "resized": resized,
                        "resized_len": len(resized),
                    }
                )
            yield pd.DataFrame(out, columns=[c.split(" ")[0] for c in RESIZE_SCHEMA.split(", ")])

    return df.mapInPandas(_resize, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame binary, frame_len long"


def sample_frames(df: DataFrame, every_n: int = 2, real_decode: bool = False) -> DataFrame:
    """Video frame sampling as a 1→N ``mapInPandas`` generator (the same
    fan-out shape as the PDF→pages source, SURVEY.md §2 op 3): each input
    row with ``n_frames`` metadata emits one row per sampled frame index
    (0, every_n, 2*every_n, ...).  Real frame extraction needs ffmpeg/cv2
    (gated); the stub slices the content bytes into n_frames equal chunks
    and emits the sampled chunks, so the row-explosion contract, schema,
    and batch shapes are real.  Output size is O(frames/every_n) — the
    knob that keeps 100 TB of video tractable."""

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                content = bytes(rec.content) if rec.content is not None else b""
                if real_decode:
                    raise NotImplementedError(
                        "real frame extraction needs ffmpeg/cv2 (not in this "
                        "container); wire it here — the 1->N contract is already correct"
                    )
                n = max(int(rec.n_frames), 1)
                chunk = max(1, len(content) // n)
                for idx in range(0, n, every_n):
                    frame = content[idx * chunk : (idx + 1) * chunk]
                    out.append(
                        {
                            "doc_id": rec.doc_id,
                            "frame_idx": idx,
                            "frame": frame,
                            "frame_len": len(frame),
                        }
                    )
            yield pd.DataFrame(out, columns=[c.split(" ")[0] for c in FRAME_SCHEMA.split(", ")])

    return df.mapInPandas(_frames, schema=FRAME_SCHEMA)


@register(
    "video_frame_sample",
    oracle=None,  # mapInPandas 1→N generator over binary — not SQL-expressible
    doc="Rows-only: the multimodal 1→N fan-out end to end — documents as "
    "binary content, stub decode for n_frames metadata, then frame "
    "sampling (every 2nd frame) through the mapInPandas generator; emits "
    "(doc_id, frame_idx, frame_len).  Gives the video path's Arrow "
    "batching and row-explosion contract a registry row next to "
    "multimodal_features (the 1:1 decode rep).",
    tags=("multimodal", "explode", "python"),
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    binary = docs.select("doc_id", F.encode("text", "utf-8").alias("content"))
    decoded = decode_stub(with_binary_metadata(binary).select("doc_id", "content", "mime"))
    frames = sample_frames(
        binary.join(decoded.select("doc_id", "n_frames"), "doc_id"), every_n=2
    )
    return frames.select("doc_id", "frame_idx", "frame_len").orderBy("doc_id", "frame_idx")


# --------------------------------------------------------------------------
# audio: stub PCM decode -> windowed frame features (1→N)
# --------------------------------------------------------------------------
AUDIO_SCHEMA = "doc_id long, window_idx int, n_samples int, rms double, zcr double"
AUDIO_WIN = 64  # samples per analysis window
AUDIO_HOP = 32  # hop (50% overlap)


def audio_window_features(df: DataFrame, real_decode: bool = False) -> DataFrame:
    """Audio feature extraction as a 1→N ``mapInPandas`` generator — the
    audio member of the multimodal triple (image decode 1:1, video frames
    1→N, audio windows 1→N with OVERLAP, the hop/window shape every
    speech pipeline uses).  Real decode (wav/mp3 → PCM) needs soundfile/
    ffmpeg (gated); the stub interprets the content bytes as little-endian
    int16 PCM — deterministic from the bytes, so features are testable —
    and the windowing, overlap arithmetic, schema, and Arrow batch
    contracts are the real ones.  Per-window RMS and zero-crossing rate
    are the classic energy/voicing features; output size is
    O(samples/hop), bounded per row.

    100 TB shape: row-parallel, no shuffle, feature rows are tiny relative
    to the audio bytes — the decode stage is where the bytes die."""
    import numpy as np

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                content = bytes(rec.content) if rec.content is not None else b""
                if real_decode:
                    raise NotImplementedError(
                        "real audio decode needs soundfile/ffmpeg (not in this "
                        "container); wire it here — windowing and schema are "
                        "already correct"
                    )
                pcm = np.frombuffer(
                    content[: (len(content) // 2) * 2], dtype="<i2"
                ).astype("float64") / 32768.0
                idx = 0
                for start in range(0, max(len(pcm) - AUDIO_WIN + 1, 0), AUDIO_HOP):
                    w = pcm[start : start + AUDIO_WIN]
                    rms = float(np.sqrt(np.mean(w * w)))
                    zcr = float(np.mean(np.abs(np.diff(np.signbit(w).astype("int8")))))
                    out.append(
                        {
                            "doc_id": rec.doc_id,
                            "window_idx": idx,
                            "n_samples": len(w),
                            "rms": round(rms, 6),
                            "zcr": round(zcr, 6),
                        }
                    )
                    idx += 1
            yield pd.DataFrame(
                out, columns=[c.split(" ")[0] for c in AUDIO_SCHEMA.split(", ")]
            )

    return df.mapInPandas(_features, schema=AUDIO_SCHEMA)


@register(
    "audio_window_features",
    oracle=None,  # mapInPandas over binary — not SQL-expressible
    doc="Rows-only: the audio member of the multimodal triple — documents "
    "as binary content, stub int16-PCM decode, overlapping "
    f"{AUDIO_WIN}-sample windows at hop {AUDIO_HOP}, per-window RMS + "
    "zero-crossing rate through a 1→N mapInPandas generator. Windowing/"
    "overlap arithmetic and Arrow contracts are real; decode is gated.",
    tags=("multimodal", "explode", "python"),
)
def audio_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    binary = docs.select("doc_id", F.encode("text", "utf-8").alias("content"))
    return audio_window_features(binary).orderBy("doc_id", "window_idx")


# --------------------------------------------------------------------------
# image perceptual hash (aHash) -> exact perceptual-dup groups
# --------------------------------------------------------------------------
PHASH_GRID = 8  # 8x8 luma grid -> 64-bit hash


def perceptual_hash(df: DataFrame, real_decode: bool = False) -> DataFrame:
    """Average-hash (aHash) perceptual image fingerprint: decode to an
    {PHASH_GRID}x{PHASH_GRID} luma grid, threshold each cell against the
    grid mean, pack the bits — near-identical images (recompression,
    minor edits) collide.  The stub derives the luma grid deterministically
    from the content bytes (md5-seeded), so the hashing/packing path and
    the downstream dedup join are fully testable; real decode is gated.

    Bit-packing detail: bits pack row-major MSB-first into a BIGINT —
    documented so an external system can reproduce the hash."""
    import numpy as np

    def _phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_cells = PHASH_GRID * PHASH_GRID
        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                content = bytes(rec.content) if rec.content is not None else b""
                if real_decode:
                    raise NotImplementedError(
                        "real image decode needs PIL/cv2 (not in this container); "
                        "wire it here — grid/threshold/packing are already correct"
                    )
                digest = hashlib.md5(content).digest()
                # deterministic fake luma grid: repeat the digest to 64 bytes
                grid = np.frombuffer((digest * 4)[:n_cells], dtype="uint8").astype("float64")
                bits = grid > grid.mean()
                h = 0
                for b in bits:
                    h = (h << 1) | int(b)
                # fold to signed 64-bit (Spark BIGINT)
                if h >= 1 << 63:
                    h -= 1 << 64
                out.append({"doc_id": rec.doc_id, "phash": h})
            yield pd.DataFrame(out, columns=["doc_id", "phash"])

    return df.mapInPandas(_phash, schema="doc_id long, phash long")


@register(
    "image_phash_dedup",
    oracle=None,  # stub decode + numpy thresholding — not SQL-expressible
    doc="Rows-only: perceptual image dedup — aHash fingerprints "
    f"({PHASH_GRID}x{PHASH_GRID} luma grid, mean threshold, MSB-first "
    "bit-pack) via mapInPandas, then an exact groupBy on the 64-bit hash "
    "for perceptual-dup group sizes. The image member of the dedup family "
    "next to text MinHash and embedding cosine; banded Hamming join is "
    "the near-dup extension (same machinery as simhash_neardup).",
    tags=("multimodal", "dedup", "python"),
)
def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    binary = docs.select("doc_id", F.encode("text", "utf-8").alias("content"))
    hashes = perceptual_hash(binary)
    sizes = hashes.groupBy("phash").agg(F.count(F.lit(1)).alias("n_images"))
    return (
        hashes.join(sizes, "phash")
        .select("doc_id", "phash", F.col("n_images").cast("bigint").alias("n_images"))
        .orderBy("doc_id")
    )
