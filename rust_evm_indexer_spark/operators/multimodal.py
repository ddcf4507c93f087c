"""Multimodal column handling (X-5): opaque binary payloads + typed
metadata, with Arrow-batched Pandas plumbing for the decode/feature path.

Design for 100 TB of media: the *payload* stays an opaque ``binary``
column (or an object-store URI for large assets); the engine's job is the
metadata plumbing and the batch-shaped UDF boundary, not the codec.  Real
decoders (PIL/librosa/ffmpeg) are not in this container, so the decode
kernel is STUBBED — :func:`decode_image_stub` raises unless
``deterministic_fake=True``, which produces a seeded fake feature vector
so the Spark-side contract (schema, Arrow batching, partition parallelism)
is real and tested end-to-end.

The mapInPandas shape is the important part: decode cost scales per-row,
so it must run executor-parallel over Arrow record batches, never on the
driver and never row-at-a-time.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import ensure_package_shipped, python_task

#: schema of a multimodal asset table: payload + typed metadata struct
ASSET_SCHEMA = (
    "asset_id long, payload binary, media_type string, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)

FEATURE_DIM = 16

_DECODE_OUT_SCHEMA = (
    "asset_id long, media_type string, byte_len int, payload_md5 string, "
    "features array<float>, features_csv string"
)


def documents_as_assets(documents: DataFrame) -> DataFrame:
    """Fixture adapter: wrap the documents table as binary 'image' assets
    (payload = utf-8 bytes).  Gives the multimodal path a deterministic
    corpus in this container."""
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("image/fake").alias("media_type"),
        F.struct(
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def _raw_features(payload: bytes) -> list[float]:
    """The deterministic fake kernel's raw (unrounded) feature vector:
    bucketed byte statistics.  Every term is a multiple of 2⁻⁶, so the
    accumulation is exact in double — any engine that replays this math
    (see the catalog's DuckDB oracle) lands on bit-identical doubles."""
    acc = [0.0] * FEATURE_DIM
    for i, b in enumerate(payload):
        acc[i % FEATURE_DIM] += (b % 64) / 64.0
    n = max(len(payload), 1)
    return [v * FEATURE_DIM / n for v in acc]


def decode_image_stub(payload: bytes, *, deterministic_fake: bool) -> list[float]:
    """The codec boundary.  A real deployment plugs PIL/torchvision here.

    With ``deterministic_fake``: a seeded, content-derived vector (rolling
    byte statistics) so tests exercise real data flow; without: raise, so
    accidental production use fails loudly.
    """
    if not deterministic_fake:
        raise NotImplementedError(
            "image decoding requires PIL/torchvision — not available in this "
            "container; pass deterministic_fake=True for the test kernel"
        )
    return [round(v, 6) for v in _raw_features(payload)]


def extract_features(
    assets: DataFrame, *, deterministic_fake: bool = True, batch_note: list | None = None
) -> DataFrame:
    """Executor-parallel feature extraction over Arrow batches.

    ``mapInPandas``: each task receives an iterator of pandas DataFrames
    (one per Arrow batch), runs the decode kernel per row *within* the
    vectorized batch loop, and yields result batches — the pattern every
    real media pipeline uses on Spark.
    """

    ensure_package_shipped(assets.sparkSession)

    @python_task
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if batch_note is not None:  # test hook: observe batch shapes
                batch_note.append(len(pdf))
            import hashlib

            if deterministic_fake:
                raws = [_raw_features(bytes(p)) for p in pdf["payload"]]
            else:  # loud-fail codec boundary
                raws = [
                    decode_image_stub(bytes(p), deterministic_fake=False)
                    for p in pdf["payload"]
                ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": [len(p) for p in pdf["payload"]],
                    "payload_md5": [
                        hashlib.md5(bytes(p)).hexdigest() for p in pdf["payload"]
                    ],
                    "features": [[round(v, 6) for v in r] for r in raws],
                    # fixed-format serialization of the RAW doubles: the
                    # hashable form cross-engine compares need (raw array
                    # columns are unsortable in pandas canonicalizers)
                    "features_csv": [
                        ",".join(f"{v:.6f}" for v in r) for r in raws
                    ],
                }
            )

    return assets.mapInPandas(kernel, schema=_DECODE_OUT_SCHEMA)


_RESIZE_OUT_SCHEMA = (
    "asset_id long, media_type string, width int, height int, "
    "payload binary, resized_md5 string, pixel_sum long"
)


def bilinear_resize_bytes(
    payload: bytes, src_w: int, target_w: int, target_h: int
) -> bytes:
    """REAL bilinear resample of a payload treated as an 8-bit grayscale
    image (r10, replaces the nearest-neighbor stub): row-major ``src_w``
    pixels wide, height = what the byte length fills (tail partial row
    truncated; empty payload → one black pixel).  Pure numpy float64
    with the half-pixel-centers convention (the PIL/OpenCV default,
    align_corners=False): output pixel (i, j) samples source coordinate
    ((i+0.5)·h/th − 0.5, (j+0.5)·w/tw − 0.5), clamped, 4-tap
    interpolated, floor(v + 0.5) to uint8.  The catalog oracle replays
    this with an INDEPENDENT scalar pure-Python implementation (same
    expression structure, so IEEE doubles agree bit-for-bit) and
    compares md5 + pixel sums per asset."""
    import numpy as np

    b = payload or b"\x00"
    w = max(1, min(src_w, len(b)))
    h = max(1, len(b) // w)
    img = (
        np.frombuffer(b[: w * h], dtype=np.uint8)
        .reshape(h, w)
        .astype(np.float64)
    )
    ys = np.clip((np.arange(target_h) + 0.5) * (h / target_h) - 0.5, 0.0, h - 1.0)
    xs = np.clip((np.arange(target_w) + 0.5) * (w / target_w) - 0.5, 0.0, w - 1.0)
    y0 = np.floor(ys).astype(np.int64)
    x0 = np.floor(xs).astype(np.int64)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    fy = (ys - y0)[:, None]
    fx = (xs - x0)[None, :]
    top = img[y0][:, x0] * (1.0 - fx) + img[y0][:, x1] * fx
    bot = img[y1][:, x0] * (1.0 - fx) + img[y1][:, x1] * fx
    out = top * (1.0 - fy) + bot * fy
    return (
        np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8).tobytes()
    )


def resize_images(
    assets: DataFrame,
    target_w: int,
    target_h: int,
    *,
    deterministic_fake: bool = True,
    default_src_w: int = 64,
) -> DataFrame:
    """Executor-parallel image resize over Arrow batches (mapInPandas).

    The kernel is a REAL pure-numpy bilinear resample over the payload
    as grayscale (``bilinear_resize_bytes``) — source width from the
    asset's ``meta.width`` (falling back to ``default_src_w``).  A real
    deployment swaps the grayscale interpretation for a decoded RGB
    array at the same seam (``decode_image_stub`` is the loud codec
    boundary); the Spark plumbing — binary in/binary out, metadata
    struct updated, Arrow batch shape, content-hash verification — is
    production-real either way.
    """
    ensure_package_shipped(assets.sparkSession)
    has_meta = "meta" in assets.columns

    @python_task
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            outs = []
            metas = pdf["meta"] if has_meta else [None] * len(pdf)
            for p, m in zip(pdf["payload"], metas):
                if not deterministic_fake:
                    decode_image_stub(bytes(p), deterministic_fake=False)
                src_w = default_src_w
                if m is not None and m.get("width"):
                    src_w = int(m["width"])
                outs.append(
                    bilinear_resize_bytes(bytes(p), src_w, target_w, target_h)
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "width": target_w,
                    "height": target_h,
                    "payload": outs,
                    "resized_md5": [hashlib.md5(o).hexdigest() for o in outs],
                    "pixel_sum": [sum(o) for o in outs],
                }
            )

    return assets.mapInPandas(kernel, schema=_RESIZE_OUT_SCHEMA)


_FRAMES_OUT_SCHEMA = (
    "asset_id long, frame_index int, frame_ts_ms long, frame binary"
)


def sample_frames(
    assets: DataFrame,
    every_n: int = 10,
    *,
    fps: int = 30,
    frame_bytes: int = 64,
    deterministic_fake: bool = True,
) -> DataFrame:
    """Frame sampling for video assets: one output ROW per sampled frame
    (1→N explode inside ``mapInPandas`` — the yielded batches simply
    carry more rows than they received, which is the idiomatic Spark
    shape for demux/decode fan-out; downstream repartitions by
    ``asset_id`` if per-video locality is needed).

    Real deployments demux via ffmpeg/PyAV; the deterministic fake
    treats the payload as ``fps`` synthetic 'frames' per payload-KB and
    slices ``frame_bytes`` windows — again: fake pixels, real schema,
    real row-explosion, real timestamps.
    """
    ensure_package_shipped(assets.sparkSession)

    @python_task
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for aid, p in zip(pdf["asset_id"], pdf["payload"]):
                if not deterministic_fake:
                    decode_image_stub(bytes(p), deterministic_fake=False)
                b = bytes(p) or b"\x00"
                n_frames = max(len(b) // frame_bytes, 1)
                for fi in range(0, n_frames, every_n):
                    start = fi * frame_bytes
                    ids.append(aid)
                    idxs.append(fi)
                    tss.append(fi * 1000 // fps)
                    frames.append(b[start : start + frame_bytes] or b"\x00")
            yield pd.DataFrame(
                {
                    "asset_id": ids,
                    "frame_index": idxs,
                    "frame_ts_ms": tss,
                    "frame": frames,
                }
            )

    return assets.mapInPandas(kernel, schema=_FRAMES_OUT_SCHEMA)


def asset_metadata(assets: DataFrame) -> DataFrame:
    """Pure-JVM metadata projection (no decode): sizes + hashes — the
    cheap pass that runs before any codec is scheduled."""
    return assets.select(
        "asset_id",
        "media_type",
        F.length("payload").alias("byte_len"),
        F.md5("payload").alias("payload_md5"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )
