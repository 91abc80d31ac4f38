"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns with typed metadata structs; the
Spark-side machinery — schemas, batch iteration, partition-preserving
``mapInPandas`` transforms, deterministic batching — is real and tested.  The
codec step itself is stubbed behind ``DECODERS`` because no image/audio
libraries exist in this container: ``decode=fake`` produces a deterministic
pseudo-decode from the bytes (so pipelines are testable end-to-end), and
``decode=strict`` raises ``NotImplementedError`` exactly where a real
libjpeg/ffmpeg call would slot in.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .._worker import task_entry

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, width int, height int, "
    "sample_rate int, n_frames int"
)

FEATURE_SCHEMA = "media_id long, kind string, feature array<float>, feat_dim int"

THUMB_SCHEMA = "media_id long, width int, height int, thumb binary"


def _fake_decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in for a real image decode: bytes -> (h, w) uint8.

    Replace with a libjpeg/Pillow call when the container ships one."""
    raw = np.frombuffer(payload, dtype=np.uint8)
    need = width * height
    reps = int(np.ceil(need / max(len(raw), 1)))
    return np.tile(raw, reps)[:need].reshape(height, width)


def _strict_decode(*_args):
    raise NotImplementedError(
        "No image/audio codec is available in this environment; "
        "wire a real decoder here (e.g. PIL.Image.open / soundfile.read)."
    )


DECODERS = {"fake": _fake_decode_image, "strict": _strict_decode}


def extract_features(df: DataFrame, decode: str = "fake", dim: int = 16) -> DataFrame:
    """Decode each media payload and emit a fixed-dim feature vector
    (histogram of the decoded plane) — one Arrow batch at a time.

    The decode step is per-item by nature (payloads differ in length; a real
    codec call is one item at a time), but everything after it is batched:
    the decoded planes are concatenated flat and ONE ``np.bincount`` over
    ``row_index * dim + bin`` produces every row's histogram (bin membership
    via ``searchsorted`` on the exact ``np.histogram`` edges, so results are
    bit-identical to the per-row form at any ``dim``)."""
    decoder = DECODERS[decode]
    edges = np.histogram_bin_edges(np.empty(0, np.uint8), bins=dim, range=(0, 256))
    # uint8 pixels: a 256-entry lookup table replaces the per-pixel binary
    # search (searchsorted over the flat batch measured SLOWER than the
    # per-row histogram it replaced; the LUT gather is ~20x faster and
    # identical by construction on integer inputs).
    lut = np.clip(
        np.searchsorted(edges, np.arange(256), side="right") - 1, 0, dim - 1
    ).astype(np.int32)

    @task_entry
    def run(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            planes = [
                decoder(payload, int(w), int(h)).ravel()
                for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"])
            ]
            sizes = np.array([p.size for p in planes], dtype=np.int64)
            flat = np.concatenate(planes) if sizes.sum() else np.empty(0, np.uint8)
            # int32 keys + in-place add: half the memory traffic of the
            # int64 form (keys fit easily: n_rows_per_batch * dim << 2^31).
            seg = np.repeat(np.arange(n, dtype=np.int32) * np.int32(dim), sizes)
            if flat.dtype == np.uint8:
                keys = lut[flat]
            else:
                keys = np.clip(
                    np.searchsorted(edges, flat, side="right") - 1, 0, dim - 1
                ).astype(np.int32)
            keys += seg
            counts = np.bincount(keys, minlength=n * dim).reshape(n, dim)
            totals = np.maximum(counts.sum(axis=1, keepdims=True), 1)
            feats = (counts / totals).astype(np.float32)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": list(feats),
                    "feat_dim": dim,
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


def resize(df: DataFrame, out_w: int, out_h: int, decode: str = "fake") -> DataFrame:
    """Nearest-neighbour thumbnail per image (decode -> index-gather -> bytes).

    Decode stays per-item (codec-bound); the gather is batched per distinct
    (width, height) group — one stacked fancy-index per group instead of a
    per-row ``np.ix_``, so the Python-per-row overhead disappears for
    homogeneous media batches (the common crawl case: a handful of standard
    resolutions)."""
    decoder = DECODERS[decode]

    @task_entry
    def run(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ws = pdf["width"].to_numpy(dtype=np.int64)
            hs = pdf["height"].to_numpy(dtype=np.int64)
            planes = [
                decoder(payload, int(w), int(h))
                for payload, w, h in zip(pdf["payload"], ws, hs)
            ]
            thumbs: list = [None] * n
            shapes = np.stack([hs, ws], axis=1)
            _, group_of = np.unique(shapes, axis=0, return_inverse=True)
            for g in range(group_of.max() + 1):
                idxs = np.nonzero(group_of == g)[0]
                h, w = int(hs[idxs[0]]), int(ws[idxs[0]])
                ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
                xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
                stack = np.stack([planes[i] for i in idxs])
                sub = stack[:, ys][:, :, xs]
                for j, i in enumerate(idxs):
                    thumbs[i] = sub[j].tobytes()
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": out_w,
                    "height": out_h,
                    "thumb": thumbs,
                }
            )

    return df.mapInPandas(run, THUMB_SCHEMA)


def sample_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame sampling for video rows: emit one row per kept frame index.
    Pure column algebra (sequence + explode) — the heavy decode happens
    downstream only for kept frames."""
    frames = df.where(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )
    return frames


def synthesize_media(spark, n_rows: int, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests/benchmarks."""
    from ..spatial.pages import _mix  # deterministic splitmix

    @task_entry
    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            kinds = np.where(_mix(ids, seed) % np.uint64(3) == 0, "video",
                             np.where(_mix(ids, seed) % np.uint64(3) == 1, "audio", "image"))
            rows = {
                "media_id": ids,
                "kind": kinds,
                "payload": [(_mix(np.array([i]), seed + 7).tobytes() * 8) for i in ids],
                "width": (16 + (_mix(ids, seed + 1) % np.uint64(16)).astype(np.int32)),
                "height": (16 + (_mix(ids, seed + 2) % np.uint64(16)).astype(np.int32)),
                "sample_rate": np.where(kinds == "audio", 16000, 0).astype(np.int32),
                "n_frames": np.where(kinds == "video",
                                     (_mix(ids, seed + 3) % np.uint64(100)).astype(np.int32), 0),
            }
            yield pd.DataFrame(rows)

    parts = max(spark.sparkContext.defaultParallelism, 1)
    return spark.range(0, n_rows, numPartitions=parts).mapInPandas(gen, MEDIA_SCHEMA)
