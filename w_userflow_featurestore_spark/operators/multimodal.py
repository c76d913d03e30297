"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decoded/feature-extracted through Arrow-batched Python.

The 100 TB pipeline pattern for image/audio/video: media lives in a
``binary`` column next to typed metadata; decode and feature extraction
run as ``mapInPandas`` stages (Arrow batch transfer, pandas inside), the
ONLY place this engine leaves the JVM — everything else in the library
is Catalyst expressions.

The container has no codec libraries, so the codec-specific inner
functions are STUBS: ``decode="real"`` raises NotImplementedError with
the dependency named; ``decode="fake"`` (default) derives features
deterministically from the payload bytes. The fake keeps the entire
Spark-side contract REAL — schema, UDF signature, Arrow batch shape,
fan-out semantics — and, because it is pure byte arithmetic, even the
Python path has a full DuckDB value oracle.

Scale notes: mapInPandas streams Arrow batches (no per-row pickling);
payload columns should be pruned before any shuffle (decode early,
project the binary away). Frame sampling fans out rows inside the
executor — no shuffle, output partitioning inherits the input.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from w_userflow_featurestore_spark.sources import fan_out

DECODE_SCHEMA = ("media_id long, kind string, n_bytes int, width int, "
                 "height int, duration_ms long, checksum long")

FRAME_SCHEMA = "media_id long, frame_idx int, frame_checksum long"

# Minimum partitions for the Python/Arrow stages (see synthesize_media).
PY_FANOUT_PARTITIONS = 8

_KINDS = ("image", "audio", "video")


def synthesize_media(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Deterministic fake media table from the documents fixture:
    32-byte payload = unhex(md5(text)) || unhex(md5(text || ':2')),
    kind round-robins image/audio/video by id. Stands in for a real
    binary source (S3 blobs, tar shards) with a reproducible payload."""
    kind = (F.when(F.col(id_col) % 3 == 0, "image")
             .when(F.col(id_col) % 3 == 1, "audio")
             .otherwise("video"))
    content = F.concat(
        F.unhex(F.md5(F.col(text_col))),
        F.unhex(F.md5(F.concat(F.col(text_col), F.lit(":2")))))
    # fan_out before synthesis so the hashing AND the downstream Arrow
    # decode stage (narrow, Python-side) run in parallel, not on one
    # split. The target is capped below core count because every extra
    # partition of a mapInPandas stage spawns a Python worker (pandas
    # import + Arrow handshake) — at fixture scale worker spin-up
    # dominates past ~8 partitions; at real scale the input has more
    # splits than this floor and fan_out is a no-op anyway.
    return fan_out(docs.select(F.col(id_col), F.col(text_col)),
                   min_partitions=PY_FANOUT_PARTITIONS) \
        .select(F.col(id_col).alias("media_id"), kind.alias("kind"),
                content.alias("content"))


def _fake_decode_one(kind: str, b: bytes) -> tuple[int, int, int, int, int]:
    """Deterministic byte-arithmetic 'decode' (the stub the real codec
    call replaces): dims from the first payload bytes, additive checksum.
    Kept as the single-row reference the vectorized batch path below is
    property-tested against."""
    width = ((b[0] << 8 | b[1]) % 1024 + 16) if kind in ("image", "video") else 0
    height = ((b[2] << 8 | b[3]) % 1024 + 16) if kind in ("image", "video") else 0
    duration = ((b[4] << 8 | b[5]) * 10) if kind in ("audio", "video") else 0
    return len(b), width, height, duration, sum(b)


def _fake_decode_batch(kinds: np.ndarray,
                       contents: list) -> dict[str, np.ndarray]:
    """Whole-batch twin of :func:`_fake_decode_one` (vectorized numpy
    over the Arrow batch, ~4x the row loop): payloads flattened into one
    uint8 buffer with per-row offsets, dims from the first bytes, the
    checksum a segmented sum (reduceat). A payload shorter than the row
    form reads (images 4 bytes, audio/video 6, any row 1) raises
    ``ValueError``; a 6-byte zero pad keeps the reads a kind mask
    discards inside the buffer."""
    n = len(contents)
    lens = np.fromiter((len(b) for b in contents), dtype=np.int64,
                       count=n)
    vis = (kinds == "image") | (kinds == "video")
    aud = (kinds == "audio") | (kinds == "video")
    if (lens < np.where(aud, 6, np.where(vis, 4, 1))).any():
        raise ValueError(
            "decode_media: empty payload or payload shorter than its "
            "kind needs in batch — images need >= 4 content bytes, "
            "audio/video >= 6, any row >= 1, matching the per-row "
            "decoder")
    flat = np.frombuffer(b"".join(contents), dtype=np.uint8) \
        .astype(np.int64)
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    flat_p = np.concatenate([flat, np.zeros(6, dtype=np.int64)])

    def byte(i: int) -> np.ndarray:
        return flat_p[offs + i]

    width = np.where(vis, (byte(0) << 8 | byte(1)) % 1024 + 16, 0)
    height = np.where(vis, (byte(2) << 8 | byte(3)) % 1024 + 16, 0)
    duration = np.where(aud, (byte(4) << 8 | byte(5)) * 10, 0)
    checksum = np.add.reduceat(flat, offs)
    return {"n_bytes": lens, "width": width, "height": height,
            "duration_ms": duration, "checksum": checksum}


def decode_media(media: DataFrame, decode: str = "fake") -> DataFrame:
    """Binary -> typed features via mapInPandas (Arrow-batched).

    ``decode="real"`` is the production entry point and requires codec
    libraries (PIL / libav) that are deliberately not assumed here.
    """
    if decode == "real":
        raise NotImplementedError(
            "real media decode needs codec libraries (PIL/pillow for "
            "images, soundfile/av for audio/video) — not available in "
            "this environment; use decode='fake' for the deterministic "
            "byte-arithmetic stub")
    if decode != "fake":
        raise ValueError(f"unknown decode mode: {decode!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            feats = _fake_decode_batch(pdf["kind"].to_numpy(),
                                       [bytes(b) for b in pdf["content"]])
            yield pd.DataFrame({"media_id": pdf["media_id"].values,
                                "kind": pdf["kind"].values, **feats})

    return media.mapInPandas(run, schema=DECODE_SCHEMA)


def sample_frames(decoded: DataFrame, fps: float = 1.0,
                  max_frames: int = 5) -> DataFrame:
    """Frame sampling fan-out for video rows: one output row per sampled
    frame (mapInPandas demonstrating the 1->N batch shape). Frame count =
    min(duration_s * fps, max_frames), at least 1; the fake per-frame
    feature is checksum + frame index."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized 1->N fan-out: frame counts
        # per clip, then np.repeat + a segmented arange — no Python
        # row loop
        for pdf in batches:
            vids = pdf[pdf["kind"] == "video"]
            dur = vids["duration_ms"].to_numpy(np.int64)
            cnt = np.maximum(1, np.minimum(
                (dur / 1000.0 * fps).astype(np.int64), max_frames))
            idx = (np.arange(int(cnt.sum()), dtype=np.int64)
                   - np.repeat(np.cumsum(cnt) - cnt, cnt))
            yield pd.DataFrame({
                "media_id": np.repeat(vids["media_id"].to_numpy(np.int64),
                                      cnt),
                "frame_idx": idx,
                "frame_checksum":
                    np.repeat(vids["checksum"].to_numpy(np.int64), cnt)
                    + idx})

    return decoded.mapInPandas(run, schema=FRAME_SCHEMA)


def multimodal_features(docs: DataFrame, decode: str = "fake") -> DataFrame:
    """End-to-end: synthesize payloads -> Arrow decode -> typed features."""
    return decode_media(synthesize_media(docs), decode=decode)


RESIZE_SCHEMA = ("media_id long, width int, height int, out_width int, "
                 "out_height int, resized int, resize_checksum long")

AUDIO_WINDOW_SCHEMA = ("media_id long, window_idx int, start_ms long, "
                       "end_ms long, window_checksum long")


def resize_images(decoded: DataFrame, target_w: int = 224,
                  target_h: int = 224,
                  decode: str = "fake") -> DataFrame:
    """Aspect-preserving fit-resize plan for image rows — the
    preprocessing step in front of a vision encoder. The OUTPUT
    geometry is pure integer arithmetic (width-limited iff
    w*target_h >= h*target_w; the scaled edge uses integer division),
    so the Arrow stage's results are engine-exact and fully
    value-oracle-able — the same discipline as the fake decode.
    ``decode="real"`` (actual pixel resampling via PIL) is stubbed:
    the geometry, batch shape, and schema ARE the real plumbing.

    Rows already inside the target box pass through unresized
    (resized=0, output dims = input dims) — never upscale."""
    if decode == "real":
        raise NotImplementedError(
            "real pixel resampling needs PIL/pillow — not available "
            "here; the geometry computation and Arrow plumbing are the "
            "production path")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized geometry — integer numpy
        # arithmetic, identical to the scalar branch structure: fits
        # pass through, else width- or height-limited integer fit
        for pdf in batches:
            imgs = pdf[pdf["kind"] == "image"]
            w = imgs["width"].to_numpy(np.int64)
            h = imgs["height"].to_numpy(np.int64)
            small = (w <= target_w) & (h <= target_h)
            wlim = w * target_h >= h * target_w
            safe_w = np.maximum(w, 1)       # avoid div-by-0 on the
            safe_h = np.maximum(h, 1)       # not-taken where() branch
            ow = np.where(small, w,
                          np.where(wlim, target_w,
                                   np.maximum(1, (w * target_h)
                                              // safe_h)))
            oh = np.where(small, h,
                          np.where(wlim,
                                   np.maximum(1, (h * target_w)
                                              // safe_w),
                                   target_h))
            yield pd.DataFrame({
                "media_id": imgs["media_id"].to_numpy(np.int64),
                "width": w, "height": h,
                "out_width": ow, "out_height": oh,
                "resized": np.where(small, 0, 1),
                "resize_checksum":
                    imgs["checksum"].to_numpy(np.int64) + ow * 31 + oh})

    return decoded.mapInPandas(run, schema=RESIZE_SCHEMA)


def audio_windows(decoded: DataFrame, window_ms: int = 1000,
                  hop_ms: int = 500) -> DataFrame:
    """Overlapping-window fan-out for audio rows (1 -> N, the STFT /
    feature-extraction framing step): windows start every ``hop_ms``
    while a full ``window_ms`` fits in the clip; a clip shorter than
    one window yields a single truncated window. Deterministic
    per-window checksum rides the decode checksum, so the whole Arrow
    stage is value-oracle-able."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized 1->N framing: window counts
        # per clip, np.repeat + segmented arange for the window index —
        # same shape as sample_frames' fan-out
        for pdf in batches:
            auds = pdf[pdf["kind"] == "audio"]
            dur = auds["duration_ms"].to_numpy(np.int64)
            cnt = np.where(dur <= window_ms, 1,
                           (dur - window_ms) // hop_ms + 1)
            rep_dur = np.repeat(dur, cnt)
            idx = (np.arange(int(cnt.sum()), dtype=np.int64)
                   - np.repeat(np.cumsum(cnt) - cnt, cnt))
            start = idx * hop_ms
            end = np.minimum(start + window_ms, rep_dur)
            yield pd.DataFrame({
                "media_id": np.repeat(auds["media_id"].to_numpy(np.int64),
                                      cnt),
                "window_idx": idx, "start_ms": start, "end_ms": end,
                "window_checksum":
                    np.repeat(auds["checksum"].to_numpy(np.int64), cnt)
                    + start + end * 7})

    return decoded.mapInPandas(run, schema=AUDIO_WINDOW_SCHEMA)
