"""Multimodal plumbing: Arrow mapInPandas decode + frame fan-out.

Value parity with DuckDB runs in test_oracle_parity.py; here we pin the
contract: stubbed real mode, schema, determinism, fan-out bounds.
"""

from __future__ import annotations

import pytest

from w_userflow_featurestore_spark.operators import multimodal as MM


def _docs(spark):
    return spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta epsilon"), (2, "zeta eta theta")],
        "doc_id long, text string")


def test_real_decode_is_stubbed(spark):
    with pytest.raises(NotImplementedError, match="codec"):
        MM.decode_media(MM.synthesize_media(_docs(spark)), decode="real")
    with pytest.raises(ValueError):
        MM.decode_media(MM.synthesize_media(_docs(spark)), decode="bogus")


def test_decode_schema_and_kind_rules(spark):
    out = {r["media_id"]: r
           for r in MM.multimodal_features(_docs(spark)).collect()}
    assert [f.name for f in MM.multimodal_features(_docs(spark)).schema] == [
        "media_id", "kind", "n_bytes", "width", "height", "duration_ms",
        "checksum"]
    assert (out[0]["kind"], out[1]["kind"], out[2]["kind"]) == (
        "image", "audio", "video")
    assert all(r["n_bytes"] == 32 for r in out.values())
    assert out[0]["duration_ms"] == 0          # images have no duration
    assert out[1]["width"] == 0                # audio has no dims
    assert out[2]["width"] >= 16 and out[2]["height"] >= 16


def test_decode_deterministic(spark):
    a = sorted(map(tuple, MM.multimodal_features(_docs(spark)).collect()))
    b = sorted(map(tuple, MM.multimodal_features(_docs(spark)).collect()))
    assert a == b


def test_frame_fanout_bounds_and_features(spark):
    decoded = MM.multimodal_features(_docs(spark))
    frames = MM.sample_frames(decoded, fps=1.0, max_frames=5).collect()
    assert frames, "video row must yield at least one frame"
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    checks = {r["media_id"]: r["checksum"] for r in decoded.collect()}
    for mid, rs in by_media.items():
        assert 1 <= len(rs) <= 5
        assert sorted(r["frame_idx"] for r in rs) == list(range(len(rs)))
        assert all(r["frame_checksum"] == checks[mid] + r["frame_idx"]
                   for r in rs)
    # only videos fan out
    kinds = {r["media_id"]: r["kind"] for r in decoded.collect()}
    assert all(kinds[m] == "video" for m in by_media)


def test_resize_never_upscales_and_preserves_aspect(spark):
    from w_userflow_featurestore_spark.operators.multimodal import (
        multimodal_features, resize_images,
    )
    docs = spark.createDataFrame(
        [(i * 3, f"text {i}") for i in range(40)],   # ids % 3 == 0 -> image
        "doc_id long, text string")
    out = resize_images(multimodal_features(docs), 224, 224).collect()
    assert out
    for r in out:
        assert r["out_width"] <= 224 and r["out_height"] <= 224
        if r["resized"] == 0:
            assert (r["out_width"], r["out_height"]) == \
                (r["width"], r["height"])
        else:
            # the limiting edge hits the target exactly; the other is
            # integer-scaled (never above true aspect)
            assert r["out_width"] == 224 or r["out_height"] == 224
            assert r["out_width"] * r["height"] <= \
                r["width"] * (r["out_height"] + 1)


def test_audio_windows_cover_clip_with_hop_overlap(spark):
    from w_userflow_featurestore_spark.operators.multimodal import (
        audio_windows, multimodal_features,
    )
    docs = spark.createDataFrame(
        [(i * 3 + 1, f"text {i}") for i in range(40)],  # ids % 3 == 1 -> audio
        "doc_id long, text string")
    decoded = multimodal_features(docs)
    durations = {r["media_id"]: r["duration_ms"]
                 for r in decoded.collect() if r["kind"] == "audio"}
    out = audio_windows(decoded, 1000, 500).collect()
    assert out
    by_id: dict = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert set(by_id) == set(durations)     # every audio clip windowed
    for mid, rows_ in by_id.items():
        rows_.sort(key=lambda r: r["window_idx"])
        assert [r["window_idx"] for r in rows_] == list(range(len(rows_)))
        for r in rows_:
            assert r["start_ms"] == r["window_idx"] * 500
            assert r["end_ms"] <= r["start_ms"] + 1000
        # closed-form count against the TRUE decode duration: dropping
        # the final window (uncovered tail > hop) fails here
        dur = durations[mid]
        want = 1 if dur <= 1000 else (dur - 1000) // 500 + 1
        assert len(rows_) == want


def test_fake_decode_batch_matches_row_form():
    """The vectorized numpy batch decode must be
    value-identical to the per-row reference on every kind and on
    varied payload lengths (incl. the 6-byte minimum the dim bytes
    index)."""
    import random

    from w_userflow_featurestore_spark.operators.multimodal import (
        _fake_decode_batch, _fake_decode_one,
    )
    import numpy as np

    rng = random.Random(12)
    kinds = []
    payloads = []
    for i in range(200):
        kinds.append(("image", "audio", "video")[i % 3])
        payloads.append(bytes(rng.randrange(256)
                              for _ in range(rng.randrange(6, 64))))
    # short payloads the ROW form accepts —
    # a 4-byte image (needs bytes 0-3 only) as the LAST row used to
    # IndexError in the batch form (unmasked byte(4)/byte(5) reads
    # past the flattened buffer), and mid-buffer short rows read their
    # neighbor's bytes. Masked padded reads must equal the row form.
    kinds += ["image", "image"]
    payloads += [bytes([7, 7, 7, 7]), bytes([1, 2, 3, 4])]
    got = _fake_decode_batch(np.array(kinds), payloads)
    for i, (k, b) in enumerate(zip(kinds, payloads)):
        n_bytes, width, height, duration, checksum = _fake_decode_one(k, b)
        assert got["n_bytes"][i] == n_bytes, i
        assert got["width"][i] == width, i
        assert got["height"][i] == height, i
        assert got["duration_ms"][i] == duration, i
        assert got["checksum"][i] == checksum, i

    # a mid-batch short image between audio rows must not read its
    # neighbor's bytes into its own (discarded) duration lane, and an
    # empty payload raises the documented clear error
    import pytest
    got2 = _fake_decode_batch(
        np.array(["audio", "image", "audio"]),
        [bytes(range(6)), bytes([9, 9, 9, 9]), bytes(range(6))])
    assert got2["width"][1] == ((9 << 8 | 9) % 1024 + 16)
    assert got2["duration_ms"][1] == 0
    with pytest.raises(ValueError, match="empty payload"):
        _fake_decode_batch(np.array(["image"]), [b""])


@pytest.mark.parametrize("kind,n", [("image", 1), ("image", 3),
                                    ("audio", 1), ("audio", 5),
                                    ("video", 3), ("video", 5)])
def test_fake_decode_batch_rejects_payloads_the_row_form_rejects(kind, n):
    """A payload too short for its kind's dims raises in the row form
    (IndexError) and must raise in the batch form too, wherever the
    short row sits in the batch, instead of decoding zero-padded or
    neighbouring bytes."""
    import numpy as np

    from w_userflow_featurestore_spark.operators.multimodal import (
        _fake_decode_batch, _fake_decode_one,
    )
    payload = bytes(range(1, n + 1))
    with pytest.raises(IndexError):
        _fake_decode_one(kind, payload)
    full = bytes(range(8))
    for kinds, payloads in (([kind], [payload]),
                            ([kind, "video"], [payload, full]),
                            (["video", kind], [full, payload])):
        with pytest.raises(ValueError, match="shorter than its kind"):
            _fake_decode_batch(np.array(kinds), payloads)
