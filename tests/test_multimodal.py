"""X5 multimodal plumbing tests: schema round-trip, feature
extraction, resize metadata, real codecs and fingerprints. Decode stubs are
deterministic, so outputs are exact."""

from __future__ import annotations

import hashlib

import numpy as np

import pytest

from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.operators import multimodal as MM
from unified_log_aggregation_and_analytics_spark.sources.batch import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = load_table(spark, "documents", SF).limit(30)
    return MM.media_from_documents(docs).cache()


def test_features_deterministic_md5_fold(spark, media):
    out = MM.extract_features(media).filter(F.col("media_id") == 0).collect()[0]
    src = media.filter(F.col("media_id") == 0).collect()[0]
    digest = hashlib.md5(bytes(src.payload)).digest()
    assert out.payload_bytes == len(bytes(src.payload))
    assert [round(x, 6) for x in out.feature] == [
        round(b / 255.0, 6) for b in digest[: MM.FEATURE_DIM]
    ]


def test_resize_updates_image_rows_only(spark, media):
    """media_from_documents carries opaque text-byte 'image' payloads
    — the real decoder can't read them, so resize emits payload=None
    with null geometry (the decode-gate convention) and leaves
    non-image rows untouched."""
    out = MM.resize_media(media, 64, 32)
    rows = out.collect()
    # schema-stable pass (nullability flags may differ)
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in media.schema
    ]
    for r in rows:
        if r.modality == "image":
            assert r.payload is None and r.width is None and r.height is None
        else:
            assert r.payload is not None
            assert r.width is None and r.height is None


def test_resize_rgb_kernels():
    """The deterministic resize kernel both ways: divisible dims →
    integer-sum area average with floor(x+0.5) rounding (hand-checked
    4x4 → 2x2 block means); non-divisible → center-nearest via
    (2i+1)*src // (2*dst) integer indexing (hand-checked 3 → 2)."""
    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    small = MM.resize_rgb(px, 2, 2)
    assert small.shape == (2, 2, 3)
    blk = px[:2, :2, 0].astype(int)
    assert small[0, 0, 0] == int(np.floor(blk.sum() / 4 + 0.5))
    # exactness: every output byte equals its block's rounded mean
    ref = np.floor(
        px.astype(np.int64).reshape(2, 2, 2, 2, 3).sum(axis=(1, 3)) / 4.0 + 0.5
    ).astype(np.uint8)
    assert np.array_equal(small, ref)

    px3 = np.arange(3 * 3 * 3, dtype=np.uint8).reshape(3, 3, 3)
    near = MM.resize_rgb(px3, 2, 2)
    # center mapping for dst=2, src=3: indices (2i+1)*3 // 4 -> 0, 2
    assert np.array_equal(near, px3[np.ix_([0, 2], [0, 2])])

    with pytest.raises(ValueError, match="geometry"):
        MM.resize_rgb(px, 0, 2)


def test_resize_media_real_roundtrip(spark):
    """REAL end-to-end resize: closed-form PPM fixtures decode,
    area-average to 2x2, re-encode as P6 — the decoded output bytes
    equal the numpy reference computed straight from the pixel
    formula, and geometry/mime metadata reflect the new container."""
    docs = load_table(spark, "documents", SF).limit(6)
    media = MM.media_with_ppm(docs, width=4, height=4)
    out = {r.media_id: r for r in MM.resize_media(media, 2, 2).collect()}
    i = np.arange(4 * 4 * 3, dtype=np.int64)
    for d in range(6):
        r = out[d]
        assert (r.width, r.height) == (2, 2)
        assert r.mime == "image/x-portable-pixmap"
        w, h, _maxval, px = MM.decode_ppm(bytes(r.payload))
        assert (w, h) == (2, 2)
        src = ((d * 7 + i * 13) % 256).astype(np.uint8).reshape(4, 4, 3)
        ref = np.floor(
            src.astype(np.int64).reshape(2, 2, 2, 2, 3).sum(axis=(1, 3)) / 4.0 + 0.5
        ).astype(np.uint8)
        assert np.array_equal(px, ref), d


def test_ppm_decode_is_real(spark):
    """The P6 path is a genuine decoder: width/height come from the
    header, channel means from the pixel block — verified against an
    independently computed expectation."""
    docs = load_table(spark, "documents", SF).limit(10)
    media = MM.media_with_ppm(docs, width=4, height=4)
    row = media.filter(F.col("media_id") == 3).collect()[0]
    payload = bytes(row.payload)
    assert payload.startswith(b"P6\n4 4\n255\n")
    stats = {r.media_id: r for r in MM.image_stats(media).collect()}
    for d in range(10):
        exp_r = sum((d * 7 + (3 * j) * 13) % 256 for j in range(16)) / 16
        assert stats[d].width == 4 and stats[d].height == 4
        assert stats[d].mean_r == exp_r
    # and extract_features routes PPM through the real decoder too
    feats = MM.extract_features(media).filter(F.col("media_id") == 3).collect()[0]
    assert feats.feature[0] == 4.0 and feats.feature[1] == 4.0
    assert round(feats.feature[2], 6) == round(stats[3].mean_r, 6)


def test_wav_decode_is_real(spark):
    """The WAV path genuinely walks RIFF chunks: rate/channels/bits
    come from the fmt chunk, frames from the data chunk — verified
    against the synthesis formula and a hand-built 16-bit stereo file."""
    docs = load_table(spark, "documents", SF).limit(8)
    media = MM.media_with_wav(docs)
    stats = {r.media_id: r for r in MM.audio_stats(media).collect()}
    for d in range(8):
        exp_mean = sum((d * 11 + i * 17) % 256 for i in range(64)) / 64
        s = stats[d]
        assert (s.sample_rate, s.n_channels, s.n_frames, s.duration_ms) == (8000, 1, 64, 8)
        assert s.mean_amp == exp_mean
    # hand-built 16-bit stereo WAV exercises dtype + channel math
    import numpy as np

    samples = np.array([100, -100, 200, -200], dtype=np.int16).tobytes()
    fmt = (
        b"fmt \x10\x00\x00\x00" + (1).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + (44100).to_bytes(4, "little") + (176400).to_bytes(4, "little")
        + (4).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    body = b"WAVE" + fmt + b"data" + len(samples).to_bytes(4, "little") + samples
    wav = b"RIFF" + len(body).to_bytes(4, "little") + body
    rate, ch, bits, n_frames, arr = MM.decode_wav(wav)
    assert (rate, ch, bits, n_frames) == (44100, 2, 16, 2)
    assert arr.tolist() == [100, -100, 200, -200]
    assert MM.decode_wav(b"not a wav") is None


def test_non_ppm_image_gated_on_pillow(spark):
    """Contract for the gated-real branch: an image/* payload that is
    not PPM must decode via Pillow when the library exists, and raise
    NotImplementedError (not silently fake) when it does not."""
    import pandas as pd

    fake_png = b"\x89PNG\r\n\x1a\nnotarealimage"
    if MM._HAS_PIL:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (2, 2), (10, 20, 30)).save(buf, format="PNG")
        feats = MM._decode_features(buf.getvalue(), "image/png")
        assert feats[:5] == [2.0, 2.0, 10.0, 20.0, 30.0]
    else:
        with pytest.raises(NotImplementedError, match="Pillow"):
            MM._decode_features(fake_png, "image/png")
    # opaque payloads still use the deterministic stub either way
    stub = MM._decode_features(b"opaque", "application/octet-stream")
    assert stub == [b / 255.0 for b in hashlib.md5(b"opaque").digest()[: MM.FEATURE_DIM]]


def test_png_roundtrip_all_filters():
    """The pure-stdlib PNG codec round-trips every scanline filter
    type and every supported color layout — the decoder's unfilter
    paths (None/Sub/Up/Average/Paeth) each reconstruct exact pixels."""
    import numpy as np

    rng = np.random.RandomState(11)
    for shape in [(4, 4, 3), (7, 5, 3), (1, 1, 3), (6, 3, 1), (5, 4, 4), (3, 8, 2)]:
        px = rng.randint(0, 256, size=shape, dtype=np.uint8)
        for f in range(5):
            w, h, c, out = MM.decode_png(MM.encode_png(px, filter_type=f))
            assert (w, h, c) == (shape[1], shape[0], shape[2])
            assert np.array_equal(out, px), (shape, f)
    assert MM.decode_png(b"not a png") is None


def test_png_unsupported_is_loud():
    """16-bit / interlaced PNGs must raise, never silently skip: a
    corpus of unsupported files should fail the job, not vanish."""
    import numpy as np

    data = bytearray(MM.encode_png(np.zeros((2, 2, 3), dtype=np.uint8)))
    ihdr_depth = 8 + 4 + 4 + 8  # magic + len + type + w + h
    data[ihdr_depth] = 16
    with pytest.raises(NotImplementedError, match="depth=16"):
        MM.decode_png(bytes(data))


def test_png_image_stats_match_ppm(spark):
    """Compressed-decode certificate: PNG-encoded closed-form pixels
    (filters cycling by doc_id) decode to EXACTLY the stats the PPM
    path reports — inflate + unfilter reconstruct the pixel bytes."""
    docs = load_table(spark, "documents", "/root/testdata/sf0.001").limit(40)
    ppm = MM.image_stats(MM.media_with_ppm(docs, 4, 4)).collect()
    png = MM.image_stats(MM.media_with_png(docs, 4, 4)).collect()
    assert sorted(map(tuple, png)) == sorted(map(tuple, ppm))
    assert len(png) == 40


@pytest.mark.skipif(not MM._HAS_PIL, reason="Pillow not installed")
def test_jpeg_image_stats_with_pillow(spark):
    """Pillow-gated general decode (ADVICE r4 item 8): when Pillow is
    present, image_stats and extract_features decode a real JPEG —
    width/height from the codec, channel means matching Pillow's own
    decode of the same bytes. Skipped (not silently faked) where
    Pillow is absent."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (8, 6), (200, 30, 60)).save(buf, "JPEG", quality=95)
    payload = buf.getvalue()
    exp = np.asarray(
        Image.open(io.BytesIO(payload)).convert("RGB"), dtype=np.float64
    ).reshape(-1, 3).mean(axis=0)

    rows = [(1, "image", payload, "image/jpeg", None, None, None)]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    stats = MM.image_stats(media).collect()[0]
    assert (stats.width, stats.height) == (8, 6)
    assert abs(stats.mean_r - exp[0]) < 1e-9
    assert abs(stats.mean_g - exp[1]) < 1e-9
    assert abs(stats.mean_b - exp[2]) < 1e-9

    feats = MM.extract_features(media).collect()[0].feature
    assert feats[0] == 8.0 and feats[1] == 6.0
    assert abs(feats[2] - exp[0]) < 1e-9


def test_dhash_matches_python_reference_and_invariances(spark):
    """Spark's image_dhash equals the plain-Python dhash64 on real
    decoded pixels; a +20 brightness shift moves zero bits (dHash
    compares neighbors, not levels); heavy noise on one region moves
    only a few bits; an unrelated image is far."""
    docs = load_table(spark, "documents", SF).limit(12)
    media = MM.media_with_ppm_groups(docs, width=16, height=16)
    got = {r.media_id: r.dhash for r in MM.image_dhash(media).collect()}
    for r in media.collect():
        dec = MM._decode_rgb(bytes(r.payload))
        assert got[r.media_id] == MM.dhash64(dec[2])

    rng = np.random.default_rng(7)
    base = rng.integers(0, 200, (16, 16, 3)).astype(np.uint8)
    h0 = MM.dhash64(base)
    assert MM.dhash64(np.clip(base.astype(int) + 20, 0, 255).astype(np.uint8)) == h0
    noisy = base.copy()
    noisy[0, :4] = 255 - noisy[0, :4]
    near = bin((MM.dhash64(noisy) ^ h0) & ((1 << 64) - 1)).count("1")
    assert 0 < near <= 6
    other = rng.integers(0, 255, (16, 16, 3)).astype(np.uint8)
    far = bin((MM.dhash64(other) ^ h0) & ((1 << 64) - 1)).count("1")
    assert far > 12


def test_image_near_dup_group_structure(spark):
    """On the grouped fixture every within-group pair is found at the
    loose radius (planted perturbations are small), pair hamming
    values match a Python-reference recomputation, and identical
    payloads always pair at hamming 0."""
    docs = load_table(spark, "documents", SF).limit(24)
    media = MM.media_with_ppm_groups(docs, group_size=4, width=16, height=16)
    pairs = MM.image_near_dup(media, max_hamming=10).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    hashes = {r.media_id: r.dhash for r in MM.image_dhash(media).collect()}
    for (a, b), hv in got.items():
        assert a < b
        ref = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
        assert hv == ref <= 10
    within = {(a, b) for (a, b) in got if a // 4 == b // 4}
    all_within = {
        (g * 4 + i, g * 4 + j)
        for g in range(6)
        for i in range(4)
        for j in range(i + 1, 4)
    }
    missed = {
        p
        for p in all_within - within
        if bin((hashes[p[0]] ^ hashes[p[1]]) & ((1 << 64) - 1)).count("1") <= 10
    }
    assert not missed, f"banding missed within-radius pairs: {missed}"

    # exact duplicates: same payload twice -> hamming 0 pair
    dup = media.limit(1).union(
        media.limit(1).withColumn("media_id", F.col("media_id") + 1000)
    )
    dpairs = MM.image_near_dup(dup, max_hamming=0).collect()
    assert len(dpairs) == 1 and dpairs[0].hamming == 0


def test_audio_fingerprint_reference_and_gain_invariance(spark):
    """Spark's audio_hash equals the Python audio_fingerprint64 on
    decoded mono samples; scaling amplitude moves zero bits (the
    print compares energy transitions, not levels); a different tone
    mixture is far."""
    docs = load_table(spark, "documents", SF).limit(8)
    media = MM.media_with_wav_groups(docs)
    got = {r.media_id: r.afp for r in MM.audio_hash(media).collect()}
    for r in media.collect():
        _, ch, _, n_frames, arr = MM.decode_wav(bytes(r.payload))
        mono = arr[: n_frames * ch].reshape(n_frames, ch).astype(np.float64).mean(axis=1)
        assert got[r.media_id] == MM.audio_fingerprint64(mono)

    i = np.arange(512, dtype=np.float64)
    a = np.sin(2 * np.pi * 5 * i / 64) + 0.5 * np.sin(2 * np.pi * 17 * i / 64)
    h0 = MM.audio_fingerprint64(a)
    assert MM.audio_fingerprint64(a * 3.7) == h0
    b = np.sin(2 * np.pi * 9 * i / 64) + 0.5 * np.sin(2 * np.pi * 29 * i / 64)
    far = bin((MM.audio_fingerprint64(b) ^ h0) & ((1 << 64) - 1)).count("1")
    assert far > 10


def test_audio_near_dup_group_separation(spark):
    """On the grouped tone fixture the banded join returns only
    same-group pairs at the certificate radius, with hamming values
    matching a reference recomputation."""
    docs = load_table(spark, "documents", SF).limit(24)
    media = MM.media_with_wav_groups(docs, group_size=4)
    pairs = MM.audio_near_dup(media, max_hamming=8).collect()
    assert pairs, "no audio near-dups found on the planted fixture"
    hashes = {r.media_id: r.afp for r in MM.audio_hash(media).collect()}
    for r in pairs:
        assert r.id_a // 4 == r.id_b // 4, "cross-group pair at tight radius"
        ref = bin((hashes[r.id_a] ^ hashes[r.id_b]) & ((1 << 64) - 1)).count("1")
        assert r.hamming == ref <= 8


def test_fingerprint_paths_never_crash_on_garbage(spark):
    """Arbitrary bytes through the fingerprint operators: undecodable
    payloads DROP (inner dedup semantics), they never raise — the
    decode gate contract the streaming media pipeline relies on."""
    import random

    rng = random.Random(11)
    junk = [bytes(rng.randrange(256) for _ in range(n)) for n in (0, 1, 7, 100, 4096)]
    junk += [b"P6\n", b"P6\nbroken", b"RIFF1234WAVE", PNG_SIG_PREFIX := b"\x89PNG\r\n\x1a\n" + b"\x00" * 8]
    rows = [(i, "image", p, None, None, None, None) for i, p in enumerate(junk)]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    assert MM.image_dhash(media).count() == 0
    assert MM.audio_hash(media).count() == 0
    assert MM.image_near_dup(media).count() == 0


def test_y4m_roundtrip_and_colorspaces():
    """encode_y4m -> decode_y4m reconstructs exact luma frames; the
    parser also handles 422/444/mono chroma layouts and a non-default
    frame rate."""
    frames = np.arange(2 * 4 * 6, dtype=np.uint8).reshape(2, 4, 6)
    w, h, fn, fd, fr = MM.decode_y4m(MM.encode_y4m(frames, fps_num=30, fps_den=1))
    assert (w, h, fn, fd) == (6, 4, 30, 1)
    assert len(fr) == 2 and all((fr[i] == frames[i]).all() for i in range(2))

    # hand-built streams in other colorspaces
    luma = bytes(range(16))
    for cs, chroma_n in (("422", 16), ("444", 32), ("mono", 0)):
        raw = (
            f"YUV4MPEG2 W4 H4 F24:1 C{cs}\n".encode()
            + b"FRAME\n"
            + luma
            + bytes(chroma_n)
        )
        dec = MM.decode_y4m(raw)
        assert dec is not None, cs
        assert dec[4][0].tobytes() == luma


def test_y4m_decode_gate_malformed():
    """The decode gate: truncated payloads, wrong magic, and missing
    FRAME markers yield None (and null stats downstream), never an
    exception."""
    good = MM.encode_y4m(np.zeros((1, 4, 4), dtype=np.uint8))
    assert MM.decode_y4m(good) is not None
    assert MM.decode_y4m(b"") is None
    assert MM.decode_y4m(b"RIFF" + good[4:]) is None
    assert MM.decode_y4m(good[:-3]) is None  # truncated chroma
    assert MM.decode_y4m(good.replace(b"FRAME", b"FRAMX")) is None
    assert MM.decode_y4m(b"YUV4MPEG2 W4 H4 F25:1 Cbogus\nFRAME\n" + bytes(24)) is None


def test_video_stats_null_for_non_y4m(spark):
    """video_stats emits null stats for undecodable payloads and real
    stats for Y4M rows in the same frame — the decode-gate
    convention."""
    import pandas as pd

    y4m = MM.encode_y4m(np.full((2, 4, 4), 7, dtype=np.uint8))
    pdf = pd.DataFrame(
        {
            "media_id": [1, 2],
            "modality": ["video", "video"],
            "payload": [y4m, b"\x00\x01garbage"],
            "mime": ["video/x-yuv4mpeg", "video/mp4"],
            "width": pd.Series([None, None], dtype="Int32"),
            "height": pd.Series([None, None], dtype="Int32"),
            "duration_ms": pd.Series([80, 80], dtype="Int64"),
        }
    )
    df = spark.createDataFrame(pdf, schema=MM.MEDIA_SCHEMA)
    rows = {r["media_id"]: r for r in MM.video_stats(df).collect()}
    assert rows[1]["n_frames"] == 2 and rows[1]["mean_luma"] == 7.0
    assert rows[1]["width"] == 4 and rows[1]["fps_num"] == 25
    assert rows[2]["n_frames"] is None and rows[2]["mean_luma"] is None


# --- media routing certificate (multimodal_ingest_report) -------------


def _fixture_base_px(g: int, width: int = 16, height: int = 16) -> np.ndarray:
    npx = width * height * 3
    i = np.arange(npx, dtype=np.uint64)
    return (
        (MM._splitmix64(np.uint64(g * npx) + i) >> np.uint64(32))
        & np.uint64(0xFF)
    ).astype(np.uint8)


def test_routing_fixture_distance_distribution():
    """Pin the fixture's two design claims EMPIRICALLY (round 6 shipped
    them as unverified docstring assertions and both were false):
    (a) every near variant sits at dHash Hamming 1-2 from its base —
    nonzero (so the banded perceptual stage, not exact-hash equality,
    must catch it) and inside the bands=4 pigeonhole radius (<=3);
    (b) cross-group base distances behave ~Binomial(64,1/2): at the
    sf0.1 gate scale (1250 groups, ~780k pairs) the minimum pairwise
    distance clears the blocking radius with a wide margin."""
    width = height = 16
    G = 1250  # sf0.1: 5000 docs / 4
    row_g = np.array_split(np.arange(height), 8)[3]
    col_left = np.array_split(np.arange(width), 9)[3]
    col_cell = np.array_split(np.arange(width), 9)[4]

    def cell_idx(cols):
        yy, xx = np.meshgrid(row_g, cols, indexing="ij")
        base = (yy.ravel() * width + xx.ravel()) * 3
        return np.concatenate([base, base + 1, base + 2])

    idx_left, idx_cell = cell_idx(col_left), cell_idx(col_cell)

    hashes = np.empty(G, dtype=np.uint64)
    near_d = np.empty(G, dtype=np.int64)
    for g in range(G):
        px = _fixture_base_px(g, width, height)
        h = MM.dhash64(px.reshape(height, width, 3))
        hashes[g] = np.uint64(h & 0xFFFFFFFFFFFFFFFF)
        near = px.copy()
        bit = near[idx_cell].mean() > near[idx_left].mean()
        near[idx_cell] = 0 if bit else 255
        h2 = MM.dhash64(near.reshape(height, width, 3))
        near_d[g] = bin((h ^ h2) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert near_d.min() >= 1 and near_d.max() <= 2, (
        f"near-variant distances outside [1,2]: {np.bincount(near_d)}"
    )
    # vectorized pairwise popcount via byte-level unpack
    xor = hashes[:, None] ^ hashes[None, :]
    bits = np.unpackbits(xor.view(np.uint8).reshape(G, G, 8), axis=2)
    d = bits.sum(axis=2)
    iu = np.triu_indices(G, 1)
    pd_ = d[iu]
    assert pd_.min() > 8, f"cross-group min distance {pd_.min()} too close to radius 3"
    assert 28 <= pd_.mean() <= 36, f"mean {pd_.mean():.1f} not ~Binomial(64,1/2)"


def test_media_ingest_report_routing_census(spark):
    """End-to-end routing certificate on 20 groups: every outcome is
    id-arithmetic (base=ingested, copy=duplicate, near=near_duplicate,
    truncated=undecodable) and the census is exactly 20/20/20/20."""
    docs = load_table(spark, "documents", SF).filter(F.col("doc_id") < 80)
    media = MM.media_routing_fixture(docs, width=16, height=16)
    rows = MM.media_ingest_report(media).collect()
    assert len(rows) == 80
    expect = {0: "ingested", 1: "duplicate", 2: "near_duplicate", 3: "undecodable"}
    bad = [
        (r["media_id"], r["outcome"])
        for r in rows
        if r["outcome"] != expect[r["media_id"] % 4]
    ]
    assert not bad, f"mis-routed: {bad[:10]}"


def test_frame_diff_keyframes_hand_computed(spark):
    """Keyframe detection: hand-built 3-frame video — a flat pair
    (diff 0, not key) then a jump (diff 50, key); frame 0 never
    emitted; undecodable payloads skipped."""
    import pandas as pd

    frames = np.stack([
        np.full((4, 4), 10, dtype=np.uint8),
        np.full((4, 4), 10, dtype=np.uint8),
        np.full((4, 4), 60, dtype=np.uint8),
    ])
    y4m = MM.encode_y4m(frames)
    pdf = pd.DataFrame(
        {
            "media_id": [1, 2],
            "modality": ["video", "video"],
            "payload": [y4m, b"not-a-video"],
            "mime": ["video/x-yuv4mpeg", "video/mp4"],
            "width": pd.Series([None, None], dtype="Int32"),
            "height": pd.Series([None, None], dtype="Int32"),
            "duration_ms": pd.Series([120, 120], dtype="Int64"),
        }
    )
    df = spark.createDataFrame(pdf, schema=MM.MEDIA_SCHEMA)
    rows = {(r["media_id"], r["frame_idx"]): r
            for r in MM.frame_diff_keyframes(df, threshold=15.0).collect()}
    assert set(rows) == {(1, 1), (1, 2)}
    assert rows[(1, 1)]["luma_diff"] == 0.0 and not rows[(1, 1)]["is_key"]
    assert rows[(1, 2)]["luma_diff"] == 50.0 and rows[(1, 2)]["is_key"]


def test_audio_energy_windows_hand_computed(spark):
    """Audio segmentation: hand-built WAV — a silent window (all 128,
    energy 0, inactive) then a loud one (alternating 28/228, energy
    100, active); trailing partial window dropped; undecodable
    payloads skipped."""
    import pandas as pd

    samples = np.concatenate([
        np.full(16, 128, dtype=np.uint8),
        np.tile(np.array([28, 228], dtype=np.uint8), 8),
        np.full(5, 255, dtype=np.uint8),  # partial window: dropped
    ])
    data = samples.tobytes()
    fmt = (b"fmt \x10\x00\x00\x00" + (1).to_bytes(2, "little")
           + (1).to_bytes(2, "little") + (8000).to_bytes(4, "little")
           + (8000).to_bytes(4, "little") + (1).to_bytes(2, "little")
           + (8).to_bytes(2, "little"))
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    wav = b"RIFF" + len(body).to_bytes(4, "little") + body
    pdf = pd.DataFrame(
        {
            "media_id": [1, 2],
            "modality": ["audio", "audio"],
            "payload": [wav, b"not-audio"],
            "mime": ["audio/wav", "audio/wav"],
            "width": pd.Series([None, None], dtype="Int32"),
            "height": pd.Series([None, None], dtype="Int32"),
            "duration_ms": pd.Series([None, None], dtype="Int64"),
        }
    )
    df = spark.createDataFrame(pdf, schema=MM.MEDIA_SCHEMA)
    rows = {(r["media_id"], r["window_idx"]): r
            for r in MM.audio_energy_windows(df, threshold=64.0).collect()}
    assert set(rows) == {(1, 0), (1, 1)}
    assert rows[(1, 0)]["energy"] == 0.0 and not rows[(1, 0)]["is_active"]
    assert rows[(1, 1)]["energy"] == 100.0 and rows[(1, 1)]["is_active"]


def test_jpeg_roundtrip_bounds_and_exact_constant():
    """Native baseline JPEG codec (encode_jpeg/decode_jpeg): constant
    even-gray blocks reconstruct EXACTLY under the flat-16 quant table
    (the property the multimodal_image_stats_jpeg oracle relies on);
    arbitrary content reconstructs within the quantization error
    bound; odd dimensions exercise edge-replicate padding + crop."""
    for g in (0, 2, 100, 254):
        px = np.full((16, 16), g, dtype=np.uint8)
        w, h, c, out = MM.decode_jpeg(MM.encode_jpeg(px))
        assert (w, h, c) == (16, 16, 1)
        assert np.all(out == g)

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (24, 17), dtype=np.uint8)  # h=24, w=17
    w, h, c, out = MM.decode_jpeg(MM.encode_jpeg(px))
    assert (w, h, c) == (17, 24, 1)
    # flat-16 quantization: per-coefficient error <= 8, concentrated
    # by the IDCT; generous envelope that still catches table/zigzag
    # transposition bugs (those produce ~100+ errors)
    assert np.abs(out[:, :, 0].astype(int) - px.astype(int)).max() <= 40

    rgb = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    w, h, c, out = MM.decode_jpeg(MM.encode_jpeg(rgb))
    assert (w, h, c) == (16, 16, 3)
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 60


def test_jpeg_encode_tiny_qtable_clamps_not_keyerror():
    """An all-1s qtable quantizes AC coefficients past the fixed
    Huffman alphabet's 10-bit ceiling (and extreme DC swings past the
    11-bit one). The encoder must CLAMP to the alphabet instead of
    KeyError-ing deep in the bit writer — the stream stays decodable
    and near-lossless for content whose coefficients fit, and the
    worst offender (a 0/255 checkerboard, whose highest-frequency AC
    coefficient exceeds 1023 at q=1) still round-trips with correct
    geometry."""
    ones = np.ones((8, 8), dtype=np.int32)

    # benign content at q=1: effectively lossless
    rng = np.random.default_rng(9)
    px = rng.integers(64, 192, (16, 16), dtype=np.uint8)  # mid-range: small ACs
    w, h, c, out = MM.decode_jpeg(MM.encode_jpeg(px, qtable=ones))
    assert (w, h, c) == (16, 16, 1)
    assert np.abs(out[:, :, 0].astype(int) - px.astype(int)).max() <= 2

    # adversarial content: checkerboard maxes the hi-freq AC; before
    # the clamp this raised KeyError from the AC Huffman table
    cb = np.indices((16, 16)).sum(axis=0) % 2 * 255
    enc = MM.encode_jpeg(cb.astype(np.uint8), qtable=ones)
    w, h, c, out = MM.decode_jpeg(enc)
    assert (w, h, c) == (16, 16, 1)

    # DC swing: alternating all-black / all-white 8x8 blocks drives
    # the DC diff to +/-2048 at q=1 — clamped to the 11-bit alphabet
    stripes = np.zeros((8, 32), dtype=np.uint8)
    stripes[:, 8:16] = 255
    stripes[:, 24:32] = 255
    w, h, c, out = MM.decode_jpeg(MM.encode_jpeg(stripes, qtable=ones))
    assert (w, h, c) == (32, 8, 1)
    # clamp costs at most 1 quantization step of DC per block
    assert np.abs(out[:, :, 0].astype(int) - stripes.astype(int)).max() <= 16


def test_jpeg_encode_deterministic_golden():
    """Byte-identical encodes across runs/hosts: the fixture path must
    be reproducible for the driver's hash gate."""
    px = np.arange(256, dtype=np.uint8).reshape(16, 16)
    a = MM.encode_jpeg(px)
    b = MM.encode_jpeg(px)
    assert a == b
    assert a.startswith(b"\xff\xd8\xff\xe0") and a.endswith(b"\xff\xd9")
    # stable digest pins the whole marker+entropy layout
    assert hashlib.md5(a).hexdigest() == hashlib.md5(b).hexdigest()


def test_jpeg_decode_gates_and_none():
    """Non-JPEG payloads -> None (dispatch order in _decode_rgb);
    non-baseline streams raise LOUDLY instead of decoding garbage."""
    assert MM.decode_jpeg(b"not a jpeg") is None
    assert MM.decode_jpeg(None) is None

    px = np.full((8, 8), 100, dtype=np.uint8)
    good = MM.encode_jpeg(px)

    # progressive: flip the SOF0 marker (FFC0) to SOF2 (FFC2)
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError, match="non-baseline"):
        MM.decode_jpeg(prog)

    # sampling factors beyond 2 (legal but exotic): patch the
    # sampling byte in a 3-comp SOF to 3x3
    rgb = MM.encode_jpeg(np.full((8, 8, 3), 99, dtype=np.uint8))
    i = rgb.find(b"\xff\xc0")
    seglen = int.from_bytes(rgb[i + 2 : i + 4], "big")
    body = bytearray(rgb[i + 4 : i + 2 + seglen])
    body[7] = 0x33  # comp 1: 3x3 sampling
    sub = rgb[: i + 4] + bytes(body) + rgb[i + 2 + seglen :]
    with pytest.raises(NotImplementedError, match="sampling factors"):
        MM.decode_jpeg(sub)


def test_jpeg_420_subsampled_roundtrip():
    """4:2:0 — the layout virtually every real-world JPEG uses:
    4-Y + Cb + Cr MCUs, 2x2-mean chroma downsample on encode,
    nearest-neighbor upsample on decode. Constant color survives
    within YCbCr rounding; smooth content within the chroma-halving
    band; odd dimensions exercise MCU padding + crop."""
    px = np.full((16, 16, 3), (200, 50, 120), dtype=np.uint8)
    w, h, c, out = MM.decode_jpeg(MM.encode_jpeg(px, subsample="420"))
    assert (w, h, c) == (16, 16, 3)
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 2

    x = np.linspace(0, 255, 32)
    g = np.stack(
        np.meshgrid(x, x) + [np.full((32, 32), 77.0)], axis=2
    ).astype(np.uint8)
    w, h, c, out = MM.decode_jpeg(MM.encode_jpeg(g, subsample="420"))
    assert np.abs(out.astype(int) - g.astype(int)).mean() < 6

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, (19, 21, 3), dtype=np.uint8)  # h=19, w=21
    w, h, c, out = MM.decode_jpeg(MM.encode_jpeg(px, subsample="420"))
    assert (w, h, c) == (21, 19, 3)
    # luma channel-mix bound holds even with quartered chroma
    lum_in = px.astype(float).mean(axis=2)
    lum_out = out.astype(float).mean(axis=2)
    assert np.abs(lum_in - lum_out).mean() < 25


def test_jpeg_stats_through_decode_rgb(spark):
    """media_with_jpeg -> image_stats end to end on Spark: constant
    fixture means equal the closed form (the catalog oracle's claim,
    checked here at sf0.001 without DuckDB)."""
    docs = load_table(spark, "documents", SF).limit(12)
    stats = MM.image_stats(MM.media_with_jpeg(docs)).collect()
    assert len(stats) == 12
    for r in stats:
        g = 2 * ((r.media_id * 13) % 128)
        assert (r.width, r.height) == (16, 16)
        assert r.mean_r == r.mean_g == r.mean_b == float(g), r


def test_jpeg_restart_intervals_decode_identically():
    """DRI/RSTn restart markers (what real encoders emit for error
    resilience): the restart stream must decode byte-identically to
    the same image without restarts — byte-aligned segments, DC
    predictors reset per interval, in gray, 4:2:0 color, and the
    degenerate every-MCU interval."""
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (40, 40), dtype=np.uint8)
    enc = MM.encode_jpeg(px, restart_interval=3)
    assert b"\xff\xdd" in enc and b"\xff\xd0" in enc  # DRI + RST0
    assert np.array_equal(
        MM.decode_jpeg(enc)[3], MM.decode_jpeg(MM.encode_jpeg(px))[3]
    )

    rgb = rng.integers(0, 256, (33, 47, 3), dtype=np.uint8)
    assert np.array_equal(
        MM.decode_jpeg(MM.encode_jpeg(rgb, subsample="420", restart_interval=2))[3],
        MM.decode_jpeg(MM.encode_jpeg(rgb, subsample="420"))[3],
    )

    small = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    assert np.array_equal(
        MM.decode_jpeg(MM.encode_jpeg(small, restart_interval=1))[3],
        MM.decode_jpeg(MM.encode_jpeg(small))[3],
    )

    # a stream that PROMISES restarts but lacks the markers is loud
    # (either the explicit missing-restart gate or a Huffman desync —
    # both NotImplementedError, never silent garbage)
    bad = MM.encode_jpeg(px, restart_interval=3)
    i = bad.find(b"\xff\xd0")
    with pytest.raises(NotImplementedError):
        MM.decode_jpeg(bad[:i] + bad[i + 2 :])  # strip the first RST


def test_mjpeg_avi_roundtrip_and_gates():
    """Native MJPEG-AVI codec: constant even-gray frames survive the
    RIFF walk + per-frame JPEG decode EXACTLY (the closed-form oracle
    property); arbitrary frames within the JPEG envelope; fps carried
    through strh dwRate/dwScale; garbage / truncation / non-AVI
    payloads return None (decode-gate, never a crash)."""
    frames = [np.full((16, 16), g, dtype=np.uint8) for g in (100, 40, 216)]
    avi = MM.encode_mjpeg_avi(frames, fps_num=25)
    assert avi.startswith(b"RIFF") and avi[8:12] == b"AVI "
    w, h, fn, fd, out = MM.decode_mjpeg_avi(avi)
    assert (w, h, fn, fd, len(out)) == (16, 16, 25, 1, 3)
    for o, f in zip(out, frames):
        assert np.array_equal(o, f)

    rng = np.random.default_rng(3)
    noisy = [rng.integers(0, 256, (24, 16), dtype=np.uint8) for _ in range(2)]
    w, h, fn, fd, out = MM.decode_mjpeg_avi(MM.encode_mjpeg_avi(noisy, fps_num=30))
    assert (w, h, fn, fd) == (16, 24, 30, 1)
    assert all(
        np.abs(o.astype(int) - f.astype(int)).max() <= 128
        for o, f in zip(out, noisy)
    )

    assert MM.decode_mjpeg_avi(b"not avi") is None
    assert MM.decode_mjpeg_avi(b"RIFFxxxxAVI ") is None
    assert MM.decode_mjpeg_avi(avi[: len(avi) // 2]) is None  # truncated
    # _decode_video dispatch: Y4M first, MJPEG second, both reachable
    assert MM._decode_video(avi) is not None
    y4m = MM.encode_y4m(np.zeros((1, 4, 4), dtype=np.uint8), 25, 1)
    assert MM._decode_video(y4m) is not None


def test_mjpeg_video_stats_and_keyframes(spark):
    """Compressed-video operators end to end on Spark: video_stats
    and frame_diff_keyframes over MJPEG-AVI payloads equal the
    fixture's closed form (the catalog oracles' claim, checked at
    sf0.001 without DuckDB); the streaming decode gate passes MJPEG
    video."""
    docs = load_table(spark, "documents", SF).limit(10)
    media = MM.media_with_mjpeg(docs)
    stats = {r.media_id: r for r in MM.video_stats(media).collect()}
    for d in range(10):
        n = 1 + d % 4
        lumas = [2 * ((d * 17 + f * 29) % 128) for f in range(n)]
        s = stats[d]
        assert (s.width, s.height, s.fps_num, s.fps_den, s.n_frames) == (
            16, 16, 25, 1, n,
        )
        assert s.mean_luma == round(sum(lumas) / n, 6), (d, s)
    kf = MM.frame_diff_keyframes(media, threshold=15.0).collect()
    for r in kf:
        g = lambda f: 2 * ((r.media_id * 17 + f * 29) % 128)
        assert r.luma_diff == float(abs(g(r.frame_idx) - g(r.frame_idx - 1)))
    gate = {r.media_id: r.decode_ok for r in MM.media_gate_hash(media).collect()}
    assert all(gate.values()) and len(gate) == 10


def test_ffmpeg_video_gate_loud_when_absent():
    """decode_video_ffmpeg (the inter-frame-codec twin of the native
    video path) must raise LOUDLY when the ffmpeg binary is absent —
    the Pillow-gate convention, never silent degradation. Skipped on
    hosts that DO have ffmpeg (there the e2e below runs instead)."""
    if MM._ffmpeg_bin() is not None:
        pytest.skip("ffmpeg present: the loud-gate branch is unreachable")
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        MM.decode_video_ffmpeg(b"\x00\x00\x00\x18ftypmp42")


def test_ffmpeg_video_plumbing_via_injected_runner(spark):
    """The ffmpeg seam end to end WITHOUT the binary: a fake runner
    that transcodes MJPEG-AVI → Y4M exactly the way ffmpeg would
    (decode frames, re-emit as yuv4mpegpipe) drives video_stats and
    frame_diff_keyframes through decode_video_ffmpeg — schema, batch
    shape, fps propagation, and values must be IDENTICAL to the
    native path (Y4M is lossless, so the transcode hop preserves
    every luma byte)."""

    def fake_ffmpeg(data: bytes) -> bytes:
        dec = MM.decode_mjpeg_avi(data)
        if dec is None:
            return b""  # ffmpeg-can't-decode → empty stdout
        w, h, fn, fd, frames = dec
        return MM.encode_y4m(np.stack(frames), fps_num=fn, fps_den=fd)

    def via_ffmpeg(payload):
        return MM.decode_video_ffmpeg(payload, runner=fake_ffmpeg)

    docs = load_table(spark, "documents", SF).limit(8)
    media = MM.media_with_mjpeg(docs)

    native = sorted(map(tuple, MM.video_stats(media).collect()))
    gated = sorted(map(tuple, MM.video_stats(media, decode=via_ffmpeg).collect()))
    assert native == gated and native

    nk = sorted(map(tuple, MM.frame_diff_keyframes(media).collect()))
    gk = sorted(
        map(tuple, MM.frame_diff_keyframes(media, decode=via_ffmpeg).collect())
    )
    assert nk == gk and nk

    # undecodable payload routes to null stats, not a crash
    bad = media.limit(1).withColumn("payload", F.lit(b"not a video"))
    row = MM.video_stats(bad, decode=via_ffmpeg).collect()[0]
    assert row.n_frames is None and row.mean_luma is None


def test_ffmpeg_video_real_binary_e2e(spark):
    """Real-ffmpeg cross-check (runs only where the binary exists):
    ffmpeg decodes our MJPEG-AVI fixture through the gated path;
    geometry, frame count, and fps must match the native decode
    exactly, per-frame luma within JPEG-decoder tolerance (ffmpeg's
    IDCT differs from ours in low bits)."""
    if MM._ffmpeg_bin() is None:
        pytest.skip("ffmpeg not on PATH")
    frames = np.stack(
        [np.full((16, 16), 40 * f + 20, dtype=np.uint8) for f in range(3)]
    )
    avi = MM.encode_mjpeg_avi(frames, fps_num=30)
    native = MM.decode_mjpeg_avi(avi)
    gated = MM.decode_video_ffmpeg(avi)
    assert gated is not None
    assert (gated[0], gated[1], gated[2], gated[3]) == native[:4]
    assert len(gated[4]) == len(native[4])
    for a, b in zip(gated[4], native[4]):
        assert np.abs(a.astype(int) - b.astype(int)).max() <= 4


def test_resize_video_real_roundtrip(spark):
    """REAL end-to-end video resize: 4x4 Y4M fixtures decode, every
    luma frame area-averages to 2x2 (shared resize_rgb gray path),
    the stream re-encodes as 2x2 Y4M at the original fps — decoded
    output frames equal the numpy reference from the closed form,
    and MJPEG-AVI input flows through the same dispatch."""
    docs = load_table(spark, "documents", SF).limit(6)
    media = MM.media_with_y4m(docs, width=4, height=4)
    out = {r.media_id: r for r in MM.resize_video(media, 2, 2).collect()}
    p = np.arange(16, dtype=np.int64)
    for d in range(6):
        r = out[d]
        assert (r.width, r.height) == (2, 2)
        assert r.mime == "video/x-yuv4mpeg"
        w, h, fn, fd, frames = MM.decode_y4m(bytes(r.payload))
        assert (w, h, fn, fd, len(frames)) == (2, 2, 25, 1, 1 + d % 4)
        for f, fr in enumerate(frames):
            src = ((d * 31 + f * 7 + p * p) % 256).reshape(4, 4)
            ref = np.floor(
                src.reshape(2, 2, 2, 2).sum(axis=(1, 3)) / 4.0 + 0.5
            ).astype(np.uint8)
            assert np.array_equal(fr, ref), (d, f)

    # compressed input path: MJPEG-AVI decodes through the same dispatch
    avi = MM.encode_mjpeg_avi(
        [np.full((16, 16), 40 * f + 20, dtype=np.uint8) for f in range(2)],
        fps_num=30,
    )
    one = media.limit(1).withColumn("payload", F.lit(avi))
    rr = MM.resize_video(one, 4, 4).collect()[0]
    w, h, fn, fd, frames = MM.decode_y4m(bytes(rr.payload))
    assert (w, h, fn, len(frames)) == (4, 4, 30, 2)
    # constant even-gray frames survive MJPEG + resize exactly
    assert np.all(frames[0] == 20) and np.all(frames[1] == 60)

    # undecodable video -> null payload/geometry
    bad = media.limit(1).withColumn("payload", F.lit(b"junk"))
    row = MM.resize_video(bad, 2, 2).collect()[0]
    assert row.payload is None and row.width is None


def test_resample_video_real_roundtrip(spark):
    """Temporal decimation end to end: every 2nd frame survives, the
    re-encoded stream carries fps_den*2 (duration-preserving), and
    the kept frames are byte-identical to the even-index originals."""
    docs = load_table(spark, "documents", SF).limit(8)
    media = MM.media_with_y4m(docs, width=4, height=4)
    out = {r.media_id: r for r in MM.resample_video(media, 2).collect()}
    p = np.arange(16, dtype=np.int64)
    for d in range(8):
        n = 1 + d % 4
        w, h, fn, fd, frames = MM.decode_y4m(bytes(out[d].payload))
        assert (w, h, fn, fd) == (4, 4, 25, 2)
        assert len(frames) == (n + 1) // 2
        for j, fr in enumerate(frames):
            src = ((d * 31 + (2 * j) * 7 + p * p) % 256).reshape(4, 4)
            assert np.array_equal(fr, src.astype(np.uint8)), (d, j)

    with pytest.raises(ValueError, match="factor"):
        MM.resample_video(media, 0)


def test_resample_audio_real_roundtrip(spark):
    """REAL end-to-end decimation: 64-sample 8 kHz fixtures decode,
    4x-average to 16 samples at 2 kHz, re-encode as PCM — decoded
    output samples equal the numpy reference from the closed form,
    metadata (rate, duration) reflects the new container, and
    non-audio / undecodable rows follow the pass-through / null
    conventions."""
    docs = load_table(spark, "documents", SF).limit(6)
    media = MM.media_with_wav(docs)
    out = {r.media_id: r for r in MM.resample_audio(media, 4).collect()}
    i = np.arange(64, dtype=np.int64)
    for d in range(6):
        r = out[d]
        assert r.mime == "audio/wav" and r.duration_ms == 8
        rate, ch, bits, n_frames, arr = MM.decode_wav(bytes(r.payload))
        assert (rate, ch, bits, n_frames) == (2000, 1, 8, 16)
        src = ((d * 11 + i * 17) % 256).astype(np.int64)
        ref = np.floor(src.reshape(16, 4).sum(axis=1) / 4.0 + 0.5).astype(np.uint8)
        assert np.array_equal(arr, ref), d

    # G.711 input comes back as LINEAR 16-bit PCM at the new rate
    g711 = MM.media_with_wav_mulaw(docs.limit(1))
    rr = MM.resample_audio(g711, 4).collect()[0]
    rate, ch, bits, n_frames, arr = MM.decode_wav(bytes(rr.payload))
    assert (rate, bits, n_frames) == (2000, 16, 16)
    codes = ((0 * 13 + np.arange(64) * 7) % 256).astype(np.uint8)
    lin = MM.mulaw_expand(codes).astype(np.int64)
    ref = np.floor(lin.reshape(16, 4).sum(axis=1) / 4.0 + 0.5).astype(np.int16)
    assert np.array_equal(arr, ref)

    # undecodable audio payload -> null payload/duration, not a crash
    bad = media.limit(1).withColumn("payload", F.lit(b"not a wav"))
    row = MM.resample_audio(bad, 4).collect()[0]
    assert row.payload is None and row.duration_ms is None

    with pytest.raises(ValueError, match="factor"):
        MM.resample_audio(media, 0)


def test_mulaw_wav_decode_and_gates(spark):
    """G.711 mu-law WAV (fmt tag 7): expansion anchors from the ITU
    table (0xFF/0x7F -> ±0, 0x00 -> -32124, 0x80 -> +32124), full
    fixture decode equals mulaw_expand of the code bytes, and
    unsupported codec tags / PCM widths raise loudly instead of
    reinterpreting garbage."""
    assert MM.mulaw_expand(np.array([0xFF, 0x7F, 0x00, 0x80])).tolist() == [
        0, 0, -32124, 32124,
    ]

    docs = load_table(spark, "documents", SF).limit(6)
    media = MM.media_with_wav_mulaw(docs)
    row = media.filter(F.col("media_id") == 3).collect()[0]
    rate, ch, bits, n_frames, arr = MM.decode_wav(bytes(row.payload))
    assert (rate, ch, bits, n_frames) == (8000, 1, 8, 64)
    codes = (3 * 13 + np.arange(64) * 7) % 256
    assert np.array_equal(arr, MM.mulaw_expand(codes.astype(np.uint8)))
    stats = {r.media_id: r for r in MM.audio_stats(media).collect()}
    for d in range(6):
        exp = MM.mulaw_expand(((d * 13 + np.arange(64) * 7) % 256).astype(np.uint8))
        assert stats[d].mean_amp == round(float(exp.astype(np.float64).mean()), 6)

    # loud gates: ADPCM tag, 24-bit PCM
    pay = bytearray(bytes(row.payload))
    fmt_at = pay.index(b"fmt ") + 8
    pay[fmt_at : fmt_at + 2] = (0x11).to_bytes(2, "little")  # IMA ADPCM
    with pytest.raises(NotImplementedError, match="codec tag=17"):
        MM.decode_wav(bytes(pay))
    pay[fmt_at : fmt_at + 2] = (1).to_bytes(2, "little")
    pay[fmt_at + 14 : fmt_at + 16] = (24).to_bytes(2, "little")
    with pytest.raises(NotImplementedError, match="bits=24"):
        MM.decode_wav(bytes(pay))


def test_jpeg_fill_bytes_and_wav_truncated_fmt():
    """Review-pinned edges: (a) legal 0xFF fill bytes before a marker
    (ITU T.81 B.1.1.2) must not desync the walk; (b) a truncated fmt
    chunk is MALFORMED (None), not exotic (raise) — one corrupt file
    must not fail a stage that promises nulls for undecodables."""
    enc = MM.encode_jpeg(np.full((8, 8), 70, dtype=np.uint8))
    i = enc.index(b"\xff\xdb")
    padded = enc[:i] + b"\xff\xff" + enc[i:]  # two fill bytes
    assert np.all(MM.decode_jpeg(padded)[3] == 70)

    body = b"WAVE" + b"fmt \x04\x00\x00\x00abcd" + b"data\x00\x00\x00\x00"
    wav = b"RIFF" + len(body).to_bytes(4, "little") + body
    assert MM.decode_wav(wav) is None


def test_alaw_wav_decode(spark):
    """A-law (fmt tag 6): g711.c anchors (0x55 -> -8, 0xD5 -> +8,
    0xAA -> +32256), and the fixture decodes to alaw_expand of the
    code bytes through the same tag-dispatched decode_wav path."""
    assert MM.alaw_expand(np.array([0x55, 0xD5, 0xAA, 0x2A])).tolist() == [
        -8, 8, 32256, -32256,
    ]
    docs = load_table(spark, "documents", SF).limit(4)
    media = MM.media_with_wav_g711(docs, fmt_tag=6)
    row = media.filter(F.col("media_id") == 2).collect()[0]
    rate, ch, bits, n_frames, arr = MM.decode_wav(bytes(row.payload))
    assert (rate, ch, bits, n_frames) == (8000, 1, 8, 64)
    codes = ((2 * 13 + np.arange(64) * 7) % 256).astype(np.uint8)
    assert np.array_equal(arr, MM.alaw_expand(codes))


def test_encode_wav_pcm_geometry_validation():
    """A channels/geometry mismatch must fail loudly (r11): silently
    emitting a parseable WAV whose block-align and frame count lie
    about the layout is worse than a crash."""
    stereo = np.zeros((4, 2), dtype=np.uint8)
    assert MM.decode_wav(MM.encode_wav_pcm(stereo, 8000, channels=2))[1] == 2
    with pytest.raises(ValueError, match="channels"):
        MM.encode_wav_pcm(stereo, 8000, channels=1)
    with pytest.raises(ValueError, match="whole number"):
        MM.encode_wav_pcm(np.zeros(5, dtype=np.uint8), 8000, channels=2)
    # flat interleaved stereo of whole frames stays accepted
    flat = MM.encode_wav_pcm(np.zeros(6, dtype=np.uint8), 8000, channels=2)
    assert MM.decode_wav(flat)[3] == 3


def test_frame_luma_stats_decode_seam(spark):
    """frame_luma_stats shares the pluggable decode seam with
    video_stats / frame_diff_keyframes (r11 — the seam's docstring
    promised this): an injected runner that transcodes MJPEG-AVI to
    Y4M drives the time-grid sampler to IDENTICAL rows as the native
    path (the transcode hop is lossless)."""

    def fake_ffmpeg(data: bytes) -> bytes:
        dec = MM.decode_mjpeg_avi(data)
        if dec is None:
            return b""
        w, h, fn, fd, frames = dec
        return MM.encode_y4m(np.stack(frames), fps_num=fn, fps_den=fd)

    def via_ffmpeg(payload):
        return MM.decode_video_ffmpeg(payload, runner=fake_ffmpeg)

    docs = load_table(spark, "documents", SF).limit(6)
    media = MM.media_with_mjpeg(docs)
    native = sorted(map(tuple, MM.frame_luma_stats(media, every_ms=100).collect()))
    gated = sorted(
        map(tuple, MM.frame_luma_stats(media, every_ms=100, decode=via_ffmpeg).collect())
    )
    assert native == gated and native


def test_resize_media_on_exotic_null(spark):
    """on_exotic='null' (r11): a REAL-but-exotic image payload
    (progressive JPEG without Pillow) maps to payload=None — the
    streaming-ingest valve that routes it to the DLQ instead of
    aborting the micro-batch — while the batch default stays the loud
    NotImplementedError."""
    if MM._HAS_PIL:
        pytest.skip("Pillow present: progressive JPEG decodes instead")
    prog = MM.encode_jpeg(np.full((8, 8), 100, dtype=np.uint8)).replace(
        b"\xff\xc0", b"\xff\xc2", 1
    )
    docs = load_table(spark, "documents", SF).limit(1)
    media = MM.media_with_jpeg(docs).withColumn("payload", F.lit(prog))

    row = MM.resize_media(media, 4, 4, on_exotic="null").collect()[0]
    assert row.payload is None and row.width is None and row.height is None

    with pytest.raises(Exception, match="non-baseline"):
        MM.resize_media(media, 4, 4).collect()
    with pytest.raises(ValueError, match="on_exotic"):
        MM.resize_media(media, 4, 4, on_exotic="drop")


def test_resample_audio_on_exotic_null(spark):
    """Audio twin of the exotic valve (r11): an unsupported WAV codec
    tag (2 = ADPCM) maps to payload=None under on_exotic='null' and
    keeps decode_wav's loud NotImplementedError by default."""
    docs = load_table(spark, "documents", SF).limit(1)
    media = MM.media_with_wav(docs)
    payload = bytearray(bytes(media.collect()[0].payload))
    payload[20:22] = (2).to_bytes(2, "little")  # fmt tag: PCM -> ADPCM
    with pytest.raises(NotImplementedError, match="codec tag"):
        MM.decode_wav(bytes(payload))
    exotic = media.withColumn("payload", F.lit(bytes(payload)))

    row = MM.resample_audio(exotic, 4, on_exotic="null").collect()[0]
    assert row.payload is None and row.duration_ms is None

    with pytest.raises(Exception, match="codec tag"):
        MM.resample_audio(exotic, 4).collect()
    with pytest.raises(ValueError, match="on_exotic"):
        MM.resample_audio(exotic, 4, on_exotic="drop")


def test_audio_dft_fingerprint_parity_and_margin(spark):
    """The DFT-twin fingerprint (r11 — the certification path of the
    spectral near-dup family): (1) the Spark audio_hash_dft column
    equals the pure-Python audio_dft_fingerprint64 reference on the
    closed-form fixture; (2) the fixture's smallest nonzero
    window-to-window band-energy gap stays orders of magnitude above
    summation-order noise (the margin that makes the transition bits
    engine-stable — the catalog docstring cites this pin); (3) the
    zero-pad path for short clips is deterministic."""
    docs = load_table(spark, "documents", SF).limit(40)
    media = MM.media_with_wav_dft_groups(docs, group_size=4)
    got = {r.media_id: r.afp for r in MM.audio_hash_dft(media).collect()}
    assert len(got) == 40

    j = np.arange(160, dtype=np.int64)
    min_gap = float("inf")
    for d in range(40):
        g, m = d // 4, d % 4
        h = g * 2654435761 + j * 2246822519 + 12345
        v = (h ^ (h >> 9) ^ (h >> 17)) % 256
        if m:
            pert = (v + m * (7 + 3 * j)) % 256
            v = np.where((j >= 64) & (j < 80), pert, v)
        ref = MM.audio_dft_fingerprint64(v.astype(np.float64))
        assert got[d] == ref, d
        # re-derive the energies to pin the comparison margin
        vals = [float(x) for x in v[:144]]
        E = []
        for w in range(9):
            row = []
            for k in range(1, 9):
                re = im = 0.0
                for n in range(16):
                    re += vals[w * 16 + n] * MM.DFT_COS_16[(k * n) % 16]
                    im += vals[w * 16 + n] * MM.DFT_SIN_16[(k * n) % 16]
                row.append(round(re * re + im * im, 6))
            E.append(row)
        for w in range(1, 9):
            for b in range(8):
                gap = abs(E[w][b] - E[w - 1][b])
                if gap:
                    min_gap = min(min_gap, gap)
    assert min_gap > 1.0, min_gap

    short = MM.audio_dft_fingerprint64(np.arange(10, dtype=np.float64))
    assert short == MM.audio_dft_fingerprint64(
        np.pad(np.arange(10, dtype=np.float64), (0, 134))
    )


def test_audio_near_dup_dft_group_structure(spark):
    """audio_near_dup_dft finds EVERY within-group pair on the DFT
    fixture (the member perturbation is confined to window 4, so at
    most the 16 bits of transitions 3->4 / 4->5 differ and bands 0/3
    are always shared — candidate recall is structural, not
    probabilistic) and, on this fixture, nothing else."""
    docs = load_table(spark, "documents", SF).limit(48)
    media = MM.media_with_wav_dft_groups(docs, group_size=4)
    pairs = {(r.id_a, r.id_b): r.hamming for r in MM.audio_near_dup_dft(media).collect()}
    for g in range(12):
        for a in range(4):
            for b in range(a + 1, 4):
                assert (g * 4 + a, g * 4 + b) in pairs
    for (a, b), h in pairs.items():
        assert a // 4 == b // 4, (a, b)
        assert 0 <= h <= 12


def test_video_fingerprint_parity_and_group_structure(spark):
    """Video near-dup end to end (r11 — the modality triple's last
    leg): (1) Spark video_hash equals the pure-Python
    video_fingerprint64 reference over the closed-form Y4M fixture;
    (2) video_near_dup's pairs equal the brute-force banded reference
    (same banding, same threshold — candidate recall is banded on
    BOTH sides by design); (3) pairs stay within groups on this
    fixture; (4) zero-frame videos drop out of the hash (no
    fingerprint to compare)."""
    docs = load_table(spark, "documents", SF).limit(48)
    media = MM.media_with_y4m_groups(docs, group_size=4)
    got = {r.media_id: r.vfp for r in MM.video_hash(media).collect()}
    assert len(got) == 48

    wh = 256
    p = np.arange(wh, dtype=np.int64)
    ref = {}
    for d in range(48):
        g, m = d // 4, d % 4
        frames = []
        for f in range(4):
            h = g * 2654435761 + (f * wh + p) * 2246822519 + 99991
            v = (h ^ (h >> 9) ^ (h >> 17)) % 256
            if m and f == 1:
                lo = (m * 61) % (wh - 12)
                v = v.copy()
                v[lo : lo + 12] = 255 - v[lo : lo + 12]
            frames.append(v.reshape(16, 16).astype(np.uint8))
        ref[d] = MM.video_fingerprint64(frames)
    assert got == ref

    def u(x):
        return x & ((1 << 64) - 1)

    expected = set()
    for a in range(48):
        for b in range(a + 1, 48):
            fa, fb = u(ref[a]), u(ref[b])
            hm = bin(fa ^ fb).count("1")
            if hm <= 8 and any(
                ((fa >> (16 * k)) & 65535) == ((fb >> (16 * k)) & 65535)
                for k in range(4)
            ):
                expected.add((a, b, hm))
    pairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in MM.video_near_dup(media, max_hamming=8).collect()
    }
    assert pairs == expected and pairs
    assert all(a // 4 == b // 4 for a, b, _ in pairs)

    headless = media.limit(1).withColumn(
        "payload", F.lit(b"YUV4MPEG2 W4 H4 F25:1 C420\n")
    )
    assert MM.video_hash(headless).count() == 0


def test_media_gate_hash_video_fingerprint(spark):
    """The streaming decode gate fingerprints video rows (r11): the
    gate's dhash column equals video_fingerprint64 for decodable
    clips, stays null for zero-frame clips (decode_ok still true),
    and MJPEG-AVI clips fingerprint through the same dispatch."""
    docs = load_table(spark, "documents", SF).limit(4)
    media = MM.media_with_y4m_groups(docs, group_size=4)
    gate = {r.media_id: r for r in MM.media_gate_hash(media).collect()}
    ref = {r.media_id: r.vfp for r in MM.video_hash(media).collect()}
    for d in range(4):
        assert gate[d].decode_ok and gate[d].dhash == ref[d]

    headless = media.limit(1).withColumn(
        "payload", F.lit(b"YUV4MPEG2 W4 H4 F25:1 C420\n")
    )
    row = MM.media_gate_hash(headless).collect()[0]
    assert row.decode_ok and row.dhash is None

    frames = np.stack(
        [np.full((16, 16), 40 * f + 20, dtype=np.uint8) for f in range(3)]
    )
    avi = MM.encode_mjpeg_avi(frames, fps_num=30)
    mj = media.limit(1).withColumn("payload", F.lit(avi)).withColumn(
        "mime", F.lit("video/avi")
    )
    row = MM.media_gate_hash(mj).collect()[0]
    dec = MM.decode_mjpeg_avi(avi)
    assert row.decode_ok and row.dhash == MM.video_fingerprint64(dec[4])
