"""Pins for the shared cores of operators/multimodal.py.

- Fixture digests: a sha256 of every media fixture builder's output
  (ids 0..63, at default arguments and at one non-default call). The
  catalog oracles predict decoded statistics from each builder's
  closed-form formula, so the bytes must not drift.
- Gate/op parity: ``media_gate_hash`` and the per-modality hash ops
  share one decode -> fingerprint table; on one mixed frame their
  fingerprints agree wherever both define one, and the gate keeps its
  own ``decode_ok`` / null-hash rules.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from unified_log_aggregation_and_analytics_spark.operators import multimodal as MM

# (builder, kwargs) -> sha256 over the sorted rows' metadata and payload
FIXTURE_DIGESTS = {
    ("media_with_ppm", ()): "f02ba6e5731ea75b130637411e01984a919d64b61d6f9bc1898fda1484942724",
    ("media_with_ppm", (("width", 3), ("height", 5))): "be86c0c694b8ddcd5e9326cfc1f0c4c6654d443bb4d7f56d9e10a820e71cef6f",
    ("media_with_png", ()): "baf0898109888fe96f2960c3f87c4b17e402e0b09506287718594e7398033c82",
    ("media_with_png", (("width", 5), ("height", 3), ("filter_cycle", False))): "85f22dc6c61ae75c3d61649f24863dcaf1e05a46f306ca390d0492510a89a6d3",
    ("media_with_jpeg", ()): "a2eb622702afae8eacc0f9972c520eb2d8f1fd280c694f17a39f87c068f01e21",
    ("media_with_jpeg", (("width", 24), ("height", 8))): "89153c5f6ef588f1d1f12c7964616fbf0c8b4bc648277c0dd095b848da6e3659",
    ("media_with_wav", ()): "9767dba32d5da5c5d3bdae94054d74f728e533ad80526dd07abff2e32429e569",
    ("media_with_wav", (("n_samples", 33), ("sample_rate", 11025))): "aa586b337f941e2c25e88ea352e3652fc452315083e2248560a0f1a19896ae89",
    ("media_with_wav_g711", ()): "fa0a08013e7c0fb16788aa7a609e4f0e4afa63f585ff522c9c1ea64d45d133b8",
    ("media_with_wav_g711", (("n_samples", 33), ("sample_rate", 16000), ("fmt_tag", 6))): "24016bb6b6eac18367490d2b546839b4f65706530b1fe28ffb0f008fbfc7618b",
    ("media_with_wav_mulaw", ()): "fa0a08013e7c0fb16788aa7a609e4f0e4afa63f585ff522c9c1ea64d45d133b8",
    ("media_with_wav_mulaw", (("n_samples", 17), ("sample_rate", 4000))): "9edc35f154cedb542d4ccc715edaa38578f7e926ff5fc6293c380a281870543c",
    ("media_with_ppm_groups", ()): "865be6000ecfc53339b4ccd8061b536002631921a308cc5856b49507bac20962",
    ("media_with_ppm_groups", (("group_size", 3), ("width", 9), ("height", 8))): "0f8dcf4d4ea7de7fde0dcdc6348daa86dc7c2622c69aec5e7e37496b4389a991",
    ("media_with_wav_groups", ()): "28fa229a071da86c9becc2db1c412d90d730d25e9992157c8a1d7c7e83ade80f",
    ("media_with_wav_groups", (("group_size", 3), ("n_samples", 100), ("sample_rate", 16000))): "ded0386949c626f271de6171eb7b38e89ff2a74fda9242ae4434d058fcea00c0",
    ("media_with_wav_dft_groups", ()): "e2e854e226f9d919687b51b6f17608633316c5c5391d184afa9885cdc965892e",
    ("media_with_wav_dft_groups", (("group_size", 5), ("n_samples", 96), ("sample_rate", 22050))): "dc65750b6ce19f892119a3589857bb0b03cb46752acfebedf984c63a427bd136",
    ("media_with_y4m_groups", ()): "a70782d54f32d7f6c3e57af4fcf8990774a69363060985ac3a90d72e30c792e6",
    ("media_with_y4m_groups", (("group_size", 3), ("height", 8), ("n_frames", 3))): "193c0e169f0da6cfab75a2aecbf10d4472f82368585f50c268f009dccbe49856",
    ("media_with_y4m", ()): "b30164af6c59a83ec1431b61760f614afe84148a0576391bf3643d049680ed24",
    ("media_with_y4m", (("width", 6), ("height", 2), ("fps_num", 30))): "63b43bbf597886afbaa4834a3fb19c86db59e2dd6760797a1979b15cd47c5d4e",
    ("media_with_mjpeg", ()): "88628c0e0c93ef030ed3f5e7f456fdc43e2355f08e791607108ea2b7b2a09614",
    ("media_with_mjpeg", (("width", 8), ("fps_num", 10))): "c7b000b4cc5c27e57c606031029d146808683098cf79e3435a44033c5a5b9c75",
    ("media_routing_fixture", ()): "54d658862c59f2d1e262cadc4181c86f4c0499047fc4cadc5189e01f1ddb3694",
    ("media_routing_fixture", (("width", 12), ("height", 9))): "b751efa6cb66bb73ced3c6131f54e87d951c5553a53b7fbe620b8c19eae501df",
}


def fixture_digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r.media_id):
        payload = None if r.payload is None else bytes(r.payload)
        meta = (r.media_id, r.modality, r.mime, r.width, r.height, r.duration_ms)
        h.update(repr(meta + (None if payload is None else len(payload),)).encode())
        h.update(payload or b"")
    return h.hexdigest()


@pytest.mark.parametrize(
    "builder,kwargs",
    list(FIXTURE_DIGESTS),
    ids=[f"{b}{dict(k) or ''}" for b, k in FIXTURE_DIGESTS],
)
def test_fixture_builder_digest(spark, builder, kwargs):
    docs = spark.range(0, 64, 1, 2).withColumnRenamed("id", "doc_id")
    rows = getattr(MM, builder)(docs, **dict(kwargs)).collect()
    assert len(rows) == 64
    assert fixture_digest(rows) == FIXTURE_DIGESTS[(builder, kwargs)]


def _exotic_wav() -> bytes:
    """A valid RIFF/WAVE with a codec the native decoder does not
    implement (tag 3, 32-bit float): decode_wav raises."""
    wav = bytearray(MM.encode_wav_pcm(np.zeros(8, dtype=np.int16), 8000))
    wav[20:22] = (3).to_bytes(2, "little")
    wav[34:36] = (32).to_bytes(2, "little")
    return bytes(wav)


def test_gate_and_hash_ops_share_fingerprints(spark):
    """media_gate_hash's dhash equals the modality's hash op wherever
    both define one; the gate alone keeps its decode_ok rules."""
    yy, xx = np.mgrid[0:16, 0:16]
    px = np.stack([(xx * 37 + yy * yy * 11) % 256] * 3, axis=2).astype(np.uint8)
    ppm = MM.encode_ppm(px)
    i = np.arange(512)
    wav = MM.encode_wav_pcm(
        (128 + 100 * np.sin(i * i / 900.0)).astype(np.uint8), 8000
    )
    frames = np.stack([((xx * (f + 3) + yy * 29) % 256) for f in range(3)]).astype(np.uint8)
    y4m = MM.encode_y4m(frames)
    rows = [
        (0, "image", ppm),
        (1, "audio", wav),
        (2, "video", y4m),
        (3, "video", b"YUV4MPEG2 W16 H16 F25:1 Ip A1:1 C420jpeg\n"),  # zero frames
        (4, "image", ppm[: len(ppm) // 2]),  # truncated raster
        (5, "image", None),
        (6, "text", ppm),
        (7, "audio", _exotic_wav()),
    ]
    media = spark.createDataFrame(
        [(m, mod, p, None, None, None, None) for m, mod, p in rows], MM.MEDIA_SCHEMA
    )
    img_h = MM.dhash64(px)
    aud_h = MM.audio_fingerprint64(MM._wav_mono(MM.decode_wav(wav)))
    vid_h = MM.video_fingerprint64(list(frames))

    gate = {r.media_id: (r.decode_ok, r.dhash) for r in MM.media_gate_hash(media).collect()}
    assert gate == {
        0: (True, img_h),
        1: (True, aud_h),
        2: (True, vid_h),
        3: (True, None),  # decodable, nothing to fingerprint
        4: (False, None),  # decoder error -> failed gate, not a failed batch
        5: (False, None),
        6: (False, None),  # no fingerprint for this modality
        7: (False, None),  # exotic codec -> failed gate
    }

    # the hash ops decode every row regardless of modality, drop what
    # does not decode, and let decoder errors raise — so they run on
    # the rows without one (the truncated PPM and the exotic WAV)
    ok = media.filter(~media.media_id.isin(4, 7))
    ops = {
        "image": {r.media_id: r.dhash for r in MM.image_dhash(ok).collect()},
        "audio": {r.media_id: r.afp for r in MM.audio_hash(ok).collect()},
        "video": {r.media_id: r.vfp for r in MM.video_hash(ok).collect()},
    }
    assert ops == {"image": {0: img_h, 6: img_h}, "audio": {1: aud_h}, "video": {2: vid_h}}
    with pytest.raises(Exception, match="NotImplementedError"):
        MM.audio_hash(media.filter(media.media_id == 7)).collect()
