"""Multimodal operator plumbing + F8 credential attachment."""

import numpy as np
from pyspark.sql import functions as F

from wcm_spark.images import LOSSLESS_FMT, decode_image, encode_image, gen_image


def _img_df(spark, n=6):
    rows = []
    for i in range(n):
        arr = gen_image(f"mm/{i}", 24, 18)
        rows.append((f"img-{i}", encode_image(arr, LOSSLESS_FMT)))
    return spark.createDataFrame(rows, "image_id string, bytes binary")


def test_decode_image_meta(spark):
    from wcm_spark.datapipe.multimodal import decode_image_meta

    out = decode_image_meta(_img_df(spark)).collect()
    assert len(out) == 6
    assert all(r["w"] == 24 and r["h"] == 18 and r["decode_ok"] for r in out)


def test_decode_meta_undecodable_flagged(spark):
    from wcm_spark.datapipe.multimodal import decode_image_meta

    df = spark.createDataFrame(
        [("bad-1", b"\x89PNG\r\n\x1a\nnotactuallyapng")], "image_id string, bytes binary"
    )
    row = decode_image_meta(df).collect()[0]
    assert row["decode_ok"] is False and row["w"] is None


def test_resize_images(spark):
    from wcm_spark.datapipe.multimodal import resize_images

    out = resize_images(_img_df(spark), 8, 8).collect()
    for r in out:
        arr, fmt = decode_image(r["bytes"])
        assert arr.shape == (8, 8, 3) and fmt == LOSSLESS_FMT
        assert r["self_psnr"] == float("inf")  # deterministic resample


def test_media_codec_roundtrips():
    """WCV1/WCA1 container codecs: bit-exact frame round-trip, header
    metadata, seekable index; PCM audio round-trip within int16
    quantization."""
    import numpy as np

    from wcm_spark.images import gen_image
    from wcm_spark.media import (
        decode_audio, decode_video_frame, decode_video_meta, encode_audio,
        encode_video, gen_audio, gen_video,
    )

    frames = [gen_image(f"t/f{i}", 12, 10) for i in range(5)]
    blob = encode_video(frames, fps=4)
    n, w, h, fps, index = decode_video_meta(blob)
    assert (n, w, h, fps) == (5, 12, 10, 4)
    for i, entry in enumerate(index):
        assert np.array_equal(decode_video_frame(blob, entry), frames[i])

    sig = (np.sin(np.arange(1000) / 7.0) * 20000).astype(np.int16)
    back, rate = decode_audio(encode_audio(sig, 8000))
    assert rate == 8000 and back.size == 1000
    assert np.abs(back * 32768.0 - sig).max() <= 1.0

    # generators are deterministic
    assert gen_video("k", 3) == gen_video("k", 3)
    assert gen_audio("k") == gen_audio("k")


def test_video_frame_sampling_real_decode(spark):
    """Uniform sampling decodes the RIGHT frames: with n=6, k=3 the
    sampled frame_nos are 0,2,4 and their pixels equal the source frames
    bit-exactly; corrupt payloads become dead-letter rows."""
    from wcm_spark.datapipe.multimodal import sample_video_frames
    from wcm_spark.images import gen_image
    from wcm_spark.media import gen_video

    df = spark.createDataFrame(
        [("v0", gen_video("v0", n_frames=6, w=8, h=8)),
         ("bad", b"NOT_A_VIDEO")],
        "video_id string, bytes binary",
    )
    rows = sample_video_frames(df, k=3).collect()
    good = sorted(
        (r for r in rows if r["video_id"] == "v0"), key=lambda r: r["frame_no"]
    )
    assert [r["frame_no"] for r in good] == [0, 2, 4]
    for r in good:
        arr, _ = decode_image(r["frame_bytes"])
        assert np.array_equal(arr, gen_image(f"v0/f{r['frame_no']}", 8, 8))
        assert (r["w"], r["h"]) == (8, 8) and r["decode_ok"]
    bad = [r for r in rows if r["video_id"] == "bad"]
    assert len(bad) == 1 and bad[0]["decode_ok"] is False


def test_audio_features_real_fft(spark):
    """Band energies equal a direct numpy FFT computation of the decoded
    PCM; a pure tone concentrates its energy in the right band."""
    import numpy as np

    from wcm_spark.datapipe.multimodal import extract_audio_features
    from wcm_spark.media import decode_audio, encode_audio, gen_audio

    rate = 8000
    t = np.arange(4000) / rate
    tone = encode_audio(np.sin(2 * np.pi * 3500 * t) * 20000, rate)
    # 3.5 kHz -> rfft bin 1750 of 2001 (Nyquist 4 kHz) -> band 6 of 8
    df = spark.createDataFrame(
        [("tone", tone), ("gen", gen_audio("gen")), ("bad", b"junk")],
        "audio_id string, bytes binary",
    )
    rows = {r["audio_id"]: r for r in extract_audio_features(df, n_bands=8).collect()}

    def ref_energies(blob):
        sig, _ = decode_audio(blob)
        spec = np.abs(np.fft.rfft(sig))
        pad = (-spec.size) % 8
        banded = np.pad(spec, (0, pad)).reshape(8, -1)
        return [round(float(e), 4) for e in np.sqrt((banded**2).mean(axis=1))]

    assert rows["gen"]["band_energy"] == ref_energies(gen_audio("gen"))
    e = rows["tone"]["band_energy"]
    assert e.index(max(e)) == 6
    assert rows["tone"]["duration_sec"] == 0.5
    assert rows["bad"]["band_energy"] == [0.0] * 8


def test_credentials_attach(spark):
    """F8 (UserAgent.pm:17-31): userinfo attaches per host_key at fetch and
    never leaks into dedup or redirect history."""
    from wcm_spark.corpus import corpus_rows, seed_urls
    from wcm_spark.scheduler import CrawlConfig, Crawler

    rows = corpus_rows(1, 6)
    corpus_df = spark.createDataFrame(
        [(r["url"], r["status"], r["content_type"], r["content_length"], r["body"], r["redirect_to"]) for r in rows],
        "url string, status int, content_type string, content_length bigint, body binary, redirect_to string",
    )
    cfg = CrawlConfig(
        max_waves=1,
        credentials={"http://site0.example.test": "user:pw"},
    )
    crawler = Crawler(spark, corpus_df, cfg)
    wave = crawler._wave_cut(crawler._seed_frontier(seed_urls(1)))
    fetched = crawler._fetch_wave(wave).collect()
    assert fetched, "seed must fetch"
    for r in fetched:
        assert r["fetch_auth_url"] == r["request_url"].replace("http://", "http://user:pw@")
        assert "user:pw" not in r["url"]  # final URL stays credential-free


def test_dead_letter_covers_corrupt_frames_zero_frames_and_bad_rate(spark):
    """Review regression: dead-letter must also catch (1) a valid WCV1
    index over corrupt frame bytes, (2) a header declaring zero frames,
    (3) a WCA1 header with sample_rate=0 — none may kill the task."""
    import struct

    from wcm_spark.datapipe.multimodal import (
        extract_audio_features, sample_video_frames,
    )
    from wcm_spark.media import gen_video

    good = gen_video("ok", n_frames=3, w=8, h=8)
    corrupt_frames = bytearray(good)
    corrupt_frames[20:] = bytes(len(corrupt_frames) - 20)  # keep header+index start
    zero_frames = b"WCV1" + struct.pack("<HHHH", 0, 8, 8, 8)
    vids = spark.createDataFrame(
        [("ok", good), ("corrupt", bytes(corrupt_frames)), ("empty", zero_frames)],
        "video_id string, bytes binary",
    )
    rows = sample_video_frames(vids, k=2).collect()
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r["video_id"], []).append(r)
    assert all(r["decode_ok"] for r in by_vid["ok"]) and len(by_vid["ok"]) == 2
    assert len(by_vid["corrupt"]) == 1 and by_vid["corrupt"][0]["decode_ok"] is False
    assert len(by_vid["empty"]) == 1 and by_vid["empty"][0]["decode_ok"] is False

    bad_rate = b"WCA1" + struct.pack("<II", 0, 4) + b"\x01\x00\x02\x00\x03\x00\x04\x00"
    auds = spark.createDataFrame(
        [("bad_rate", bad_rate)], "audio_id string, bytes binary"
    )
    r = extract_audio_features(auds).collect()[0]
    assert r["duration_sec"] == 0.0 and r["band_energy"] == [0.0] * 8


def test_resolve_memo_not_shared_for_empty_authority_literals(spark):
    """Review regression: 'http:///foo' and bare 'http://' take their host
    from the page BASE, so two pages on different hosts must resolve them
    differently — the absolute-literal memo may not share those slots."""
    from wcm_spark.operators.scrape import scrape_resolve_children

    body = b'<a href="http:///foo">x</a>'
    pages = spark.createDataFrame(
        [
            ("http://sitea.test/p1", "text/html", len(body), body, 1, 0),
            ("http://siteb.test/p2", "text/html", len(body), body, 2, 0),
        ],
        "url string, content_type string, content_length bigint, body binary, "
        "seq long, depth int",
    ).coalesce(1)  # one partition => one shared mc_cache, the risky case
    out = {r["referrer_url"]: r["url"] for r in scrape_resolve_children(pages).collect()}
    assert out["http://sitea.test/p1"] == "http://sitea.test/foo"
    assert out["http://siteb.test/p2"] == "http://siteb.test/foo"
