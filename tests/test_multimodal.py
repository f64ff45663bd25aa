"""Multimodal plumbing tests: binary columns + Arrow-batched
mapInPandas verified against plain-Python computation."""

from __future__ import annotations

from block_data_fetcher_spark.functions.multimodal import (
    frame_sample,
    synth_media,
)
from block_data_fetcher_spark.catalog import table


def test_media_schema(spark, sf_dir):
    media = synth_media(spark, sf_dir)
    dt = dict(media.dtypes)
    assert dt["data"] == "binary"
    assert dt["kind"] == "string"
    assert "struct" in dt["meta"]


def test_frame_sample_reassembles(spark, sf_dir):
    media = synth_media(spark, sf_dir).where("media_id < 20")
    frames = frame_sample(media, every=64).collect()
    by_id: dict[int, list] = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append((r.frame_idx, bytes(r.frame)))
    docs = {r.doc_id: r.text for r in table(spark, sf_dir, "documents").where("doc_id < 20").collect()}
    for mid, parts in by_id.items():
        joined = b"".join(p for _, p in sorted(parts))
        assert joined == docs[mid].encode("utf-8")


def test_bmp_ppm_roundtrip_exact():
    """The real codecs: every (w, h) in the synth range must round-trip
    pixel-exactly through the actual BMP bytes (bottom-up BGR raster,
    per-row 4-byte padding) and PPM bytes (ASCII header + raw RGB)."""
    import numpy as np

    from block_data_fetcher_spark.functions.multimodal import (
        _pixels,
        decode_image,
        encode_bmp,
        encode_ppm,
    )

    for doc_id in [0, 1, 7, 12, 101, 9999]:
        w, h = 8 + doc_id % 9, 8 + doc_id % 7
        px = _pixels(doc_id, w, h)
        for payload in (encode_bmp(px), encode_ppm(px)):
            dw, dh, mr, mg, mb = decode_image(payload)
            assert (dw, dh) == (w, h)
            want = px.reshape(-1, 3).mean(axis=0)
            assert abs(mr - want[0]) < 1e-12
            assert abs(mg - want[1]) < 1e-12
            assert abs(mb - want[2]) < 1e-12
    # BMP row padding actually exercised: 3*w % 4 != 0 for some widths
    assert any((3 * (8 + d % 9)) % 4 != 0 for d in [0, 1, 7, 12, 101, 9999])
    # and a deliberately corrupted magic fails loudly
    try:
        decode_image(b"XX123456")
        raise AssertionError("decode_image accepted garbage")
    except ValueError:
        pass


def test_wav_roundtrip_exact():
    """The real audio codec: arbitrary int16 sequences must round-trip
    byte-exactly through the RIFF/PCM16 container, including an extra
    chunk before 'data' (the chunk WALK is real, not fixed offsets)
    and odd-sized chunks (RIFF word alignment)."""
    import struct

    import numpy as np

    from block_data_fetcher_spark.functions.audio import (
        _synth_samples,
        decode_wav,
        encode_wav,
    )

    for doc_id in [0, 1, 5, 63, 64, 101, 9999]:
        rate, s = _synth_samples(doc_id)
        r2, s2 = decode_wav(encode_wav(s, rate))
        assert r2 == rate
        assert np.array_equal(s, s2)

    # inject a LIST chunk (odd size → padding byte) between fmt and data
    rate, s = _synth_samples(7)
    payload = encode_wav(s, rate)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    hacked = payload[:fmt_end] + extra + payload[fmt_end:]
    hacked = (
        b"RIFF" + struct.pack("<I", len(hacked) - 8) + hacked[8:]
    )
    r3, s3 = decode_wav(hacked)
    assert r3 == rate and np.array_equal(s, s3)

    # stereo / non-PCM rejected loudly
    bad_fmt = struct.pack("<HHIIHH", 1, 2, rate, rate * 4, 4, 16)
    bad = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(bad_fmt))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(bad_fmt))
        + bad_fmt
    )
    try:
        decode_wav(bad)
        raise AssertionError("decode_wav accepted stereo")
    except ValueError:
        pass
    try:
        decode_wav(b"JUNK0000JUNK")
        raise AssertionError("decode_wav accepted garbage")
    except ValueError:
        pass


def test_ahash_planted_neardups(spark):
    """The planted near-dup corpus must actually produce pairs (the
    oracle match would be vacuous on an empty result): same-class
    images hash within hamming<=3 of each other for at least some
    classes, and the banded engine result equals a brute-force
    all-pairs check computed locally."""
    import itertools

    import numpy as np

    from block_data_fetcher_spark.functions.multimodal import (
        ahash32,
        decode_raster,
        q_phash_neardup,
        synth_near_images,
    )

    sf_dir = "/root/testdata/sf0.001"
    rows = synth_near_images(spark, sf_dir).collect()
    hashes = {r.media_id: ahash32(decode_raster(bytes(r.data))) for r in rows}
    brute = {
        (a, b, bin(hashes[a] ^ hashes[b]).count("1"))
        for a, b in itertools.combinations(sorted(hashes), 2)
        if bin(hashes[a] ^ hashes[b]).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in q_phash_neardup(spark, sf_dir).collect()
    }
    assert got == brute
    assert len(brute) > 0  # the planted structure is non-trivial
    # and not everything is one blob: some pairs are far apart
    all_h = list(hashes.values())
    assert any(
        bin(x ^ y).count("1") > 3 for x, y in itertools.combinations(all_h, 2)
    )
