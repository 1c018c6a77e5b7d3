"""Ogg-Opus container kernel: CRC replica, round-trips, lacing, end
trimming, malformation matrix, registry wiring."""

import struct

import numpy as np

from kneaddata_spark.functions import oggopus as og
from kneaddata_spark.functions.oggopus import (
    TOC_DURATION_48K,
    decode_ogg_opus,
    encode_ogg_opus,
    ogg_crc,
    probe_ogg_opus,
)


def _crc_bitwise(data):
    crc = 0
    for b in data:
        crc ^= b << 24
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x04C11DB7) & 0xFFFFFFFF
                if crc & 0x80000000
                else (crc << 1) & 0xFFFFFFFF
            )
    return crc


def test_ogg_crc_is_the_ogg_polynomial():
    import zlib

    rng = np.random.RandomState(7)
    for blob in (b"", b"OggS", bytes(rng.randint(0, 256, 333, dtype=np.uint8))):
        assert ogg_crc(blob) == _crc_bitwise(blob)
    # and is NOT zlib's reflected CRC
    assert ogg_crc(b"OggS") != zlib.crc32(b"OggS")


def test_toc_duration_table_anchors():
    # RFC 6716 §3.1 anchors: SILK-NB 10ms, SILK-WB 60ms, hybrid-FB 20ms,
    # CELT-NB 2.5ms, CELT-FB 20ms
    assert TOC_DURATION_48K[0] == 480
    assert TOC_DURATION_48K[11] == 2880
    assert TOC_DURATION_48K[15] == 960
    assert TOC_DURATION_48K[16] == 120
    assert TOC_DURATION_48K[31] == 960
    assert len(TOC_DURATION_48K) == 32


def test_roundtrip_end_trim_and_multipage():
    for n, cfg in [(480, 9), (961, 9), (100000, 19), (120, 16), (300001, 31)]:
        raw = encode_ogg_opus(n, toc_config=cfg)
        meta = probe_ogg_opus(raw)
        assert meta["n_samples"] == n
        assert meta["channels"] == 1 and meta["pre_skip"] == 312
        assert 0 <= meta["sum_frame_samples"] - n < TOC_DURATION_48K[cfg]
        pcm = decode_ogg_opus(raw)
        assert pcm.dtype == np.dtype("<i2") and len(pcm) == n and not pcm.any()
    # 300001 samples at 20 ms = 313 frames -> two audio pages (255-packet cap)
    assert probe_ogg_opus(encode_ogg_opus(300001, toc_config=31))["n_pages"] == 4


def test_malformation_matrix():
    raw = encode_ogg_opus(4800)
    flip = bytearray(raw)
    flip[len(flip) // 2] ^= 0x01
    assert probe_ogg_opus(bytes(flip)) is None  # CRC catches a single bit
    assert probe_ogg_opus(raw[: len(raw) - 5]) is None  # torn tail
    assert probe_ogg_opus(b"RIFF" + raw[4:]) is None  # magic
    assert probe_ogg_opus(None) is None and probe_ogg_opus(b"") is None
    # version byte != 0
    v = bytearray(raw)
    v[4 + 0] = v[4]  # no-op guard
    v2 = bytearray(raw)
    v2[4] = 1  # page version
    assert probe_ogg_opus(bytes(v2)) is None
    # continuation flag on any page is outside the subset
    cont = bytearray(raw)
    cont[5] |= 0x01
    # re-CRC so only the flag is the defect
    n_seg = cont[26]
    page0 = cont[: 27 + n_seg + sum(cont[27 : 27 + n_seg])]
    page0[22:26] = b"\x00\x00\x00\x00"
    struct.pack_into("<I", cont, 22, ogg_crc(bytes(page0)))
    assert probe_ogg_opus(bytes(cont)) is None


def test_real_payload_and_stereo_refused():
    # hand-build: valid framing but an audio packet carrying payload bytes
    head = (
        b"OpusHead"
        + bytes([1, 1])
        + struct.pack("<H", 312)
        + struct.pack("<I", 48000)
        + struct.pack("<h", 0)
        + bytes([0])
    )
    tags = b"OpusTags" + struct.pack("<I", 0) + struct.pack("<I", 0)
    pages = og._page(0x02, 0, 1, 0, [head]) + og._page(0x00, 0, 1, 1, [tags])
    celt = pages + og._page(0x04, 312 + 960, 1, 2, [bytes([9 << 3]) + b"\x11\x22"])
    assert probe_ogg_opus(celt) is None
    stereo = pages + og._page(0x04, 312 + 960, 1, 2, [bytes([(9 << 3) | 0x04])])
    assert probe_ogg_opus(stereo) is None
    code3 = pages + og._page(0x04, 312 + 960, 1, 2, [bytes([(9 << 3) | 0x03])])
    assert probe_ogg_opus(code3) is None


def test_registry_wiring():
    from kneaddata_spark import rules
    from kneaddata_spark.functions.audio import CODECS

    decode = CODECS["ogg_opus"]
    pcm = decode(encode_ogg_opus(960))
    assert len(pcm) == 960 and not pcm.any()
    assert decode(b"junk") is None
    # the QC synth contract is untouched: 'opus' stays the fake container
    payload = np.array([1, -2, 3], dtype="<i2").tobytes()
    fake = rules.FAKE_MAGIC["opus"] + struct.pack("<I", len(payload)) + payload
    assert rules.FAKE_MAGIC["opus"] == b"KSOP"
    assert CODECS["opus"](fake).tolist() == [1, -2, 3]
    assert CODECS["opus"](encode_ogg_opus(960)) is None
