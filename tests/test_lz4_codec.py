"""codec/lz4.py encoder and liblz4 decoding through codec/compressed.py:
xxh32 vectors, frame/block goldens, round trips, corrupt gates."""

import struct

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from go_triton_spark.codec.compressed import DecompressError, decompress
from go_triton_spark.codec.lz4 import block_compress, frame_compress, xxh32


def frame_decompress(data):
    return decompress("lz4", data)


def block_decompress(block):
    """Decode one raw block, wrapped in a minimal one-block frame."""
    desc = bytes([0x60, 0x40])     # version 01, independent, 64 KiB max
    return frame_decompress(
        struct.pack("<I", 0x184D2204) + desc
        + bytes([(xxh32(desc) >> 8) & 0xFF])
        + struct.pack("<I", len(block)) + block + struct.pack("<I", 0))


def test_xxh32_public_vectors():
    """Vectors published in the xxHash repository / widely mirrored."""
    assert xxh32(b"") == 0x02CC5D05
    assert xxh32(b"a") == 0x550D7456
    assert xxh32(b"abc") == 0x32D153FF
    assert xxh32(
        b"The quick brown fox jumps over the lazy dog") == 0xE85EA4DE


def test_block_golden_hand_decoded():
    """Hand-packed block: token 0x54 = 5 literals + (4+4)-byte
    overlapping match at offset 5 ('hello' repeated into itself for 8
    bytes); then a literals-only tail. The spec's end-of-block rule
    wants the last 5 bytes to be literals, so a 1-literal tail is
    rejected."""
    head = bytes([0x54]) + b"hello" + struct.pack("<H", 5)
    assert block_decompress(head + bytes([0x50]) + b"Xtail") \
        == b"hellohellohelXtail"
    with pytest.raises(DecompressError):
        block_decompress(head + bytes([0x10]) + b"X")


def test_block_overlap_rle():
    """offset=1 match is the format's RLE idiom: one literal byte then
    a match copying it forward byte-at-a-time."""
    blk = bytes([0x1F]) + b"A" + struct.pack("<H", 1) + bytes([200]) \
        + bytes([0x50]) + b"tailz"
    out = block_decompress(blk)
    assert out == b"A" * (1 + 15 + 4 + 200) + b"tailz"


def test_block_rejects_zero_offset_and_far_offset():
    with pytest.raises(DecompressError):
        block_decompress(bytes([0x10]) + b"A" + struct.pack("<H", 0)
                         + bytes([0x00]))
    with pytest.raises(DecompressError):
        block_decompress(bytes([0x10]) + b"A" + struct.pack("<H", 9)
                         + bytes([0x00]))


def test_frame_layout_golden():
    data = b"x" * 40
    f = frame_compress(data)
    assert struct.unpack_from("<I", f, 0)[0] == 0x184D2204
    flg = f[4]
    assert flg >> 6 == 0x01          # version
    assert (flg >> 5) & 1            # independent blocks
    assert (flg >> 3) & 1            # content size present
    (declared,) = struct.unpack_from("<Q", f, 6)
    assert declared == 40
    # content checksum is the last 4 bytes
    assert struct.unpack("<I", f[-4:])[0] == xxh32(data)
    assert frame_decompress(f) == data


def test_frame_incompressible_stored_raw():
    """A block that doesn't shrink is stored with the high bit set
    (0..255 has no repeated 4-gram, so literal-only encoding is
    strictly larger than the input)."""
    data = bytes(range(256))
    f = frame_compress(data, content_size=False)
    (bsize,) = struct.unpack_from("<I", f, 7)
    assert bsize & 0x80000000
    assert frame_decompress(f) == data


@pytest.mark.parametrize("mutate_at", ["header", "block", "trailer"])
def test_frame_corrupt_rejected(mutate_at):
    f = bytearray(frame_compress(b"hello world " * 50))
    pos = {"header": 4, "block": 20, "trailer": len(f) - 2}[mutate_at]
    f[pos] ^= 0xFF
    with pytest.raises(DecompressError):
        frame_decompress(bytes(f))


def test_frame_truncation_rejected():
    f = frame_compress(b"hello world " * 50)
    for cut in (3, 6, 10, len(f) // 2, len(f) - 1):
        with pytest.raises(DecompressError):
            frame_decompress(f[:cut])


def test_multi_block_frame():
    data = bytes((i * 7 + 3) % 256 for i in range(200_000))
    f = frame_compress(data, block_max_id=4)   # 64 KiB blocks -> 4
    assert frame_decompress(f) == data


def _pb(x):
    return x.to_pybytes() if hasattr(x, "to_pybytes") else bytes(x)


def test_cross_implementation_against_liblz4():
    """Frames from the liblz4 bundled in pyarrow (linked-block mode,
    multi-block at 300 KB) decode here, and this encoder's frames
    decode in pyarrow's codec too."""
    import random

    pa = pytest.importorskip("pyarrow")
    codec = pa.Codec("lz4_frame")
    rng = random.Random(7)
    for n in (0, 1, 100, 5000, 300_000):
        data = bytes(rng.choice(b"abcdefgh \n") for _ in range(n))
        assert frame_decompress(_pb(codec.compress(data))) == data
        assert _pb(codec.decompress(frame_compress(data), n)) == data


@settings(max_examples=80, deadline=None)
@given(st.integers(0, 2 ** 31 - 1), st.integers(0, 4000))
@example(seed=0, n=12)     # encoder's short-input literal path boundary
@example(seed=0, n=13)     # first length with a legal match window
def test_round_trip_property(seed, n):
    import random

    rng = random.Random(seed)
    kind = seed % 4
    if kind == 0:
        data = bytes(rng.randrange(256) for _ in range(n))
    elif kind == 1:
        data = (b"spark " * (n // 6 + 1))[:n]
    elif kind == 2:
        data = bytes(rng.choice(b"ab") for _ in range(n))
    else:
        data = b"\x00" * n
    assert block_decompress(block_compress(data)) == data
    assert frame_decompress(frame_compress(data)) == data
