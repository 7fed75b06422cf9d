"""zstd through codec/compressed.py: libzstd round trips over levels
and entropy paths, hand-built RFC 8878 raw-block frames, corrupt
gates."""

import random
import shutil
import struct
import subprocess

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from go_triton_spark.codec.compressed import DecompressError
from go_triton_spark.codec.compressed import decompress as _decompress


def decompress(data):
    return _decompress("zstd", data)


def _zstd(data, level=3):
    return pa.Codec("zstd", compression_level=level).compress(
        data).to_pybytes()


def _raw_frame(data):
    """RFC 8878 frame of raw blocks: Single_Segment with an 8-byte
    Frame_Content_Size, no checksum, blocks of at most 128 KiB."""
    out = bytearray(struct.pack("<IBQ", 0xFD2FB528, 0xE0, len(data)))
    step = 1 << 17
    starts = range(0, len(data), step) if data else [0]
    for i in starts:
        chunk = data[i:i + step]
        last = i + step >= len(data)
        out += (len(chunk) << 3 | last).to_bytes(3, "little") + chunk
    return bytes(out)


@pytest.mark.parametrize("level", [1, 3, 19])
@pytest.mark.parametrize("kind", ["text", "jsonl", "random", "rle",
                                  "unicode", "longrange"])
def test_differential_against_libzstd(level, kind):
    """Every entropy path (predefined/FSE/RLE/repeat sequence tables,
    1- and 4-stream Huffman, treeless reuse, raw/RLE literals) as the
    reference encoder actually emits them at different levels."""
    rng = random.Random(hash((level, kind)) & 0xFFFF)
    for n in (0, 1, 50, 1000, 20000, 200000):
        if kind == "text":
            data = bytes(rng.choice(b"abcdefgh \n") for _ in range(n))
        elif kind == "jsonl":
            line = b'{"id": 1, "text": "hello world common crawl"}\n'
            data = (line * (n // len(line) + 1))[:n]
        elif kind == "random":
            data = bytes(rng.randrange(256) for _ in range(n))
        elif kind == "rle":
            data = b"\x07" * n
        elif kind == "unicode":
            data = ("héllo wörld 漢字 " * (n // 20 + 1)).encode()[:n]
        else:
            chunk = bytes(rng.randrange(256) for _ in range(70000))
            data = (chunk * (n // 70000 + 1))[:n]
        assert decompress(_zstd(data, level)) == data, (level, kind, n)


def test_concatenated_and_skippable_frames():
    a = _zstd(b"first frame ")
    b = _zstd(b"second frame")
    skip = struct.pack("<II", 0x184D2A53, 5) + b"junk!"
    assert decompress(a + skip + b) == b"first frame second frame"


def test_raw_block_frames_accepted_by_libzstd():
    rng = random.Random(4)
    for n in (0, 5, 1000, 300000):
        data = bytes(rng.randrange(256) for _ in range(n))
        assert decompress(_raw_frame(data)) == data


def test_own_frame_checksum_catches_flips():
    """The zstd CLI writes the content checksum by default, so every
    byte flip is caught."""
    if not shutil.which("zstd"):
        pytest.skip("zstd CLI not on PATH")
    data = b"the quick brown fox " * 20
    f = subprocess.run(["zstd", "-q", "-c", "--no-progress"], input=data,
                       capture_output=True, check=True).stdout
    assert decompress(f) == data
    for i in range(len(f)):
        bad = bytearray(f)
        bad[i] ^= 0xFF
        with pytest.raises(DecompressError):
            decompress(bytes(bad))


def test_truncation_always_rejected():
    z = _zstd(b"the quick brown fox jumps over the lazy dog " * 300, 19)
    for cut in (2, 5, len(z) // 2, len(z) - 1):
        with pytest.raises(DecompressError):
            decompress(z[:cut])


def test_dictionary_frames_rejected_loudly():
    """A frame declaring a dictionary id must not silently misdecode."""
    z = bytearray(_zstd(b"hello hello hello"))
    z[4] |= 0x01                    # set Dictionary_ID_flag to 1 byte
    z.insert(5 + (1 if not (z[4] >> 5) & 1 else 0), 42)
    with pytest.raises(DecompressError):
        decompress(bytes(z))


def test_reserved_block_type_rejected():
    f = bytearray(_raw_frame(b"abc"))
    # block header starts after magic(4) + fhd(1) + fcs(8)
    hdr = int.from_bytes(f[13:16], "little") | 0b110
    f[13:16] = hdr.to_bytes(3, "little")
    with pytest.raises(DecompressError):
        decompress(bytes(f))


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2 ** 31 - 1), st.integers(0, 30000),
       st.sampled_from([1, 3, 9, 19]))
def test_round_trip_property_via_libzstd(seed, n, level):
    rng = random.Random(seed)
    kind = seed % 3
    if kind == 0:
        data = bytes(rng.randrange(256) for _ in range(n))
    elif kind == 1:
        data = bytes(rng.choice(b"abcdef \n") for _ in range(n))
    else:
        data = (b"zstd " * (n // 5 + 1))[:n]
    assert decompress(_zstd(data, level)) == data
    assert decompress(_raw_frame(data)) == data
