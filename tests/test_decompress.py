"""codec/compressed.py: the one decompressor for xz, zstd and LZ4 frames.

One table of edge inputs with the exact outcome each must have (the
plaintext, or ``DecompressError``), then the sweeps every kind shares:
each truncation and each corrupted byte of a checksummed frame is
rejected, and the output bound holds. Real-encoder round trips per
format live in tests/test_{xz,zstd,lz4}_codec.py.
"""

import lzma
import struct

import pyarrow as pa
import pytest

from go_triton_spark.codec import compressed
from go_triton_spark.codec.compressed import DecompressError, decompress
from go_triton_spark.codec.lz4 import frame_compress

A = b'{"id": 1, "text": "first"}\n' * 40
B = b'{"id": 2, "text": "second"}\n' * 40
XZ_A = lzma.compress(A, format=lzma.FORMAT_XZ, check=lzma.CHECK_CRC64)
XZ_B = lzma.compress(B, format=lzma.FORMAT_XZ)
ZST_A = pa.Codec("zstd").compress(A).to_pybytes()
ZST_B = pa.Codec("zstd", compression_level=19).compress(B).to_pybytes()
LZ4_A = frame_compress(A)                     # checksummed blocks
LZ4_B = pa.Codec("lz4").compress(B).to_pybytes()   # liblz4's own frame
ZST_SKIP = struct.pack("<II", 0x184D2A53, 5) + b"junk!"
LZ4_SKIP = struct.pack("<II", 0x184D2A50, 4) + b"meta"
GARBAGE = b"garbage-garbage-garbage!"

CASES = [
    # xz: Stream Padding is null bytes in multiples of four, around
    # streams; anything else after a stream is corrupt input.
    ("xz-empty", "xz", b"", b""),
    ("xz-only-padding", "xz", b"\0" * 4, b""),
    ("xz-pad-4", "xz", XZ_A + b"\0" * 4, A),
    ("xz-pad-3", "xz", XZ_A + b"\0" * 3, DecompressError),
    ("xz-pad-13", "xz", XZ_A + b"\0" * 13, DecompressError),
    ("xz-leading-pad", "xz", b"\0" * 4 + XZ_A, A),
    ("xz-concat", "xz", XZ_A + XZ_B, A + B),
    ("xz-padded-concat", "xz", XZ_A + b"\0" * 8 + XZ_B, A + B),
    ("xz-garbage-1", "xz", XZ_A + b"g", DecompressError),
    # regression: plain lzma.decompress silently drops 12 or more
    # trailing bytes that do not parse as another stream
    ("xz-garbage-24", "xz", XZ_A + GARBAGE, DecompressError),
    ("xz-not-xz", "xz", GARBAGE, DecompressError),
    # zstd: skippable frames carry no content
    ("zstd-empty", "zstd", b"", b""),
    ("zstd-skippable-alone", "zstd", ZST_SKIP, b""),
    ("zstd-skippable-around", "zstd", ZST_SKIP + ZST_A + ZST_SKIP, A),
    ("zstd-concat", "zstd", ZST_A + ZST_B, A + B),
    ("zstd-skippable-truncated", "zstd", ZST_SKIP[:-1], DecompressError),
    ("zstd-garbage-1", "zstd", ZST_A + b"\0", DecompressError),
    ("zstd-garbage-24", "zstd", ZST_A + GARBAGE, DecompressError),
    # lz4: a frame stream needs at least one frame header
    ("lz4-empty", "lz4", b"", DecompressError),
    ("lz4-skippable-alone", "lz4", LZ4_SKIP, b""),
    ("lz4-skippable-around", "lz4", LZ4_SKIP + LZ4_A + LZ4_SKIP, A),
    ("lz4-concat", "lz4", LZ4_A + LZ4_B, A + B),
    ("lz4-skippable-truncated", "lz4", LZ4_SKIP[:-1], DecompressError),
    ("lz4-garbage-1", "lz4", LZ4_A + b"\0", DecompressError),
    ("lz4-garbage-24", "lz4", LZ4_A + GARBAGE, DecompressError),
]


@pytest.mark.parametrize("kind,data,want", [c[1:] for c in CASES],
                         ids=[c[0] for c in CASES])
def test_outcome(kind, data, want):
    if want is DecompressError:
        with pytest.raises(DecompressError):
            decompress(kind, data)
    else:
        assert decompress(kind, data) == want


@pytest.mark.parametrize("kind,frame", [("xz", XZ_A), ("zstd", ZST_A),
                                        ("lz4", LZ4_A), ("lz4", LZ4_B)],
                         ids=["xz", "zstd", "lz4", "liblz4"])
def test_every_truncation_rejected(kind, frame):
    for cut in range(1, len(frame)):
        with pytest.raises(DecompressError):
            decompress(kind, frame[:cut])


@pytest.mark.parametrize("kind,frame", [("xz", XZ_A), ("lz4", LZ4_A)],
                         ids=["xz", "lz4"])
def test_every_byte_flip_rejected(kind, frame):
    for i in range(len(frame)):
        bad = bytearray(frame)
        bad[i] ^= 0xFF
        with pytest.raises(DecompressError):
            decompress(kind, bytes(bad))


@pytest.mark.parametrize("kind,frame", [("xz", XZ_A), ("zstd", ZST_A),
                                        ("lz4", LZ4_A)],
                         ids=["xz", "zstd", "lz4"])
def test_output_bound(kind, frame, monkeypatch):
    monkeypatch.setattr(compressed, "MAX_OUTPUT", len(A))
    assert decompress(kind, frame) == A
    monkeypatch.setattr(compressed, "MAX_OUTPUT", len(A) - 1)
    with pytest.raises(DecompressError, match="over"):
        decompress(kind, frame)


def test_unknown_kind_is_a_caller_error():
    with pytest.raises(ValueError) as info:
        decompress("gzip", b"")
    assert not isinstance(info.value, DecompressError)
