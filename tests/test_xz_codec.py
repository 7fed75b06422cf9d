"""xz through codec/compressed.py: liblzma round trips over presets,
check types and filter chains, multi-stream input, corrupt gates."""

import lzma
import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from go_triton_spark.codec.compressed import DecompressError, decompress


def xz_decompress(data):
    return decompress("xz", data)


@pytest.mark.parametrize("preset", [0, 1, 6, 9])
@pytest.mark.parametrize("check", [lzma.CHECK_NONE, lzma.CHECK_CRC32,
                                   lzma.CHECK_CRC64, lzma.CHECK_SHA256])
def test_differential_against_liblzma(preset, check):
    rng = random.Random(preset * 31 + check)
    for n in (0, 1, 100, 5000, 100_000):
        for kind in range(3):
            if kind == 0:
                data = bytes(rng.choice(b"abcdefgh \n") for _ in range(n))
            elif kind == 1:
                data = (b'{"id": 1, "text": "hello"}\n' * (n // 27 + 1))[:n]
            else:
                data = bytes(rng.randrange(256) for _ in range(n))
            z = lzma.compress(data, format=lzma.FORMAT_XZ, check=check,
                              preset=preset)
            assert xz_decompress(z) == data, (preset, check, n, kind)


def test_multi_block_and_concatenated_streams():
    """liblzma splits blocks under a block_size filter limit; plain
    concatenation of .xz streams is also legal and must decode."""
    a = lzma.compress(b"first stream ", format=lzma.FORMAT_XZ)
    b = lzma.compress(b"second stream", format=lzma.FORMAT_XZ)
    assert xz_decompress(a + b) == b"first stream second stream"
    # with 4-byte-aligned stream padding between them
    assert xz_decompress(a + b"\x00" * 8 + b) == \
        b"first stream second stream"


def test_concatenated_streams_beyond_toy_sizes():
    """Two ~5KB streams, each with its own dictionary, decode in order
    with and without padding between them."""
    rng = random.Random(0)
    d1 = bytes(rng.choice(b"abcdefgh \n") for _ in range(5000))
    d2 = bytes(rng.choice(b"ijklmnop \n") for _ in range(5000))
    a = lzma.compress(d1, format=lzma.FORMAT_XZ)
    b = lzma.compress(d2, format=lzma.FORMAT_XZ)
    assert xz_decompress(a + b) == d1 + d2
    assert xz_decompress(a + b"\x00" * 8 + b) == d1 + d2


def test_multi_block_xz_cli():
    """`xz -T --block-size` emits genuinely multi-block streams (one
    dict reset per block) — the same regression class as stream
    concatenation, produced by the reference CLI encoder."""
    import shutil
    import subprocess
    import tempfile

    if not shutil.which("xz"):
        pytest.skip("xz CLI not on PATH")
    rng = random.Random(7)
    data = bytes(rng.choice(b"spark engine \n") for _ in range(200_000))
    with tempfile.TemporaryDirectory() as td:
        src = f"{td}/mb.bin"
        with open(src, "wb") as fh:
            fh.write(data)
        subprocess.run(["xz", "-f", "-T4", "--block-size=32KiB", src],
                       check=True)
        with open(src + ".xz", "rb") as fh:
            z = fh.read()
    assert xz_decompress(z) == data


def test_custom_filter_chain_props():
    """Non-default lc/lp/pb travel through LZMA2 props resets, and a
    delta filter ahead of LZMA2 decodes."""
    data = (b"spark " * 500) + bytes(range(256)) * 4
    for lc, lp, pb in [(0, 2, 2), (4, 0, 0), (2, 1, 1), (0, 0, 0)]:
        filters = [{"id": lzma.FILTER_LZMA2, "preset": 6, "lc": lc,
                    "lp": lp, "pb": pb}]
        z = lzma.compress(data, format=lzma.FORMAT_XZ, filters=filters)
        assert xz_decompress(z) == data, (lc, lp, pb)
    filters = [{"id": lzma.FILTER_DELTA, "dist": 4},
               {"id": lzma.FILTER_LZMA2, "preset": 6}]
    z = lzma.compress(data, format=lzma.FORMAT_XZ, filters=filters)
    assert xz_decompress(z) == data


def test_every_byte_flip_rejected():
    """XZ's layered CRCs (header CRC32, block check CRC64, index and
    footer CRC32) make every single-byte flip detectable."""
    data = b"the quick brown fox jumps over the lazy dog " * 40
    z = lzma.compress(data, format=lzma.FORMAT_XZ, check=lzma.CHECK_CRC64)
    survived = []
    for i in range(len(z)):
        m = bytearray(z)
        m[i] ^= 0xFF
        try:
            if xz_decompress(bytes(m)) != data:
                continue    # wrong output would be a miss, but count it
            survived.append(i)
        except DecompressError:
            pass
    assert not survived, f"byte flips decoded cleanly at {survived}"


def test_truncation_rejected():
    z = lzma.compress(b"hello world " * 100, format=lzma.FORMAT_XZ)
    for cut in (3, 11, len(z) // 2, len(z) - 1):
        with pytest.raises(DecompressError):
            xz_decompress(z[:cut])


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 2 ** 31 - 1), st.integers(0, 30_000),
       st.sampled_from([0, 3, 9]))
def test_round_trip_property_via_liblzma(seed, n, preset):
    rng = random.Random(seed)
    kind = seed % 3
    if kind == 0:
        data = bytes(rng.randrange(256) for _ in range(n))
    elif kind == 1:
        data = bytes(rng.choice(b"abcdef \n") for _ in range(n))
    else:
        data = (b"xz " * (n // 3 + 1))[:n]
    z = lzma.compress(data, format=lzma.FORMAT_XZ, preset=preset)
    assert xz_decompress(z) == data
