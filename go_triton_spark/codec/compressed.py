"""One decompressor per byte format for compressed dataset shards.

- ``xz``: CPython's stdlib ``lzma`` (the system liblzma). Concatenated
  streams and null Stream Padding in groups of four bytes decode; any
  other trailing bytes are rejected.
- ``zstd`` and ``lz4`` (the LZ4 frame format): the libzstd and liblz4
  bundled in pyarrow, read through ``CompressedInputStream``. pyarrow
  is already required on every executor for ``mapInPandas``.
  Concatenated and skippable frames decode.

Every rejection (corrupt or truncated input, or output past
``MAX_OUTPUT``) raises ``DecompressError``, a ValueError, which the
ingest operators' corrupt-skip catches.
"""

from __future__ import annotations

import lzma

import pyarrow as pa

# Output bound for all kinds, checked while reading: a small corrupt
# or hostile shard must not expand without limit on an executor.
MAX_OUTPUT = 1 << 33
_CHUNK = 1 << 20


class DecompressError(ValueError):
    """Corrupt, truncated or oversized compressed input."""


def decompress(kind: str, data: bytes) -> bytes:
    """Decode a whole ``xz``, ``zstd`` or ``lz4`` byte string."""
    if kind == "xz":
        return _xz(data)
    if kind not in ("zstd", "lz4"):
        raise ValueError(f"unknown compression kind {kind!r}")
    if kind == "lz4" and not data:
        raise DecompressError("lz4: empty input has no frame header")
    out = bytearray()
    try:
        with pa.CompressedInputStream(pa.BufferReader(data), kind) as src:
            while chunk := src.read(_CHUNK):
                _append(out, chunk)
    except (OSError, pa.ArrowException) as e:
        raise DecompressError(f"{kind}: {e}") from e
    return bytes(out)


def _xz(data: bytes) -> bytes:
    out = bytearray()
    rest = data
    while True:
        stripped = rest.lstrip(b"\0")
        if (len(rest) - len(stripped)) % 4:
            raise DecompressError("xz: stream padding not a multiple of 4")
        if not stripped:
            return bytes(out)
        dec = lzma.LZMADecompressor(lzma.FORMAT_XZ)
        try:
            _append(out, dec.decompress(stripped, _CHUNK))
            while not dec.eof:
                if dec.needs_input:
                    raise DecompressError("xz: truncated stream")
                _append(out, dec.decompress(b"", _CHUNK))
        except lzma.LZMAError as e:
            raise DecompressError(f"xz: {e}") from e
        rest = dec.unused_data


def _append(out: bytearray, chunk: bytes) -> None:
    out += chunk
    if len(out) > MAX_OUTPUT:
        raise DecompressError(f"decompressed output over {MAX_OUTPUT} bytes")
