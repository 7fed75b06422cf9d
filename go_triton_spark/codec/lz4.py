"""Pure-Python LZ4 encoder: block format + frame format (lz4.org spec).

Builds ``.jsonl.lz4`` shards for the LZ4 ingest query, which decodes
them with liblz4 (codec/compressed.py). The frames carry per-block
xxHash32 checksums, which pyarrow's LZ4 frame writer omits, so a
flipped byte inside a block is caught on read. Implemented from the
public specs (lz4_Block_format.md / lz4_Frame_format.md, lz4.github.io):

- ``block_compress`` — greedy single-probe hash-table matcher honoring
  the spec's end conditions (last 5 bytes literal, no match starting
  within the last 12 bytes); round-trips through any compliant decoder.
- ``frame_compress`` — magic 0x184D2204, FLG/BD descriptor with
  xxHash32 header checksum, independent blocks with per-block
  checksums, the EndMark, and the whole-content xxHash32 trailer.
- ``xxh32`` — complete xxHash32 (the frame format's only checksum
  primitive), validated against the reference vectors in its spec.
"""

from __future__ import annotations

import struct

_MAGIC = 0x184D2204

# Block-max-size table: BD byte bits 6-4 (values 4..7 are legal).
_BLOCK_MAX = {4: 1 << 16, 5: 1 << 18, 6: 1 << 20, 7: 1 << 22}


# ------------------------------------------------------------------ xxh32

_P1 = 2654435761
_P2 = 2246822519
_P3 = 3266489917
_P4 = 668265263
_P5 = 374761393
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash32 per the public spec (github.com/Cyan4973/xxHash)."""
    n = len(data)
    pos = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P1) & _M32
        limit = n - 16
        while pos <= limit:
            a, b, c, d = struct.unpack_from("<4I", data, pos)
            v1 = (_rotl32((v1 + a * _P2) & _M32, 13) * _P1) & _M32
            v2 = (_rotl32((v2 + b * _P2) & _M32, 13) * _P1) & _M32
            v3 = (_rotl32((v3 + c * _P2) & _M32, 13) * _P1) & _M32
            v4 = (_rotl32((v4 + d * _P2) & _M32, 13) * _P1) & _M32
            pos += 16
        acc = (_rotl32(v1, 1) + _rotl32(v2, 7)
               + _rotl32(v3, 12) + _rotl32(v4, 18)) & _M32
    else:
        acc = (seed + _P5) & _M32
    acc = (acc + n) & _M32
    while pos + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, pos)
        acc = (_rotl32((acc + lane * _P3) & _M32, 17) * _P4) & _M32
        pos += 4
    while pos < n:
        acc = (_rotl32((acc + data[pos] * _P5) & _M32, 11) * _P1) & _M32
        pos += 1
    acc ^= acc >> 15
    acc = (acc * _P2) & _M32
    acc ^= acc >> 13
    acc = (acc * _P3) & _M32
    acc ^= acc >> 16
    return acc


# ------------------------------------------------------------------ block

def block_compress(data: bytes) -> bytes:
    """Greedy LZ4 block encoder (single-probe hash table).

    Honors the spec's parsing restrictions: the last 5 bytes are always
    literals and no match begins within the last 12 bytes, so output is
    decodable by any compliant decoder (including lz4's reference one).
    """
    n = len(data)
    out = bytearray()

    def emit(lit_start: int, lit_end: int,
             match_len: int = 0, offset: int = 0) -> None:
        nonlocal out
        lit_len = lit_end - lit_start
        ml = match_len - 4 if match_len else 0
        token = (min(lit_len, 15) << 4) | min(ml, 15)
        out.append(token)
        rem = lit_len - 15
        while rem >= 0:
            out.append(min(rem, 255))
            if rem < 255:
                break
            rem -= 255
        out += data[lit_start:lit_end]
        if match_len:
            out += struct.pack("<H", offset)
            rem = ml - 15
            while rem >= 0:
                out.append(min(rem, 255))
                if rem < 255:
                    break
                rem -= 255

    if n < 13:
        emit(0, n)
        return bytes(out)

    table: dict[bytes, int] = {}
    anchor = 0
    pos = 0
    match_limit = n - 12   # no match may START at or beyond this
    while pos < match_limit:
        key = data[pos:pos + 4]
        cand = table.get(key)
        table[key] = pos
        if cand is not None and pos - cand <= 0xFFFF \
                and data[cand:cand + 4] == key:
            # Extend the match forward, stopping 5 bytes from the end.
            mlen = 4
            limit = n - 5
            while pos + mlen < limit \
                    and data[cand + mlen] == data[pos + mlen]:
                mlen += 1
            emit(anchor, pos, mlen, pos - cand)
            pos += mlen
            anchor = pos
        else:
            pos += 1
    emit(anchor, n)
    return bytes(out)


# ------------------------------------------------------------------ frame

def frame_compress(data: bytes, block_max_id: int = 4,
                   block_checksum: bool = True,
                   content_checksum: bool = True,
                   content_size: bool = True) -> bytes:
    """Assemble an LZ4 frame (independent blocks, v01 descriptor)."""
    if block_max_id not in _BLOCK_MAX:
        raise ValueError(f"illegal block-max id {block_max_id}")
    flg = (0x01 << 6) | (1 << 5)           # version 01, independent
    if block_checksum:
        flg |= 1 << 4
    if content_size:
        flg |= 1 << 3
    if content_checksum:
        flg |= 1 << 2
    bd = block_max_id << 4
    desc = bytes([flg, bd])
    if content_size:
        desc += struct.pack("<Q", len(data))
    out = bytearray(struct.pack("<I", _MAGIC))
    out += desc
    out.append((xxh32(desc) >> 8) & 0xFF)
    step = _BLOCK_MAX[block_max_id]
    for i in range(0, len(data), step):
        chunk = data[i:i + step]
        comp = block_compress(chunk)
        if len(comp) < len(chunk):
            out += struct.pack("<I", len(comp))
            body = comp
        else:
            out += struct.pack("<I", len(chunk) | 0x80000000)
            body = chunk
        out += body
        if block_checksum:
            out += struct.pack("<I", xxh32(body))
    out += struct.pack("<I", 0)            # EndMark
    if content_checksum:
        out += struct.pack("<I", xxh32(data))
    return bytes(out)
