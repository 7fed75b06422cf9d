"""Compressed text-shard ingest: `.jsonl.lz4` / `.jsonl.xz` / `.jsonl.zst`.

The compressions that actually wrap large public LLM corpora on object
stores — zstd (The Pile, Dolma, RedPajama releases), xz and LZ4
frames — decoded by one function, ``codec.compressed.decompress``, on
the system libraries (stdlib lzma; libzstd and liblz4 bundled in
pyarrow). Each query synthesizes per-doc shards from the documents
table (scaffolding — production shards arrive via
``spark.read.format("binaryFile")``), then runs the REAL pipeline: frame
decode -> JSONL parse -> per-record projection, with checksum-gated
corrupt-skip. The oracle recomputes the per-record values straight from
the source table, so the driver gate is a differential test of the
whole decompress+parse path: any mis-decoded byte shifts the
codepoint-sum column.

Scale shape: one Arrow-batched ``mapInPandas`` pass, zero shuffles,
rows independent — the same embarrassingly-parallel contract as the
mm decode family. At 100 TB the scan partitioning (one task per shard
group) is the only axis that matters, and nothing here fights it.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from go_triton_spark.operators.registry import query, spread, tables

_SHARD_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("seq", T.LongType()),
    T.StructField("body_chars", T.LongType()),
    T.StructField("cp_sum", T.LongType()),
])

# Both queries emit one row per JSONL record: (doc_id, seq) key,
# codepoint count and codepoint SUM of the decoded body — the sum makes
# the gate sensitive to any single mis-decoded character, not just to
# length drift.
_SHARD_ORACLE = """
    SELECT d.doc_id, gk.k AS seq,
           cast(length(d.text) as bigint) AS body_chars,
           cast(coalesce((SELECT sum(unicode(ch.c))
                          FROM unnest(string_split(d.text, '')) AS ch(c)
                          WHERE ch.c <> ''), 0) as bigint) AS cp_sum
    FROM documents d
    CROSS JOIN generate_series(0, 2) gk(k)
    WHERE gk.k < 1 + d.doc_id %% 3 AND d.doc_id %% 173 <> %d
"""


def _shard_rows(doc_id: int, text: str) -> bytes:
    """JSONL shard scaffolding: 1-3 records of the doc's text."""
    lines = [
        json.dumps({"doc_id": doc_id, "seq": k, "body": text},
                   ensure_ascii=False)
        for k in range(1 + doc_id % 3)
    ]
    return ("\n".join(lines) + "\n").encode("utf-8")


def _extract_records(doc_id: int, payload: bytes) -> list[tuple]:
    rows = []
    for line in payload.decode("utf-8").splitlines():
        if not line:
            continue
        rec = json.loads(line)
        body = rec["body"]
        rows.append((doc_id, int(rec["seq"]), len(body),
                     sum(ord(c) for c in body)))
    return rows


@query(
    "text_lz4_jsonl_ingest",
    oracle=_SHARD_ORACLE % 11,
    tags=("llm", "text", "ingest"),
)
def text_lz4_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`.jsonl.lz4` shard ingest: the shards are built by this
    package's LZ4 frame encoder (codec/lz4.py: xxHash32 header
    checksum, greedy-compressed blocks with per-block xxHash32, the
    EndMark and whole-content checksum) and decoded by liblz4, which
    verifies every checksum on read.

    Corruption flips one byte inside the first block's body on every
    173rd shard; the block checksum rejects it and the shard is
    skipped (counted by the oracle's WHERE). The JSON bodies repeat
    the doc text across records, so LZ4 back-references genuinely
    fire (the second record compresses to a match chain, not
    literals).
    """
    from go_triton_spark.codec.compressed import DecompressError, \
        decompress
    from go_triton_spark.codec.lz4 import frame_compress

    (d,) = tables(spark, sf_dir, "documents")
    src = spread(d.select("doc_id", "text"), spark, rows_per_task=500)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                shard = bytearray(
                    frame_compress(_shard_rows(doc_id, str(text))))
                if doc_id % 173 == 11:
                    shard[min(22, len(shard) - 6)] ^= 0xFF
                try:
                    payload = decompress("lz4", bytes(shard))
                except DecompressError:
                    continue  # corrupt-skip
                rows.extend(_extract_records(doc_id, payload))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _SHARD_SCHEMA])

    return src.mapInPandas(run, schema=_SHARD_SCHEMA)


@query(
    "text_xz_jsonl_ingest",
    oracle=_SHARD_ORACLE % 47,
    tags=("llm", "text", "ingest"),
)
def text_xz_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`.jsonl.xz` shard ingest — the other compression real corpora
    ship in (Wikipedia dumps, The Pile's .jsonl.xz variants). The
    shards are compressed and decoded by stdlib ``lzma`` (liblzma on
    every executor), which verifies the container's layered checks
    (block-header CRC32, CRC64 block check, index + footer CRC32).

    Corruption flips one byte in the middle of every 173rd shard's
    compressed data; a layered CRC rejects it and the shard is
    skipped (counted by the oracle's WHERE).
    """
    import lzma

    from go_triton_spark.codec.compressed import DecompressError, \
        decompress

    (d,) = tables(spark, sf_dir, "documents")
    src = spread(d.select("doc_id", "text"), spark, rows_per_task=500)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                shard = bytearray(lzma.compress(
                    _shard_rows(doc_id, str(text)),
                    format=lzma.FORMAT_XZ, check=lzma.CHECK_CRC64))
                if doc_id % 173 == 47:
                    shard[len(shard) // 2] ^= 0xFF
                try:
                    payload = decompress("xz", bytes(shard))
                except DecompressError:
                    continue  # corrupt-skip
                rows.extend(_extract_records(doc_id, payload))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _SHARD_SCHEMA])

    return src.mapInPandas(run, schema=_SHARD_SCHEMA)


@query(
    "text_zst_jsonl_ingest",
    oracle=_SHARD_ORACLE % 29,
    tags=("llm", "text", "ingest"),
)
def text_zst_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`.jsonl.zst` shard ingest — the compression wrapping most large
    public text corpora (The Pile, Dolma, RedPajama). The shards are
    compressed and decoded by the libzstd bundled in pyarrow
    (available on every executor). Corruption truncates the final
    byte of every 173rd shard — structurally detected as a truncated
    frame, since libzstd frames carry no content checksum by default.
    """
    import pyarrow as pa

    from go_triton_spark.codec.compressed import DecompressError, \
        decompress

    (d,) = tables(spark, sf_dir, "documents")
    src = spread(d.select("doc_id", "text"), spark, rows_per_task=500)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        codec = pa.Codec("zstd", compression_level=3)
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                comp = codec.compress(_shard_rows(doc_id, str(text)))
                shard = (comp.to_pybytes()
                         if hasattr(comp, "to_pybytes") else bytes(comp))
                if doc_id % 173 == 29:
                    shard = shard[:-1]
                try:
                    payload = decompress("zstd", shard)
                except DecompressError:
                    continue  # corrupt-skip
                rows.extend(_extract_records(doc_id, payload))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _SHARD_SCHEMA])

    return src.mapInPandas(run, schema=_SHARD_SCHEMA)
