"""Spark reader/writer for .tri archives.

Read path: ``spark.read.format("binaryFile")`` lists and loads whole
archive files as (path, content) rows — one Spark task per file, which
is exactly the reference's unit of parallelism (one S3 object). A
``mapInPandas`` generator then snappy-decompresses and msgpack-decodes
each file (triton/archive_reader.go:12-28 semantics, corrupt-skip per
triton/stream_reader.go:174-194) and projects into the declared schema
through ``codec.decode.converter``, the rule every reader shares.

At 100 TB scale this is embarrassingly parallel (no shuffle: scan ->
narrow decode), and the decode is Arrow-batched per file. Canonical
storage remains Parquet; use this reader only for legacy .tri data,
then re-write to Parquet with ``archive_store.ingest_dataframe``.
"""

from __future__ import annotations

import datetime as _dt
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_META_FIELDS = [
    T.StructField("_archive_path", T.StringType(), True),
    T.StructField("_archive_date", T.StringType(), True),
    T.StructField("_archive_sort", T.LongType(), True),
]


def read_tri(spark: SparkSession, path: str, schema: T.StructType,
             path_glob: str = "*.tri", recursive: bool = True) -> DataFrame:
    """Read .tri archives under ``path`` into a DataFrame of ``schema``
    plus metadata columns ``_archive_path/_archive_date/_archive_sort``
    (parsed from the key grammar, for replay-order fidelity, SURVEY S15).
    """
    from go_triton_spark.codec.decode import converter
    from go_triton_spark.codec.tri import parse_key_name, read_tri_bytes

    out_schema = T.StructType(list(schema.fields) + _META_FIELDS)
    convs = [(f.name, converter(f.dataType)) for f in schema.fields]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for path_val, content in zip(pdf["path"], pdf["content"]):
                # key suffix: .../YYYYMMDD/name-client-ts.tri
                tail = "/".join(str(path_val).split("/")[-2:])
                try:
                    ak = parse_key_name(tail)
                    date_s, sort_v = ak.t.strftime("%Y%m%d"), ak.sort_value
                except ValueError:
                    date_s, sort_v = None, None
                meta = (str(path_val), date_s, sort_v)
                for rec in read_tri_bytes(bytes(content)):
                    rows.append(tuple(c(rec.get(n)) for n, c in convs) + meta)
            # object columns: pandas would widen a long column holding
            # a null to float64 and round values above 2**53
            yield pd.DataFrame(rows, columns=out_schema.names, dtype="object")

    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", path_glob)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
        .select("path", "content")
    )
    return binary.mapInPandas(decode, schema=out_schema)


def write_tri(df: DataFrame, out_dir: str, stream_name: str, client_name: str,
              when: _dt.datetime | None = None) -> list[str]:
    """Write a DataFrame as reference-compatible .tri archive files.

    One output file per input partition, keyed
    ``YYYYMMDD/<stream>-<client>-<unixts+i>.tri`` (the +i keeps the
    per-partition files sort-ordered, mirroring the reference's one file
    per rotation). Used by ``foreachBatch`` in .tri-compat streaming
    mode and by batch export. Collects nothing to the driver: each
    partition writes its own file (requires a shared filesystem / s3a in
    prod — same contract as the reference's uploader).
    """
    from go_triton_spark.codec.tri import generate_key_name, write_tri_bytes

    if when is None:
        when = _dt.datetime.now(tz=_dt.timezone.utc)
    base_ts = int(when.timestamp())
    day_s = when.strftime("%Y%m%d")
    names = [f.name for f in df.schema.fields]

    def write_partition(idx_rows):
        idx, rows = idx_rows
        recs = [{n: row[n] for n in names if row[n] is not None} for row in rows]
        if not recs:
            return []
        key = generate_key_name(stream_name, client_name,
                                when.replace(tzinfo=_dt.timezone.utc))
        # unique per partition: bump the unix-ts suffix by the partition idx
        key = f"{day_s}/{stream_name}-{client_name}-{base_ts + idx}.tri"
        full = os.path.join(out_dir, key)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        # dot-temp + rename: on S3 a PUT is atomic (the reference's
        # uploader contract); a local/NFS write-in-place is not, and a
        # concurrent read_tri listing could decode a truncated file.
        # Rename gives the same appears-complete-or-not-at-all
        # semantics, and both tri readers match only *.tri names.
        tmp = f"{os.path.dirname(full)}/.{os.path.basename(full)}.tmp"
        with open(tmp, "wb") as f:
            f.write(write_tri_bytes(recs))
        os.rename(tmp, full)
        return [full]

    paths = (
        df.rdd.mapPartitionsWithIndex(lambda i, it: write_partition((i, it)))
        .collect()
    )
    return sorted(paths)
