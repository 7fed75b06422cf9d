"""``spark.read.format("tri")`` — a registered Python DataSource for
.tri archives (PySpark 4 DataSource API).

Where ``tri_source.read_tri`` composes binaryFile + mapInPandas, this
packages the same codec as a first-class format: schema declared with
``.schema(...)``, one input partition per archive file (the reference's
unit of parallelism — one S3 object, triton/archive.go:27-43), records
coerced by ``codec.decode.converter`` like every other reader, and a
job-atomic ``df.write.format("tri")``. It has no streaming mode: the
streaming source is ``format("kinesis")`` (``kinesis_boto3.py``).

Registration is per-session: ``register_tri_datasource(spark)``. The
decode runs in the Python data-source worker (Arrow-batched back to the
JVM); at 100 TB this is scan -> narrow decode with no shuffle, same as
the mapInPandas path. Canonical storage remains Parquet — this format
exists for legacy .tri data at the edges.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql import types as T


def _list_tri_files(path: str) -> list[str]:
    """All .tri files under ``path``, in (date, sort-value) archive
    order (triton/store_reader.go:36-52 semantics: lexicographic key
    order equals chronological order for the reference's key grammar)."""
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".tri"):
                out.append(os.path.join(root, f))
    return sorted(out)


def _decode_file(fpath: str, schema: T.StructType) -> Iterator[tuple]:
    """Decode one archive into schema-ordered tuples (corrupt-skip)."""
    # local imports: this body runs inside the Python data-source
    # worker, which pickles the reader object by value
    from go_triton_spark.codec.decode import converter
    from go_triton_spark.codec.tri import read_tri_bytes

    convs = [(f.name, converter(f.dataType)) for f in schema.fields]
    with open(fpath, "rb") as fh:
        data = fh.read()
    for rec in read_tri_bytes(data):
        yield tuple(c(rec.get(n)) for n, c in convs)


class _TriFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class TriBatchReader(DataSourceReader):
    def __init__(self, options, schema: T.StructType):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("tri datasource requires .load(path)")
        self.schema_ = schema

    def partitions(self):
        return [_TriFilePartition(p) for p in _list_tri_files(self.root)]

    def read(self, partition: _TriFilePartition) -> Iterator[tuple]:
        return _decode_file(partition.path, self.schema_)


class TriDataSource(DataSource):
    """.tri archive format (batch read, job-atomic append write)."""

    @classmethod
    def name(cls) -> str:
        return "tri"

    def schema(self):
        raise ValueError(
            "tri datasource needs an explicit .schema(...) — .tri files "
            "are schemaless msgpack maps (SURVEY §1.3: schema-on-read)")

    def reader(self, schema: T.StructType) -> TriBatchReader:
        return TriBatchReader(self.options, schema)

    def writer(self, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise ValueError("tri writer is append-only (archives are "
                             "immutable, SURVEY S8); use mode('append')")
        return TriBatchWriter(self.options, schema)


def register_tri_datasource(spark) -> None:
    spark.dataSource.register(TriDataSource)


@dataclass
class TriCommitMessage(WriterCommitMessage):
    staged: str | None = None
    final: str | None = None


class TriBatchWriter(DataSourceWriter):
    """``df.write.format("tri")`` — one reference-keyed archive file per
    input partition (the writer analogue of S8/S9: partition = rotation
    unit, key grammar per triton/store.go:97-104). Files are written to
    a staging name and renamed on commit; abort removes staged files,
    so a failed job leaves no partial archives."""

    def __init__(self, options, schema):
        self.root = options.get("path")
        self.stream = options.get("stream", "stream")
        self.client = options.get("client", "archive")
        if not self.root:
            raise ValueError("tri writer requires .save(path)")
        if "-" in self.client:
            raise ValueError("client name cannot contain '-' (key "
                             "delimiter, triton.go:224-227)")
        self.schema_ = schema
        ts = options.get("unix_ts")
        self.base_ts = int(ts) if ts else None

    def write(self, iterator) -> TriCommitMessage:
        import datetime as _dt

        from pyspark import TaskContext

        from go_triton_spark.codec.tri import write_tri_bytes

        pid = TaskContext.get().partitionId()
        base = self.base_ts
        if base is None:
            base = int(_dt.datetime.now(tz=_dt.timezone.utc).timestamp())
        when = _dt.datetime.fromtimestamp(base, tz=_dt.timezone.utc)
        names = [f.name for f in self.schema_.fields]
        recs = []
        for row in iterator:
            recs.append({n: row[n] for n in names if row[n] is not None})
        if not recs:
            return TriCommitMessage()
        key = (f"{when.strftime('%Y%m%d')}/"
               f"{self.stream}-{self.client}-{base + pid}.tri")
        full = os.path.join(self.root, key)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        staged = full + ".staged"
        with open(staged, "wb") as f:
            f.write(write_tri_bytes(recs))
        return TriCommitMessage(staged=staged, final=full)

    def commit(self, messages) -> None:
        for m in messages:
            if getattr(m, "staged", None):
                os.rename(m.staged, m.final)

    def abort(self, messages) -> None:
        for m in messages:
            if getattr(m, "staged", None) and os.path.exists(m.staged):
                os.remove(m.staged)
