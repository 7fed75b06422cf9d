"""Source layer: batch + streaming inputs behind one abstraction.

OSS Spark ships no first-party Kinesis source (SURVEY section 7 hard
part #1); the reference's own tests never touch real Kinesis either
(triton/test_util.go fakes). Streams come from ``open_stream``: the
boto3-backed ``format("kinesis")`` source (tests and benchmarks drive
it with a scripted client through its ``client_factory`` option), a
file-drop directory (also the Kinesis->Firehose->files bridge), or
Spark's rate source. ``.tri`` archives are read and written in batch.
Every reader coerces decoded records to the declared schema through
``codec.decode.converter``.
"""

from go_triton_spark.sources.tri_source import read_tri, write_tri
from go_triton_spark.sources.stream_source import open_stream

__all__ = ["read_tri", "write_tri", "open_stream"]
