"""The one record-coercion rule (``codec.decode.converter``).

Every reader maps decoded msgpack maps onto a declared schema the same
way: a value converts to the declared type or becomes null, and never
fails the job. The case table pins one expected cell per (value,
declared type) pair, read back through Spark; the parity test checks
that the three readers (the Kinesis payload decode, ``read_tri`` and
``format("tri")``) return identical rows for the same maps.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import types as T

from go_triton_spark.codec.decode import decode_msgpack_column
from go_triton_spark.codec.msgpack_codec import packb
from go_triton_spark.codec.tri import write_tri_bytes
from go_triton_spark.sources.tri_datasource import register_tri_datasource
from go_triton_spark.sources.tri_source import read_tri

UTC = dt.timezone.utc
TS = dt.datetime(2026, 8, 13, 9, 0, tzinfo=UTC)

S, L, I, D = T.StringType(), T.LongType(), T.IntegerType(), T.DoubleType()
B, BIN, TSX = T.BooleanType(), T.BinaryType(), T.TimestampType()
POINT = T.StructType([T.StructField("x", L), T.StructField("tag", S)])

# (id, value, declared type, expected cell as collect() returns it)
CASES = [
    ("str<-int", 42, S, "42"),
    ("str<-bool", True, S, "true"),
    ("str<-float", 2.5, S, "2.5"),
    ("str<-bytes", b"hi", S, "hi"),
    ("str<-dict", {"b": 1, "a": [1, 2]}, S, '{"a": [1, 2], "b": 1}'),
    ("str<-list", [1, "x"], S, '[1, "x"]'),
    ("long<-abc", "abc", L, None),
    ("long<-numeric-str", " 42 ", L, 42),
    ("long<-bool", True, L, 1),
    ("long<-float", 2.7, L, 2),
    ("long<-uint64-max", 2**64 - 1, L, None),
    ("long<-int64-min", -2**63, L, -2**63),
    ("long<-bytes", b"1", L, None),
    ("int<-out-of-int32", 2**31, I, None),
    ("double<-x", "x", D, None),
    ("double<-numeric-str", "2.5", D, 2.5),
    ("double<-int", 3, D, 3.0),
    ("double<-bool", False, D, 0.0),
    ("bool<-int", 0, B, False),
    ("bool<-yes", "yes", B, True),
    ("bool<-maybe", "maybe", B, None),
    ("ts<-iso", "2026-08-13T09:00:00Z", TSX, TS),
    ("ts<-iso-offset", "2026-08-13T11:00:00+02:00", TSX, TS),
    ("ts<-epoch-int", 1_786_611_600, TSX, TS),
    ("ts<-datetime", TS, TSX, TS),
    ("ts<-bad-str", "not a date", TSX, None),
    ("ts<-bool", True, TSX, None),
    ("binary<-str", "hi", BIN, b"hi"),
    ("binary<-int", 5, BIN, None),
    ("array<-one-off-type", [1, "x", 3], T.ArrayType(L), [1, None, 3]),
    ("array<-scalar", 7, T.ArrayType(L), None),
    ("struct<-one-off-type", {"x": "abc", "tag": 5}, POINT,
     {"x": None, "tag": "5"}),
    ("struct<-list", [1, 2], POINT, None),
    ("array-of-struct", [{"x": 1, "tag": "a"}, {"x": True}],
     T.ArrayType(POINT), [{"x": 1, "tag": "a"}, {"x": 1, "tag": None}]),
    ("map<-int-key-str-value", {"k": "1", 2: 3},
     T.MapType(S, L), {"k": 1, "2": 3}),
]


def _plain(v):
    """collect() cell -> comparable plain value (Rows to dicts,
    bytearray to bytes, local-naive timestamps to UTC)."""
    if isinstance(v, T.Row):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, dt.datetime):
        return dt.datetime.fromtimestamp(v.timestamp(), tz=UTC)
    return v


@pytest.mark.parametrize("value,dtype,expected",
                         [c[1:] for c in CASES], ids=[c[0] for c in CASES])
def test_coercion_case(spark, value, dtype, expected):
    schema = T.StructType([T.StructField("v", dtype)])
    df = spark.createDataFrame([(packb({"v": value}),)], "data binary")
    rows = decode_msgpack_column(df, schema).collect()
    assert len(rows) == 1
    assert _plain(rows[0]["v"]) == expected


PARITY_SCHEMA = T.StructType([
    T.StructField("id", L),
    T.StructField("s", S),
    T.StructField("n", L),
    T.StructField("d", D),
    T.StructField("b", B),
    T.StructField("t", TSX),
    T.StructField("raw", BIN),
    T.StructField("tags", T.ArrayType(S)),
    T.StructField("point", POINT),
    T.StructField("attrs", T.MapType(S, D)),
])

PARITY_RECORDS = [
    {"id": 0, "s": "ok", "n": 2**60 + 1, "d": 1.5, "b": True, "t": TS,
     "raw": b"\x00\x01", "tags": ["a", "b"], "point": {"x": 1, "tag": "p"},
     "attrs": {"w": 0.5}},
    {"id": 1, "s": 42, "n": True, "d": "x", "b": "no",
     "t": "2026-08-13T09:00:00Z", "raw": "text", "tags": [1, None, True],
     "point": {"x": "2", "tag": b"q"}, "attrs": {"w": "1.5", 3: "bad"}},
    {"id": 2, "s": {"k": [1]}, "n": 2**64 - 1, "d": 7, "b": 1,
     "t": 1_786_611_600, "raw": 9, "tags": "no-list", "point": [1],
     "attrs": None},
    {"id": 3},
]


def test_three_readers_agree(spark, tmp_path):
    """The same msgpack maps read through the Kinesis payload decode,
    read_tri and format("tri") give identical rows."""
    payloads = spark.createDataFrame(
        [(packb(r),) for r in PARITY_RECORDS], "data binary")
    via_payload = decode_msgpack_column(payloads, PARITY_SCHEMA)

    day = tmp_path / "tri" / "20260813"
    os.makedirs(day)
    (day / "events-parity-1786611600.tri").write_bytes(
        write_tri_bytes(PARITY_RECORDS))
    via_read_tri = read_tri(spark, str(tmp_path / "tri"), PARITY_SCHEMA) \
        .select(*PARITY_SCHEMA.names)
    register_tri_datasource(spark)
    via_format = spark.read.format("tri").schema(PARITY_SCHEMA) \
        .load(str(tmp_path / "tri"))

    got = [[_plain(r.asDict()) for r in df.orderBy("id").collect()]
           for df in (via_payload, via_read_tri, via_format)]
    assert got[0] == got[1] == got[2]
    assert [r["id"] for r in got[0]] == [0, 1, 2, 3]
    assert got[0][0]["n"] == 2**60 + 1     # exact: no float64 detour
    odd = got[0][1]
    assert (odd["s"], odd["n"], odd["d"], odd["b"], odd["t"], odd["raw"]) \
        == ("42", 1, None, False, TS, b"text")
