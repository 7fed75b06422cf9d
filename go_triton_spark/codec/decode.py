"""Decoded record -> declared schema: the one coercion rule.

The reference decodes each record into a schemaless map and skips only
what it cannot decode (triton/stream_reader.go:173-194). Every reader
here maps those maps onto a declared schema (SURVEY §1.3) through
``converter``: the msgpack payload column of the Kinesis source
(``decode_msgpack_column``), ``read_tri`` and ``spark.read.format("tri")``.

The rule is PERMISSIVE: a value converts to the declared type or
becomes null, and never raises. Spark's CAST decides what converts —
ISO-8601 strings and epoch seconds become timestamps, a bool into a
long is 0/1, numeric strings parse, arrays/structs/maps recurse —
with two exceptions: a map or array into a string column becomes JSON
text (the reference's ``cat`` projection), and an integer outside the
declared integer type's range becomes null instead of wrapping.
"""

from __future__ import annotations

import datetime as _dt
import json as _json

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from go_triton_spark.codec.msgpack_codec import MsgpackError, unpackb

_UTC = _dt.timezone.utc
_INT_BITS = {T.LongType: 64, T.IntegerType: 32, T.ShortType: 16,
             T.ByteType: 8}
_TRUE = frozenset({"t", "true", "y", "yes", "1"})
_FALSE = frozenset({"f", "false", "n", "no", "0"})


def converter(dt: T.DataType):
    """Build the function that coerces one decoded value to ``dt``.

    Built once per schema field (nested types build their children
    once, here); the returned function does no type dispatch on the
    declared side, only on the value.
    """
    if isinstance(dt, T.StringType):
        def conv(v):
            if v is None or v.__class__ is str:
                return v
            if isinstance(v, (dict, list)):
                return _json.dumps(v, sort_keys=True, default=str)
            if isinstance(v, bool):
                return "true" if v else "false"
            if isinstance(v, (bytes, bytearray)):
                return bytes(v).decode("utf-8", "replace")
            return str(v)
        return conv

    if type(dt) in _INT_BITS:
        hi = 1 << (_INT_BITS[type(dt)] - 1)

        def conv(v):
            if v is None:
                return None
            if v.__class__ is not int:
                try:
                    if isinstance(v, str):
                        try:
                            v = int(v)
                        except ValueError:
                            v = float(v)
                    elif not isinstance(v, (int, float)):
                        return None
                    v = int(v)      # bool -> 0/1, float truncates
                except (ValueError, OverflowError):
                    return None     # unparsable, NaN, infinity
            return v if -hi <= v < hi else None
        return conv

    if isinstance(dt, (T.DoubleType, T.FloatType)):
        def conv(v):
            if v is None or v.__class__ is float:
                return v
            if isinstance(v, (int, float, str)):
                try:
                    return float(v)
                except (ValueError, OverflowError):
                    return None
            return None
        return conv

    if isinstance(dt, T.BooleanType):
        def conv(v):
            if v is None or isinstance(v, bool):
                return v
            if isinstance(v, (int, float)):
                return v != 0
            if isinstance(v, str):
                s = v.strip().lower()
                return True if s in _TRUE else False if s in _FALSE else None
            return None
        return conv

    if isinstance(dt, T.BinaryType):
        def conv(v):
            if isinstance(v, (bytes, bytearray)):
                return bytes(v)
            if isinstance(v, str):
                return v.encode("utf-8")
            return None
        return conv

    if isinstance(dt, T.TimestampType):
        # naive datetimes are UTC, as the msgpack codec packs them and
        # as the engine's session time zone reads them
        def conv(v):
            try:
                if isinstance(v, str):
                    v = _dt.datetime.fromisoformat(
                        v.strip().replace("Z", "+00:00"))
                elif isinstance(v, (int, float)) and not isinstance(v, bool):
                    return _dt.datetime.fromtimestamp(v, tz=_UTC)
            except (ValueError, OverflowError, OSError):
                return None
            if isinstance(v, _dt.datetime):
                return v if v.tzinfo else v.replace(tzinfo=_UTC)
            return None
        return conv

    if isinstance(dt, T.ArrayType):
        elem = converter(dt.elementType)

        def conv(v):
            if isinstance(v, (list, tuple)):
                return [elem(x) for x in v]
            return None
        return conv

    if isinstance(dt, T.StructType):
        fields = [(f.name, converter(f.dataType)) for f in dt.fields]

        def conv(v):
            if isinstance(v, dict):
                return {n: c(v.get(n)) for n, c in fields}
            return None
        return conv

    if isinstance(dt, T.MapType):
        key, val = converter(dt.keyType), converter(dt.valueType)

        def conv(v):
            if not isinstance(v, dict):
                return None
            out = {}
            for k, x in v.items():
                k = key(k)
                if k is not None:      # Spark map keys are never null
                    out[k] = val(x)
            return out
        return conv

    return lambda v: v    # types msgpack never carries: passed through


def decode_msgpack_column(df: DataFrame, schema: T.StructType,
                          on_error=None,
                          context: dict | None = None) -> DataFrame:
    """Decode the binary ``data`` column of msgpack maps into ``schema``.

    One payload = one record map. Payloads that fail to decode or
    decode to a non-map are skipped and reported (the reference's S5
    semantics, stream_reader.go:174-194); trailing bytes are ignored.
    Fields convert through ``converter`` (never raises).

    ``on_error``: reporter invoked per skipped record, executor-side
    (the reference reports each skip to Sentry from the reader loop,
    stream_reader.go:159-192). Defaults to the process-global reporter
    (log + count). ``context`` is merged into every report.
    """
    import pandas as pd

    from go_triton_spark.reporting import get_error_reporter, safe_report

    names = schema.names
    convs = [converter(f.dataType) for f in schema.fields]
    reporter = on_error if on_error is not None else get_error_reporter()
    ctx = dict(context or {})

    def batches(it):
        for pdf in it:
            rows = []
            for raw in pdf["data"]:
                try:
                    obj, _ = unpackb(bytes(raw))
                except (MsgpackError, TypeError) as e:
                    safe_report(reporter, "corrupt_record",
                                f"msgpack decode failed: {e}", **ctx)
                    continue
                if not isinstance(obj, dict):
                    safe_report(reporter, "corrupt_record",
                                f"non-map record: {type(obj).__name__}",
                                **ctx)
                    continue
                rows.append(obj)
            yield pd.DataFrame(
                {n: pd.Series([c(r.get(n)) for r in rows], dtype="object")
                 for n, c in zip(names, convs)},
                columns=names)

    return df.mapInPandas(batches, schema=schema)
