"""spark.read.format('tri'): the PySpark 4 Python DataSource packaging
of the .tri codec — batch parity with read_tri, per-file partitions,
corrupt-skip, and the job-atomic writer."""

import os

import pytest
from pyspark.sql import functions as F

from go_triton_spark.sources.tri_datasource import register_tri_datasource
from go_triton_spark.sources.tri_source import read_tri, write_tri
from go_triton_spark.types import EVENTS_SCHEMA


@pytest.fixture()
def events_df(spark, sf_dir):
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).limit(120)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    return df


@pytest.fixture()
def registered(spark):
    register_tri_datasource(spark)
    return spark


def test_tri_format_matches_read_tri(registered, events_df, tmp_path):
    spark = registered
    out = str(tmp_path / "arch")
    write_tri(events_df, out, "events", "alpha")
    via_format = spark.read.format("tri").schema(EVENTS_SCHEMA).load(out)
    via_shim = read_tri(spark, out, EVENTS_SCHEMA).select(*EVENTS_SCHEMA.names)
    a = sorted(map(tuple, via_format.collect()))
    b = sorted(map(tuple, via_shim.collect()))
    assert a == b and len(a) == 120


def test_tri_format_partition_per_file(registered, events_df, tmp_path):
    spark = registered
    out = str(tmp_path / "arch")
    write_tri(events_df.where("event_id % 2 = 0"), out, "events", "alpha")
    write_tri(events_df.where("event_id % 2 = 1"), out, "events", "beta")
    df = spark.read.format("tri").schema(EVENTS_SCHEMA).load(out)
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 120


def test_tri_format_corrupt_file_skipped(registered, tmp_path):
    spark = registered
    out = tmp_path / "20260813"
    out.mkdir()
    (out / "events-alpha-1765000000.tri").write_bytes(b"\x00garbage not snappy")
    df = spark.read.format("tri").schema(EVENTS_SCHEMA).load(str(tmp_path))
    assert df.count() == 0  # corrupt-skip, not error (stream_reader.go:174-194)


def test_tri_format_requires_schema(registered, events_df, tmp_path):
    spark = registered
    out = str(tmp_path / "arch")
    write_tri(events_df, out, "events", "alpha")
    with pytest.raises(Exception, match="schema"):
        spark.read.format("tri").load(out).collect()


def test_tri_format_write_path(registered, events_df, tmp_path):
    """df.write.format('tri'): reference key grammar, commit-rename
    atomicity (no .staged leftovers), read-back parity."""
    spark = registered
    out = str(tmp_path / "arch_w")
    (events_df.repartition(3).write.format("tri")
     .option("stream", "events").option("client", "alpha")
     .option("unix_ts", "1765000000")
     .mode("append").save(out))
    files = []
    for root, _d, fs in os.walk(out):
        files.extend(os.path.join(root, f) for f in fs)
    assert all(f.endswith(".tri") for f in files)  # no .staged leftovers
    assert len(files) == 3  # one archive per partition
    assert all(os.path.basename(f).startswith("events-alpha-176500000")
               for f in files)
    back = spark.read.format("tri").schema(EVENTS_SCHEMA).load(out)
    assert sorted(r.event_id for r in back.select("event_id").collect()) == \
        sorted(r.event_id for r in events_df.select("event_id").collect())


def test_tri_format_write_rejects_overwrite_and_dash_client(
        registered, events_df, tmp_path):
    spark = registered
    with pytest.raises(Exception, match="append-only"):
        (events_df.write.format("tri").option("stream", "events")
         .mode("overwrite").save(str(tmp_path / "x")))
    with pytest.raises(Exception, match="client"):
        (events_df.write.format("tri").option("stream", "events")
         .option("client", "with-dash").mode("append")
         .save(str(tmp_path / "y")))
