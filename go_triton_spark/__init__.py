"""go_triton_spark — a PySpark-native streaming data-pipeline + analytics engine.

Re-expresses the capabilities of the reference stream-pipeline toolkit
(postmates/go-triton: Kinesis ingest -> msgpack/snappy S3 archives ->
checkpointed replay) as an idiomatic Spark engine:

- Structured Streaming for the ingest/store pipeline (reference:
  triton/store.go, triton/stream_reader.go)
- DataFrame/SQL for batch replay + the full relational operator surface
  (reference has none; see SURVEY.md section 2.2)
- Parquet as canonical storage, with a byte-compatible ``.tri``
  (snappy-framed concatenated msgpack maps) codec at the edges
  (reference: triton/archive.go, triton/archive_reader.go)
- LLM-data-pipeline operators (dedup, similarity search, text analysis,
  multimodal columns) designed partition-parallel for 100 TB scale.
"""

from go_triton_spark.session import get_spark, builder
from go_triton_spark.config import StreamConfig, load_config, config_for_name
from go_triton_spark.engine import TritonEngine
from go_triton_spark.sources.tri_datasource import register_tri_datasource

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "builder",
    "StreamConfig",
    "load_config",
    "config_for_name",
    "TritonEngine",
    "register_tri_datasource",
]
