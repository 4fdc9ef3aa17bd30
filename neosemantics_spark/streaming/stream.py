"""Structured Streaming surface.

The reference is batch-only — its `n10s.rdf.stream.*` procedures are
bounded previews (rdf/stream/RDFStreamProcedures.java:15,26; limit via
StatementStreamer.java:40-56). The Spark-native engine adds true streaming:

- `stream_triples`: file-source readStream over src_files-shaped parquet
  directories → the same Arrow-batched parse (`mapInPandas` works
  unchanged on streaming DataFrames) → append-mode triples stream. This is
  the continuous-ingest analogue of the resumable batch checkpoint
  (neosemantics_spark/checkpoint.py): Spark's own source tracking replaces
  the processed-file anti-join.
- `preview`: the reference's bounded preview (L1/L2 stream-triple-limit,
  RDFParserConfig.java:18) as a plain limit over the batch parse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.parse import TRIPLES_SCHEMA, _parse_batches

SRC_SCHEMA = "repo string, path string, commit string, lang string, content string"


def stream_triples(spark: SparkSession, src_dir: str, abort_on_error: bool = False) -> DataFrame:
    """Streaming src_files parquet dir → streaming triples DF (append)."""
    src = (
        spark.readStream.schema(SRC_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 64)
        .load(src_dir)
    )
    return src.mapInPandas(
        lambda it: _parse_batches(it, abort_on_error), schema=TRIPLES_SCHEMA
    )


def run_stream_to_parquet(
    triples_stream: DataFrame, out_dir: str, checkpoint_dir: str, once: bool = True
):
    """Append the triple stream to parquet with exactly-once file tracking.
    `once=True` uses availableNow (drain-what-exists, then stop) — the
    batch-boundary mode used by tests and incremental cron runs."""
    w = (
        triples_stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if once:
        w = w.trigger(availableNow=True)
    return w.start()


def preview(triples: DataFrame, limit: int = 1000) -> DataFrame:
    """n10s.rdf.preview / streamTripleLimit analogue: bounded sample of the
    parsed-but-unmaterialized triples (RDFProcedures.java:101-132)."""
    return triples.limit(limit)
