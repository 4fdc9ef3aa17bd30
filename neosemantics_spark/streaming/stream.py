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
- `streaming_curate`: foreachBatch wrapper that runs the incremental
  corpus curation (curation.CurationCheckpoint) per micro-batch.
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


def streaming_curate(
    docs_stream: DataFrame,
    state_root: str,
    output_root: str,
    checkpoint_dir: str,
    bench: DataFrame | None = None,
    once: bool = True,
    **curation_opts,
):
    """Continuous corpus curation: every micro-batch runs the FULL
    incremental curation pipeline (curation.CurationCheckpoint.run —
    cross-batch exact + near-dup dedup against all previously accepted
    documents, decontamination, reference-LM filter, hash split) and
    appends accepted rows to `output_root` partitioned by split.

    foreachBatch is the right integration point: the pipeline is a
    multi-join batch program (bucket joins, CC clustering, LM joins), not
    a single keyed stateful operator, so `applyInPandasWithState` cannot
    express it. The stream checkpoint gives batch-boundary replay; the
    curation state's hash-set anti-join makes a replayed batch a no-op
    (n_fresh = 0), so the at-least-once side effect converges to
    effectively-once for the state tables. The curated parquet append is
    the standard foreachBatch caveat: a crash between the output write
    and the stream commit can duplicate ONE batch's output rows —
    downstream readers dedupe on doc_id (or the output is re-derivable
    from the state's reps table, which is exactly-once).
    """
    from ..curation import CurationCheckpoint

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        res = CurationCheckpoint(spark, state_root).run(
            batch_df, bench, **curation_opts
        )
        res.curated.write.mode("append").partitionBy("split").parquet(output_root)

    w = docs_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if once:
        w = w.trigger(availableNow=True)
    return w.start()
