"""Corpus-curation entrypoint — spark-submit wrapper around
neosemantics_spark.curation.curate_corpus (the dataset-build twin of
jobs/import_job.py).

Example:
    zip -r /tmp/pkg.zip neosemantics_spark
    spark-submit --py-files /tmp/pkg.zip jobs/curate_job.py \
        --input /data/documents --output /data/curated \
        --bench /data/eval_docs --jaccard-threshold 0.8 --lm-quantile 0.05

    # incremental (every batch dedups against all previously accepted
    # state; add --compact periodically to merge the snapshot's batch
    # directories and bound state-listing cost):
    spark-submit --py-files /tmp/pkg.zip jobs/curate_job.py \
        --input /data/batch_042 --output /data/curated \
        --checkpoint /data/curation_state --compact

Writes the curated corpus partitioned by split (train/val/test
subdirectories — the layout a trainer consumes directly) and prints one
JSON metrics line accounting for every stage's drops.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True, help="curated output root")
    ap.add_argument("--bench", default=None, help="benchmark/eval docs parquet (optional)")
    ap.add_argument(
        "--checkpoint",
        default=None,
        help="curation state root for incremental batch-over-batch builds: "
        "the batch is deduped/decontaminated against every previously "
        "accepted document (persisted hash set + LSH bucket index) and "
        "scored by the persisted reference LM",
    )
    ap.add_argument("--num-hashes", type=int, default=8)
    ap.add_argument("--bands", type=int, default=4)
    ap.add_argument("--jaccard-threshold", type=float, default=0.8)
    ap.add_argument("--decontam-ngram", type=int, default=8)
    ap.add_argument("--lm-quantile", type=float, default=0.05)
    ap.add_argument(
        "--chunk-dedup",
        action="store_true",
        help="rewrite near-dedup survivors without corpus-duplicated "
        "chunk spans (cross-batch chunk ownership when --checkpoint is "
        "set); docs emptied to pure boilerplate are dropped",
    )
    ap.add_argument("--chunk-tokens", type=int, default=32)
    ap.add_argument(
        "--semantic-bench",
        default=None,
        help="benchmark EMBEDDINGS parquet (vec_id|doc_id, embedding): "
        "drop docs within cosine --semantic-threshold of any benchmark "
        "vector (LSH-prefiltered). Requires --embeddings.",
    )
    ap.add_argument(
        "--embeddings",
        default=None,
        help="corpus embeddings parquet (vec_id|doc_id, embedding) "
        "keyed by the documents' ids",
    )
    ap.add_argument("--semantic-threshold", type=float, default=0.95)
    ap.add_argument(
        "--semantic-dedup-threshold",
        type=float,
        default=None,
        help="enable SemDeDup-style embedding-space dedup at this cosine "
        "threshold (cross-batch against the emb_buckets/emb_vecs state "
        "when --checkpoint is set). Requires --embeddings.",
    )
    ap.add_argument("--semantic-nbits", type=int, default=4)
    ap.add_argument("--semantic-bands", type=int, default=2)
    ap.add_argument(
        "--nb-model",
        default=None,
        help="directory of a persisted NB classifier (classify.save_nb); "
        "survivors not predicted as --nb-keep-label are dropped",
    )
    ap.add_argument("--nb-keep-label", default=None)
    ap.add_argument(
        "--rep-score",
        default=None,
        choices=["quality"],
        help="elect the highest-quality member of each near-dup cluster "
        "as its representative (text-quality composite score; ties -> "
        "min id) instead of the min-id default, for both the text and "
        "embedding dedup stages",
    )
    ap.add_argument(
        "--strip-spans",
        type=int,
        default=None,
        metavar="N_TOKENS",
        help="after curation, remove corpus-duplicated sliding N-token "
        "spans from every accepted doc except each span's min-id owner "
        "(dedup.strip_spans); docs stripped to nothing are dropped",
    )
    ap.add_argument(
        "--compact",
        action="store_true",
        help="after the batch commits, merge all state batch directories "
        "into one snapshot (bounds state-listing cost on long builds)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from neosemantics_spark.curation import CurationCheckpoint, curate_corpus

    spark = SparkSession.builder.getOrCreate()
    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.bench) if args.bench else None

    def _emb(path):
        # normalize the embedding tables to the documents' id key
        df = spark.read.parquet(path)
        if "doc_id" not in df.columns and "vec_id" in df.columns:
            df = df.withColumnRenamed("vec_id", "doc_id")
        return df.select("doc_id", "embedding")

    semantic_bench = _emb(args.semantic_bench) if args.semantic_bench else None
    embeddings = _emb(args.embeddings) if args.embeddings else None
    opts = dict(
        num_hashes=args.num_hashes,
        bands=args.bands,
        jaccard_threshold=args.jaccard_threshold,
        decontam_n=args.decontam_ngram,
        lm_quantile=args.lm_quantile,
        chunk_dedup=args.chunk_dedup,
        chunk_tokens=args.chunk_tokens,
        semantic_bench=semantic_bench,
        embeddings=embeddings,
        semantic_threshold=args.semantic_threshold,
        semantic_dedup_threshold=args.semantic_dedup_threshold,
        semantic_nbits=args.semantic_nbits,
        semantic_bands=args.semantic_bands,
        rep_score=args.rep_score,
    )
    if args.nb_model:
        from neosemantics_spark.operators import classify

        opts["nb_model"] = classify.load_nb(spark, args.nb_model)
        opts["nb_keep_label"] = args.nb_keep_label
    if args.checkpoint:
        cp = CurationCheckpoint(spark, args.checkpoint)
        res = cp.run(docs, bench, **opts)
        if args.compact:
            res.metrics["compacted_batches"] = cp.compact()
        mode = "append"
    else:
        res = curate_corpus(docs, bench, **opts)
        mode = "overwrite"
    curated = res.curated
    if args.strip_spans:
        from pyspark.sql import functions as F

        from neosemantics_spark.operators.dedup import strip_spans

        st = strip_spans(curated, n=args.strip_spans)
        curated = curated.drop("text").join(
            st.filter(F.col("n_tokens_kept") > 0).select(
                "doc_id", F.col("text_deduped").alias("text")
            ),
            "doc_id",
        )
        res.metrics["n_after_span_dedup"] = curated.count()
    curated.write.mode(mode).partitionBy("split").parquet(args.output)
    print(json.dumps({"output": args.output, **res.metrics}))


if __name__ == "__main__":
    main()
