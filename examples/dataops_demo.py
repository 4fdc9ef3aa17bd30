"""Drive: dedup / similarity / text operators on the sf0.01 corpus.

Run: spark-submit --py-files /tmp/ns_spark.zip examples/dataops_demo.py
"""

from pyspark.sql import functions as F

from neosemantics_spark.operators import dedup, similarity, text
from neosemantics_spark.session import get_spark

SF = "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark("dataops-demo", cpus=8)
    docs = spark.read.parquet(f"{SF}/documents.parquet").cache()
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    print(f"[demo] docs={docs.count()} emb={emb.count()}")
    print("[demo] exact dedup kept:", dedup.dedup_exact(docs).count())
    cands = dedup.minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    print("[demo] minhash-lsh candidate pairs:", cands.count())
    verified = dedup.ngram_jaccard_pairs(docs, threshold=0.8, candidates=cands)
    print("[demo] verified near-dup pairs (J>=0.8):")
    verified.orderBy(F.desc("jaccard")).show(5)
    print("[demo] simhash sample:")
    dedup.simhash(docs.limit(3)).show(truncate=False)
    print("[demo] brute-force ANN top-3 for queries [0,1]:")
    similarity.brute_force_topk(emb, [0, 1], k=3).orderBy("query_id", "rank").show()
    print("[demo] LSH-bucketed ANN top-3 for query 0:")
    similarity.lsh_topk(emb, [0], k=3, nbits=4).show()
    print("[demo] language id distribution:")
    text.language_id(docs).groupBy("pred_lang").count().orderBy("pred_lang").show()
    print("[demo] quality features:")
    text.quality_features(docs.limit(3)).show()
    spark.stop()


if __name__ == "__main__":
    main()
