"""Recall of LSH-prefiltered semantic decontamination vs brute force.

VERDICT r4 item 1: `semantic_decontaminate(prefilter='lsh')` replaces the
brute-force crossJoin as the scale path; its candidate set is generated
by a (band, bucket) equi-join, so it can miss contaminated pairs whose
buckets never collide. This script measures that miss rate in the regime
the operator is FOR — paraphrase-level contamination, cosine >= the 0.95
threshold — by planting perturbed copies of the bench vectors in the
training corpus and comparing the flagged sets of the two modes.

Plant: for each bench vector v and angle step s, a contaminated copy
  v' = v*cos(theta_s) + u*sin(theta_s)   (u: deterministic unit vector
orthogonal to v) at theta giving cosine {0.952, 0.97, 0.99} — all above
the 0.95 threshold, i.e. all SHOULD be flagged. Recall = |flagged_lsh
intersect flagged_exact| / |flagged_exact| over the full train side
(planted + 1900 genuine corpus vectors, which sit near cosine 0 and are
flagged by neither mode).

Usage: python scripts/decontam_recall.py [threshold]
Prints one JSON line; the table row lives in BASELINE.md.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from neosemantics_spark.operators import similarity as sim  # noqa: E402
from neosemantics_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))

COSINES = [0.952, 0.97, 0.99]


def main() -> None:
    threshold = float(sys.argv[1]) if len(sys.argv) > 1 else 0.95
    spark = get_spark("decontam-recall", cpus=CPUS)
    emb = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
    )
    bench_rows = emb.filter(F.col("vec_id") % 20 == 0).collect()
    dim = len(bench_rows[0]["embedding"])

    # deterministic planted contamination, driver-built (bench is small)
    rng = np.random.default_rng(42)
    planted = []
    nid = 1_000_000
    for r in bench_rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        v = v / np.linalg.norm(v)
        for c in COSINES:
            raw = rng.standard_normal(dim)
            u = raw - np.dot(raw, v) * v
            u = u / np.linalg.norm(u)
            theta = math.acos(c)
            planted.append(
                (nid, (v * math.cos(theta) + u * math.sin(theta)).tolist())
            )
            nid += 1
    planted_df = spark.createDataFrame(planted, ["vec_id", "embedding"])
    train = emb.filter(F.col("vec_id") % 20 != 0).unionByName(planted_df)
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    n_train, n_bench = train.count(), bench.count()

    t0 = time.perf_counter()
    exact = {
        r["vec_id"]
        for r in sim.semantic_decontaminate(
            train, bench, threshold=threshold, broadcast_limit=1_000_000
        ).collect()
    }
    t_exact = time.perf_counter() - t0

    t0 = time.perf_counter()
    lsh = {
        r["vec_id"]
        for r in sim.semantic_decontaminate(
            train, bench, threshold=threshold, prefilter="lsh",
            nbits=4, bands=2, probe_bits=1,
        ).collect()
    }
    t_lsh = time.perf_counter() - t0

    recall = len(lsh & exact) / len(exact) if exact else 1.0
    print(
        json.dumps(
            {
                "metric": "decontam_lsh_recall",
                "threshold": threshold,
                "planted": len(planted),
                "planted_cosines": COSINES,
                "n_train": n_train,
                "n_bench": n_bench,
                "flagged_exact": len(exact),
                "flagged_lsh": len(lsh),
                "false_flags_lsh": len(lsh - exact),
                "recall": round(recall, 4),
                "sec_exact": round(t_exact, 2),
                "sec_lsh": round(t_lsh, 2),
                "cfg": "nbits=4,bands=2,probe_bits=1",
            }
        )
    )


if __name__ == "__main__":
    main()
