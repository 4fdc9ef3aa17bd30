"""Persisted IVF ANN index — the saved, appendable artifact form of
`similarity.ivf_centroids` + `ivf_assign` (VERDICT r5 item 5: ANN jobs
should stop recomputing assignment per run; a new corpus batch appends
like `search.append_postings`).

Layout (the BM25 layout discipline — manifest + atomic HEAD rename,
driver-local root guard, content-fingerprint batch ids):

- `centroids/`                 parquet (centroid_id, cvec) — the trained
  coarse quantizer, FROZEN at index creation (standard IVF practice:
  train once, add vectors forever; re-train = rebuild). Tiny
  (sqrt-corpus rows).
- `assignments/batch=<id>/`    parquet (id, centroid_id, dist[,
  assign_rank]) — the inverted lists, one directory per appended corpus
  batch. At 100 TB these are additionally partitioned by centroid_id so
  a probe reads only its lists; batch dirs keep appends O(batch).
- `meta.json`                  n_centroids, assign_k, dims-free scalars.
- `commits/MANIFEST-<n> + HEAD` — snapshot pointer; readers see only
  committed batches, a crash mid-append leaves the previous snapshot
  live, a replay overwrites its own partial directories.

Invariants pinned by tests + the `ann_ivf` driver oracle (which now
routes through a save→load round trip):
- load(write(X)).assignments == ivf_assign(X) row-for-row;
- write(b1) + append(b2)     == write(b1 ∪ b2 | frozen centroids) —
  assignment is per-row independent given the centroid table, so append
  IS rebuild under the same quantizer;
- `topk` through the loaded index == `similarity.ivf_topk` inline when
  the index was built over the same corpus (same deterministic centroid
  derivation).
"""

from __future__ import annotations

import json
import os
from typing import NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..utils import require_local_root
from .search import _idx_batch_id, _idx_manifest, _idx_publish
from . import similarity


class ANNIndex(NamedTuple):
    centroids: DataFrame    # (centroid_id, cvec)
    assignments: DataFrame  # (id, centroid_id, dist[, assign_rank])
    n_centroids: int
    assign_k: int
    method: str = "auto"    # assignment path pinned at write time (ADVICE r6)


def _cluster_by_list(assign: DataFrame) -> DataFrame:
    """Cluster assignment rows by centroid_id before the write (guide §6:
    file layout serves the reader). A probe reads whole inverted lists,
    so co-locating each list makes min/max row-group stats prune the
    scan; the keyed repartition also lets AQE coalesce to size-appropriate
    output files instead of inheriting however many compute partitions the
    assignment stage ran with (the r7 fan-out had left ~64 tiny files on
    small corpora — the §6 small-files trap)."""
    return assign.repartition(F.col("centroid_id"))


def _write_meta(path: str, meta: dict) -> None:
    tmp = os.path.join(path, "meta.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(path, "meta.json"))


def write_ann_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int | None = 16,
    refine_iters: int = 0,
    assign_k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[DataFrame] = None,
    method: str = "auto",
) -> None:
    """(Re)initialize the index: train (or take) the centroid table,
    assign every vector, commit as exactly one batch."""
    path = require_local_root(path, "ANN index")
    cents = (
        centroids
        if centroids is not None
        else similarity.ivf_centroids(
            embeddings, n_centroids, refine_iters, id_col, vec_col
        )
    ).localCheckpoint(eager=True)
    k_c = cents.count()
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    # resolve 'auto' from the count we already paid for (saves ivf_assign
    # scheduling its own count job); meta still records the caller's
    # requested method, so append re-resolves 'auto' identically
    resolved = method
    if resolved == "auto":
        resolved = "numpy" if k_c > similarity._NUMPY_ASSIGN_MIN_CENTROIDS else "expr"
    assign = similarity.ivf_assign(
        embeddings, id_col=id_col, vec_col=vec_col, centroids=cents,
        assign_k=assign_k, method=resolved,
    )
    ids = assign.select("id").distinct().localCheckpoint(eager=True)
    bid = _idx_batch_id(ids)
    _cluster_by_list(assign).write.mode("overwrite").parquet(
        os.path.join(path, "assignments", f"batch={bid}")
    )
    _write_meta(path, {"n_centroids": int(k_c), "assign_k": int(assign_k),
                       "method": method})
    _idx_publish(path, [bid])


def append_ann_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    validate_ids: bool = True,
) -> str:
    """Fold a new corpus batch into the index under the FROZEN centroid
    table — incremental maintenance, not a rebuild. Assignment is
    per-row independent given the quantizer, so batch dirs are disjoint
    and append ≡ rebuild-over-union exactly (pinned by test). New ids
    must be disjoint (one semi-join count, like `append_postings`).
    Returns the batch id; replaying a crashed append overwrites its own
    partial directory and commits once."""
    path = require_local_root(path, "ANN index")
    spark = embeddings.sparkSession
    m = _idx_manifest(path)
    if not m["batches"]:
        raise ValueError(
            f"no committed ANN index at {path!r} — build with write_ann_index first"
        )
    idx = read_ann_index(spark, path)
    if validate_ids:
        n_dup = (
            embeddings.select(F.col(id_col).alias("id"))
            .join(idx.assignments.select("id"), "id", "left_semi")
            .count()
        )
        if n_dup:
            raise ValueError(
                f"append_ann_index: {n_dup} vector ids already indexed — ids "
                "must be globally unique across batches (rebuild with "
                "write_ann_index to re-index changed vectors)"
            )
    assign = similarity.ivf_assign(
        embeddings, id_col=id_col, vec_col=vec_col, centroids=idx.centroids,
        assign_k=idx.assign_k, method=idx.method,
    )
    ids = assign.select("id").distinct().localCheckpoint(eager=True)
    bid = _idx_batch_id(ids)
    _cluster_by_list(assign).write.mode("overwrite").parquet(
        os.path.join(path, "assignments", f"batch={bid}")
    )
    if bid not in m["batches"]:
        _idx_publish(path, m["batches"] + [bid])
    return bid


def read_ann_index(spark: SparkSession, path: str) -> ANNIndex:
    """Open the committed snapshot: centroid table + the union of
    committed assignment batch directories (lazy scans; the `batch`
    partition column is an implementation detail and dropped)."""
    path = require_local_root(path, "ANN index")
    batches = _idx_manifest(path)["batches"]
    if not batches:
        raise ValueError(f"no committed ANN index at {path!r}")
    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    base = os.path.join(path, "assignments")
    dirs = [os.path.join(base, f"batch={b}") for b in batches]
    assignments = spark.read.option("basePath", base).parquet(*dirs).drop("batch")
    return ANNIndex(
        centroids=spark.read.parquet(os.path.join(path, "centroids")),
        assignments=assignments,
        n_centroids=int(meta["n_centroids"]),
        assign_k=int(meta["assign_k"]),
        method=str(meta.get("method", "auto")),
    )


def ann_index_topk(
    index: ANNIndex,
    embeddings: DataFrame,
    query_ids: list,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`similarity.ivf_topk` through the PERSISTED index: the centroid
    table and inverted lists come from the loaded artifact, so a query
    job pays zero assignment compute — only the probe ranking
    (|queries| × n_centroids broadcast) and the probed lists' cosine
    verification. `embeddings` supplies the raw vectors (the index
    stores list membership, not payloads — at scale the corpus table is
    the single vector store)."""
    return similarity._ivf_probe_topk(
        similarity._double_vecs(embeddings, id_col, vec_col),
        index.centroids,
        index.assignments,
        query_ids,
        k,
        n_probe,
        index.assign_k,
    )
