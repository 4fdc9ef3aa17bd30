"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round4(col: Column) -> Column:
    """Engine-portable half-up rounding to 4 decimals:
    floor(x*10000 + 0.5)/10000. Spark's F.round is HALF_UP while DuckDB's
    round() is half-to-even — identical double arithmetic on both engines
    makes this formula deterministic across them (used by every operator
    whose output is oracle-compared)."""
    return F.floor(col * 10000 + F.lit(0.5)) / 10000


ROUND4_SQL = "floor({x} * 10000 + 0.5) / 10000"


def fan_out_scan(df, factor: int = 2):
    """Small-scan parallelism guard (the `extract_triples` fix made
    reusable, r7): a small parquet table bin-packs into 1-2 input
    partitions, which serializes every CPU-heavy narrow stage built on
    it BEFORE the first shuffle — tokenize+explode shingling, n-gram
    generation, per-row hashing all ran single-core on the bench corpus.
    When the scan yields fewer partitions than the cluster's parallelism,
    pay one cheap shuffle of the input rows to fan the downstream compute
    out; at real scale (many splits) the condition is false and NO
    shuffle is added. Apply to the *pre-explode* table so any
    order-sensitive per-row fold (e.g. float sums over exploded
    coordinates) stays contiguous within its row."""
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        n = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — e.g. connect-only session
        return df
    if n < target:
        return df.repartition(target * factor)
    return df


def require_local_root(root: str, component: str) -> str:
    """Refuse a non-local state/model root, normalizing file: URIs.

    Every persisted artifact in this package that mixes Spark writers
    (parquet tables) with driver-local POSIX I/O (meta.json, manifest +
    atomic HEAD rename) must run through this guard: on an hdfs:// or
    s3a:// root the parquet would land remotely while the POSIX half
    writes to a bogus driver-local path — a silent split where half the
    artifact is invisible (the hazard IncrementalGraphStore and the BM25
    index refuse loudly). file:/ is accepted and stripped, since Spark
    and POSIX agree on it."""
    import re

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):", root)
    if m:
        scheme = m.group(1)
        if scheme != "file":
            raise ValueError(
                f"{component} root {root!r} uses URI scheme {scheme!r}, "
                f"but the artifact's metadata is written through "
                f"driver-local POSIX I/O. Use a local filesystem path, "
                f"or mount the remote store and pass its mount point."
            )
        root = re.sub(r"^file:(//)?", "", root) or "/"
    return root
