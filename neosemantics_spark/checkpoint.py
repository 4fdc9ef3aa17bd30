"""Resumable imports: processed-file checkpoint + per-partition lineage.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The reference gets bounded-loss restartability from
commitSize partial transactions (RDFParserConfig.java:14;
DirectStatementLoader.java:214-245) — a transactional-store concept. The
Spark-native equivalent (SURVEY.md §3.1):

- `processed_files` table: one row per (repo, path, commit, content_sha)
  already ingested. A new run anti-joins the source against it and
  processes ONLY the delta, then appends the new rows. Re-running after a
  crash mid-append is safe: the triples output is overwritten per run_id
  directory and the checkpoint row lands only after the write succeeds.
- `lineage` table: one row per (run_id, repo, path, commit) with triple
  count + parse status — the per-partition commit ledger (the 25k-batch
  analogue; here a "batch" is a source file, the natural retry unit).
- `metrics` table: per-run ImportResults analogue
  (rdf/RDFProcedures.java:383-418).

The sandbox has no Iceberg catalog, so tables are parquet directories with
append semantics; on a real cluster these become `MERGE INTO` Iceberg
tables — the dataflow (anti-join, append-after-write) is identical.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict, dataclass
from typing import Dict, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import GraphConfig
from .sources.parse import TRIPLES_SCHEMA, extract_triples


def _table(spark: SparkSession, path: str) -> Optional[DataFrame]:
    try:
        return spark.read.parquet(path)
    except Exception:  # noqa: BLE001 — table does not exist yet
        return None


def config_fingerprint(
    cfg: Optional[GraphConfig] = None, mapping: Optional[Dict[str, str]] = None
) -> str:
    """Deterministic 16-hex digest of (GraphConfig, vocabulary mapping) —
    the lineage record of WHICH semantics produced a run's triples. Two
    runs over identical inputs but different configs must not share
    checkpoint rows: SHORTEN vs KEEP, multival mode, or a changed MAP
    vocabulary all change the emitted graph."""
    payload = {
        "cfg": asdict(cfg) if cfg is not None else None,
        "mapping": sorted((mapping or {}).items()),
    }
    return hashlib.sha256(
        json.dumps(payload, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


@dataclass
class IncrementalResult:
    run_id: str
    new_files: int
    skipped_files: int
    triples: Optional[DataFrame]  # None when nothing new


class ImportCheckpoint:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.processed_path = os.path.join(root, "processed_files")
        self.lineage_path = os.path.join(root, "lineage")
        self.metrics_path = os.path.join(root, "metrics")
        self.triples_root = os.path.join(root, "triples")
        self.run_order_path = os.path.join(root, "run_order.json")

    # ---------------------------------------------------------------- read
    def processed(self) -> Optional[DataFrame]:
        return _table(self.spark, self.processed_path)

    def lineage(self) -> Optional[DataFrame]:
        return _table(self.spark, self.lineage_path)

    def metrics(self) -> Optional[DataFrame]:
        return _table(self.spark, self.metrics_path)

    def all_triples(self) -> Optional[DataFrame]:
        return _table(self.spark, self.triples_root)

    def _run_order(self) -> list:
        try:
            with open(self.run_order_path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return []

    def run_ids(self) -> list:
        """Committed run ids, oldest commit first. The order is the commit
        record `run_order.json`, written just before each run's processed
        partition lands, so it survives copying the root. A committed run
        missing from it (a root written before the record existed) comes
        first, by partition mtime — the only order such a root kept."""
        if not os.path.isdir(self.processed_path):
            return []
        committed = {
            d.split("=", 1)[1] for d in os.listdir(self.processed_path) if d.startswith("run_id=")
        }
        order = [r for r in self._run_order() if r in committed]
        legacy = sorted(
            committed - set(order),
            key=lambda r: os.path.getmtime(os.path.join(self.processed_path, f"run_id={r}")),
        )
        return legacy + order

    def run_triples(self, run_id: str) -> DataFrame:
        """One run's checkpointed triples, quarantine rows included."""
        path = os.path.join(self.triples_root, f"run_id={run_id}")
        return self.spark.read.schema(TRIPLES_SCHEMA).parquet(path)

    # ---------------------------------------------------------------- run
    def _prune_orphan_runs(self, committed: set) -> None:
        """Delete triples/run_id=<id> directories whose run_id never made it
        into processed_files — leftovers of a crash between the triples
        write and the checkpoint commit whose todo set has since changed
        (same-todo retries simply overwrite the same directory). Without
        this, all_triples() would double-count the orphaned rows. Local-FS
        analogue of an Iceberg orphan-file cleanup."""
        import shutil

        if not os.path.isdir(self.triples_root):
            return
        for name in os.listdir(self.triples_root):
            if name.startswith("run_id=") and name.split("=", 1)[1] not in committed:
                shutil.rmtree(os.path.join(self.triples_root, name), ignore_errors=True)

    def _check_layout(self, done: DataFrame) -> None:
        """Reject checkpoint directories written by incompatible layouts
        with a clear error instead of a confusing partition-discovery or
        anti-join failure (ADVICE r2): v1 wrote flat files (run_id as a
        data column), v2 partitioned by run_id, v3 added config_hash."""
        missing = [c for c in ("run_id", "config_hash") if c not in done.columns]
        if missing:
            raise ValueError(
                f"Incompatible checkpoint layout at {self.processed_path}: "
                f"missing column(s) {missing}. This directory was written "
                "by an older checkpoint version — migrate it (add the "
                "missing columns / repartition by run_id) or point the "
                "ImportCheckpoint at a fresh root."
            )

    def _record_run(self, run_id: str) -> None:
        """Append `run_id` to the commit record (a retry moves it to the
        end), atomically: tmp file + rename."""
        order = [r for r in self._run_order() if r != run_id] + [run_id]
        tmp = self.run_order_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(order, fh)
        os.replace(tmp, self.run_order_path)

    def _write_metrics(self, *row) -> None:
        self.spark.createDataFrame(
            [row],
            "run_id string, files_processed long, files_skipped long, triples long, parse_errors long, config_hash string",
        ).write.mode("append").parquet(self.metrics_path)

    def run(
        self,
        src_files: DataFrame,
        run_id: Optional[str] = None,
        cfg: Optional[GraphConfig] = None,
        mapping: Optional[Dict[str, str]] = None,
    ) -> IncrementalResult:
        """Process only files not yet in the checkpoint; write triples for
        this run under triples/run_id=<id>/, then commit lineage +
        processed rows.

        One aggregation over the source, marked against the ledger, gives
        the new-file count, the total and the run id; the triple and
        parse-error counts are observed on the triples write. A malformed
        file is quarantined as a parse_error row, never fatal.

        Crash safety: run_id is derived from the todo-set content hash, so
        a retry after a crash anywhere before the final commit recomputes
        the same todo → same run_id → every write below (triples directory
        overwrite, lineage/processed dynamic-partition overwrite keyed by
        run_id) replaces rather than duplicates. Orphan run directories
        from a crashed run whose todo set has since changed are pruned
        before processing.

        Config lineage: the (cfg, mapping) fingerprint is part of the
        processed-file key AND every lineage/metrics row — a re-run with a
        changed config is a DIFFERENT todo set (files reprocess under the
        new semantics) and the ledger records which config produced each
        run (the reference stores this as the `_GraphConfig` singleton the
        import transaction reads — GraphConfig.java:88-157)."""
        fp = config_fingerprint(cfg, mapping)
        src = src_files.withColumn("content_sha", F.sha2("content", 256)).withColumn(
            "config_hash", F.lit(fp)
        )
        key = ["repo", "path", "commit", "content_sha", "config_hash"]
        done = self.processed()
        if done is not None:
            self._check_layout(done)
            # distinct: a file listed twice in one run has two ledger rows,
            # and must not multiply its source rows here
            done = done.select(*key).distinct().withColumn("_done", F.lit(True))
            src = src.join(done, key, "left")
        else:
            src = src.withColumn("_done", F.lit(None).cast("boolean"))
        self._prune_orphan_runs(set(self.run_ids()))
        new = F.col("_done").isNull()
        # cached for the count and the parse; skipped files keep no content
        src = src.withColumn("content", F.when(new, F.col("content"))).cache()
        try:
            # run id: an order-independent sum of per-file hashes (decimal —
            # no overflow) plus the file count, so a retry of the same todo
            # set gets the same id and overwrites its own partitions
            row = src.agg(
                F.count("*").alias("n_total"),
                F.count(F.when(new, 1)).alias("n_new"),
                F.sum(F.when(new, F.xxhash64(*key).cast("decimal(20,0)"))).alias("h"),
            ).first()
            n_new, n_total = row["n_new"], row["n_total"]
            if n_new == 0:
                run_id = run_id or time.strftime("%Y%m%d%H%M%S")
                self._write_metrics(run_id, 0, n_total, 0, 0, fp)
                return IncrementalResult(run_id, 0, n_total, None)
            run_id = run_id or f"r{n_new}x{int(row['h'] or 0) % 16**12:012x}"
            todo = src.filter(new)
            triples = extract_triples(todo.drop("content_sha", "config_hash", "_done"), False)
            ok = F.col("parse_error").isNull()
            obs = Observation()
            out_dir = os.path.join(self.triples_root, f"run_id={run_id}")
            triples.observe(
                obs, F.count(F.when(ok, 1)).alias("triples"), F.count(F.when(~ok, 1)).alias("errors")
            ).write.mode("overwrite").parquet(out_dir)
            written = self.run_triples(run_id)
            # per-file lineage ledger (the per-partition commit record);
            # partitioned by run_id + dynamic overwrite → retry-idempotent
            lineage = (
                written.groupBy("repo", "path", "commit")
                .agg(
                    F.count(F.when(ok, 1)).alias("n_triples"),
                    F.max((~ok).cast("int")).alias("had_error"),
                )
                .withColumn("config_hash", F.lit(fp))
                .withColumn("run_id", F.lit(run_id))
            )
            self._record_run(run_id)
            for df, path in ((lineage, self.lineage_path),
                             (todo.select(*key).withColumn("run_id", F.lit(run_id)), self.processed_path)):
                (
                    df.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("run_id")
                    .parquet(path)
                )
        finally:
            src.unpersist()
        counts = obs.get
        self._write_metrics(run_id, n_new, n_total - n_new, counts["triples"], counts["errors"], fp)
        return IncrementalResult(run_id, n_new, n_total - n_new, written)
