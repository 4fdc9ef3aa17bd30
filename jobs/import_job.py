"""Production entrypoint — the north rule's `spark-submit --py-files` job.

Reads a src_files-shaped parquet/Iceberg table, runs the full
KG-construction pipeline incrementally against a checkpoint, writes
nodes/edges/triples outputs, prints a JSON metrics line.

Example:
    zip -r /tmp/pkg.zip neosemantics_spark
    spark-submit --py-files /tmp/pkg.zip jobs/import_job.py \
        --input /data/src_files --output /data/kg --checkpoint /data/ckpt \
        --vocab SHORTEN --multival ARRAY

On a real cluster the same file is submitted with --master yarn/k8s; the
pipeline contains no local-mode assumptions (partitioning is derived from
the input splits, all joins size-gated/AQE-planned).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="src_files parquet path")
    ap.add_argument("--output", required=True, help="output root (nodes/edges/triples)")
    ap.add_argument("--checkpoint", required=True, help="checkpoint root for resumable runs")
    ap.add_argument("--vocab", default="SHORTEN", choices=["SHORTEN", "SHORTEN_STRICT", "IGNORE", "MAP", "KEEP"])
    ap.add_argument("--multival", default="OVERWRITE", choices=["OVERWRITE", "ARRAY"])
    ap.add_argument("--keep-lang-tag", action="store_true")
    ap.add_argument("--no-entity-linking", action="store_true")
    ap.add_argument("--run-id", default=None)
    ap.add_argument(
        "--incremental",
        action="store_true",
        help="MERGE-equivalent steady-state mode: append ONLY this run's "
        "delta to the IncrementalGraphStore under <checkpoint>/graph_state "
        "(a bucketed triple log) and re-materialize just the buckets it "
        "touches from their logged rows. Periodic log compaction drops "
        "re-imported and superseded rows, so a touched bucket costs its "
        "share of the graph plus the batches since the last compaction, "
        "not the whole ingest history. Runs the ledger committed but the "
        "store never merged "
        "(a crash between the two) are merged first. Requires "
        "--no-entity-linking: owl:sameAs fusion is corpus-global (use "
        "--canonicalize for the periodic reconcile).",
    )
    ap.add_argument(
        "--canonicalize",
        action="store_true",
        help="(with --incremental) run the periodic sameAs reconcile: "
        "connected components over the store's owl:sameAs edges, and THIS "
        "run's output tables materialized from the canonicalized log "
        "(tables_canonicalized — the store itself stays canonical-free). "
        "The out-of-band refresh that replaces per-batch entity linking "
        "in steady-state mode.",
    )
    ap.add_argument(
        "--shapes",
        default=None,
        help="SHACL shapes Turtle file: imported into the checkpoint's "
        "ShapesStore, then THIS run's delta nodes are validated "
        "(validateTransaction analogue) and violations written to "
        "<output>/violations/run_id=<id>. Without it, previously "
        "imported shapes (if any) still validate the delta.",
    )
    args = ap.parse_args()
    if args.canonicalize and not args.incremental:
        sys.exit(
            "--canonicalize applies the sameAs reconcile to the "
            "incremental store's derived tables — it requires "
            "--incremental (the full-recompute path already does entity "
            "linking unless --no-entity-linking)."
        )

    from neosemantics_spark.checkpoint import ImportCheckpoint
    from neosemantics_spark.config import GraphConfig
    from neosemantics_spark.operators.materialize import (
        write_edges_partitioned,
        write_node_props_partitioned,
    )
    from neosemantics_spark.operators.prefixes import shorten_iri
    from neosemantics_spark.pipeline import build_graph
    from neosemantics_spark.session import get_submitted_spark

    spark = get_submitted_spark("neosemantics-import-job")
    cfg = GraphConfig(
        handle_vocab_uris=args.vocab,
        handle_multival=args.multival,
        keep_lang_tag=args.keep_lang_tag,
    )
    src = spark.read.parquet(args.input)
    cp = ImportCheckpoint(spark, args.checkpoint)
    from pyspark.sql import functions as F

    if args.incremental:
        import os

        from neosemantics_spark.operators.incremental import IncrementalGraphStore
        from neosemantics_spark.pipeline import ingest_batch

        if not args.no_entity_linking:
            sys.exit(
                "--incremental requires --no-entity-linking: owl:sameAs "
                "fusion is corpus-global and invalidates per-node state; "
                "use --canonicalize for the reconcile refresh over the "
                "store instead."
            )
        store = IncrementalGraphStore(
            spark,
            os.path.join(args.checkpoint, "graph_state"),
            cfg,
            order="arrival",
        )
        # prefixes persist across batches and are never re-assigned (the
        # reference's _NsPrefDef contract)
        res, ns, runs = ingest_batch(
            cp, store, src, cfg,
            ns_path=os.path.join(args.checkpoint, "ns_prefixes.json"),
            run_id=args.run_id,
        )
        if not runs:
            print(json.dumps({"run_id": res.run_id, "new_files": 0, "status": "up-to-date"}))
            return
        tables = store.tables_canonicalized() if args.canonicalize else store.tables()
    else:
        res = cp.run(src, run_id=args.run_id, cfg=cfg)
        if res.triples is None:
            print(json.dumps({"run_id": res.run_id, "new_files": 0, "status": "up-to-date"}))
            return
        runs = [res.run_id]
        # full-recompute mode: the graph ACCUMULATES across runs — only
        # the delta was parsed (the expensive Arrow-batched Python
        # stage), but transforms + materialize run over every
        # checkpointed run's triples so the output tables are the full
        # graph, not this batch's slice
        triples = (
            cp.all_triples().filter(F.col("parse_error").isNull()).drop("run_id").cache()
        )
        _, tables, ns = build_graph(triples, cfg, link_entities=not args.no_entity_linking)
    tables.nodes.write.mode("overwrite").parquet(f"{args.output}/nodes")
    write_edges_partitioned(tables.edges, f"{args.output}/edges", cfg)
    write_node_props_partitioned(tables.node_props, f"{args.output}/node_props", cfg)

    # per-batch delta validation (validateTransaction analogue): only the
    # nodes THIS run touched are validated, against shapes persisted in
    # the checkpoint's ShapesStore — the loop an incremental 100 TB
    # ingest runs on every batch
    n_violations = None
    from neosemantics_spark.validation.shacl import ShaclValidator, touched_nodes
    from neosemantics_spark.validation.store import ShapesStore

    store = ShapesStore(spark, args.checkpoint)
    if args.shapes:
        with open(args.shapes) as fh:
            store.import_shapes(fh.read())
    shapes = store.compiled()
    if shapes is not None:
        # a replayed run (see ingest_batch) is validated like a new one
        n_violations = 0
        for rid in runs:
            violations = ShaclValidator(tables, shorten_iri(ns)).validate_delta(
                shapes, touched_nodes(cp, rid)
            )
            vdir = f"{args.output}/violations/run_id={rid}"
            violations.write.mode("overwrite").parquet(vdir)
            n_violations += spark.read.parquet(vdir).count()

    print(
        json.dumps(
            {
                "run_id": res.run_id,
                "runs": runs,
                "new_files": res.new_files,
                "skipped_files": res.skipped_files,
                # count the cached tables (a partitioned dir with zero
                # edges has no footers to re-read schema from)
                "nodes": tables.nodes.count(),
                "edges": tables.edges.count(),
                "namespaces": len(ns),
                "incremental": args.incremental,
                "delta_violations": n_violations,
                "status": "ok",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
