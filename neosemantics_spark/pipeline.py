"""End-to-end import pipeline facade — the `n10s.rdf.import.*` analogue.

read src_files → parse (mapInPandas) → transforms (T1–T10) →
canonicalization (J3) → materialize nodes/edges (A1–A5).

Lifecycle mirror of the reference's import chain
(/root/reference/src/main/java/n10s/rdf/RDFProcedures.java:58-99 →
DirectStatementLoader), re-staged for Spark: each stage boundary below is
at most one shuffle; the parse stage is narrow (SURVEY.md §3.1).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import IncrementalResult
from .config import STANDARD_PREFIXES, GraphConfig
from .operators.cc import canonical_map, canonicalize_triples
from .operators.materialize import GraphTables, materialize, transform_triples
from .operators.prefixes import build_prefix_map, collect_namespaces
from .sources.parse import extract_triples


@dataclass
class ImportResult:
    """n10s ImportResults analogue (rdf/RDFProcedures.java:383-418)."""

    tables: GraphTables
    triples: DataFrame  # transformed triples (post T1–T10, pre-materialize)
    namespaces: Dict[str, str]  # namespace -> prefix
    triples_parsed: int
    triples_loaded: int
    parse_errors: int
    config_hash: str = ""  # fingerprint of (cfg, mapping) — lineage record


def build_graph(
    triples: DataFrame,
    cfg: GraphConfig,
    link_entities: bool = True,
    mapping: Optional[Dict[str, str]] = None,
    cache: bool = True,
) -> Tuple[DataFrame, GraphTables, Dict[str, str]]:
    """The batch chain over parsed triples: prefix map (SHORTEN modes) →
    transforms (T1–T10) → owl:sameAs canonicalization (J3, with
    `link_entities`) → materialize (A1–A5). `cache` persists the
    transformed triples and the graph tables. Returns (transformed
    triples, tables, namespace → prefix map)."""
    ns_to_prefix: Dict[str, str] = {}
    if cfg.handle_vocab_uris in ("SHORTEN", "SHORTEN_STRICT"):
        ns_to_prefix = build_prefix_map(collect_namespaces(triples))
    t = transform_triples(triples, cfg, ns_to_prefix, mapping)
    if link_entities:
        t = canonicalize_triples(t, canonical_map(t))
    if cache:
        t = t.cache()
    return t, materialize(t, cfg, cache_intermediate=cache), ns_to_prefix


def import_rdf(
    src_files: DataFrame,
    cfg: Optional[GraphConfig] = None,
    link_entities: bool = True,
    mapping: Optional[Dict[str, str]] = None,
    cache_triples: bool = True,
) -> ImportResult:
    cfg = cfg or GraphConfig()
    raw = extract_triples(src_files, abort_on_error=False)
    if cache_triples:
        # the parse is the expensive Python stage — materialize it once,
        # every downstream branch (props/labels/edges/CC) reuses it
        raw = raw.cache()
    # one job for both counts: count(parse_error) skips the null rows
    triples_parsed, parse_errors = raw.agg(F.count("*"), F.count("parse_error")).first()

    t, tables, ns_to_prefix = build_graph(raw, cfg, link_entities, mapping, cache_triples)
    loaded = t.count()  # transform_triples already drops quarantined rows
    from .checkpoint import config_fingerprint

    return ImportResult(
        tables=tables,
        triples=t,
        namespaces={v: k for k, v in ns_to_prefix.items()},
        triples_parsed=triples_parsed,
        triples_loaded=loaded,
        parse_errors=parse_errors,
        config_hash=config_fingerprint(cfg, mapping),
    )


def ingest_batch(
    cp,
    store,
    src_files: DataFrame,
    cfg: GraphConfig,
    ns_path: Optional[str] = None,
    run_id: Optional[str] = None,
) -> Tuple[IncrementalResult, Dict[str, str], List[str]]:
    """One steady-state incremental batch: checkpoint the new files in
    `src_files` (an `ImportCheckpoint`), then merge their triples into
    `store` (an `IncrementalGraphStore`).

    The ledger commits a run before the store merges it, so a crash in
    between would lose that run from the graph. Every committed run the
    store has not merged is therefore merged first, oldest first. The
    store's batch ids are the ledger's run ids, so a store fed by this
    function should be fed by nothing else.

    SHORTEN modes extend one persistent prefix map (`ns_path`, JSON
    {namespace: prefix}) and save it before each merge, so a prefix the
    store has used is never re-assigned. Returns the checkpoint result,
    the prefix map and the run ids merged by this call."""
    from .operators.incremental import extend_prefix_map

    shorten = cfg.handle_vocab_uris in ("SHORTEN", "SHORTEN_STRICT")
    ns: Dict[str, str] = {}
    if shorten:
        ns = {v: k for k, v in STANDARD_PREFIXES.items()}
        if ns_path and os.path.exists(ns_path):
            with open(ns_path) as fh:
                ns = json.load(fh)

    def merge(rid: str, triples: DataFrame) -> None:
        nonlocal ns
        delta = triples.filter(F.col("parse_error").isNull()).cache()
        try:
            if shorten:
                ns = extend_prefix_map(ns, collect_namespaces(delta))
                if ns_path:
                    tmp = ns_path + ".tmp"
                    with open(tmp, "w") as fh:
                        json.dump(ns, fh, sort_keys=True)
                    os.replace(tmp, ns_path)
            store.merge_batch(transform_triples(delta, cfg, ns), batch_id=rid)
        finally:
            delta.unpersist()

    merged = {b["batch_id"] for b in store.batches()}
    runs = [r for r in cp.run_ids() if r not in merged]
    for rid in runs:
        merge(rid, cp.run_triples(rid))
    res = cp.run(src_files, run_id=run_id, cfg=cfg)
    if res.triples is not None:
        merge(res.run_id, res.triples)
        runs.append(res.run_id)
    return res, ns, runs
