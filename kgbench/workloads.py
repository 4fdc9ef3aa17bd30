"""The benchmark workloads, driven through the package's public API.

Each workload has an untimed `prepare`, a timed `op` (one build, one link,
or one delta batch), a cheap per-op check on what the op itself returned,
and a full output check against the generator's manifest that runs once,
after the timed window. `op` takes a tracer: the untraced run passes a
NullTracer, so both runs execute the same calls in the same order.
"""

from __future__ import annotations

import gc
import os
import shutil
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq
from neosemantics_spark.checkpoint import ImportCheckpoint
from neosemantics_spark.config import PREFIX_SEPARATOR, STANDARD_PREFIXES, GraphConfig
from neosemantics_spark.operators.cc import canonical_map, canonicalize_triples, sameas_edges
from neosemantics_spark.operators.export import graph_to_triples, write_ntriples
from neosemantics_spark.operators.incremental import IncrementalGraphStore, extend_prefix_map
from neosemantics_spark.operators.materialize import (
    materialize,
    transform_triples,
    write_edges_partitioned,
    write_node_props_partitioned,
)
from neosemantics_spark.operators.prefixes import build_prefix_map, collect_namespaces
from neosemantics_spark.sources.parse import extract_triples
from neosemantics_spark.validation.shacl import ShaclValidator, compile_shapes, touched_nodes
from neosemantics_spark.validation.store import ShapesStore
from pyspark.sql import functions as F

import gen
from spans import NullTracer, du


def set_hash_col(col):
    """Spark side of gen.set_hash: sum of each row's 60-bit sha256 prefix."""
    return F.sum(F.conv(F.substring(F.sha2(col, 256), 1, 15), 16, 10).cast("decimal(38,0)"))


def iri_mapper(ns: Dict[str, str]):
    """Shape IRI -> stored form under a SHORTEN prefix map (as the import
    job builds it for validation)."""
    order = sorted(ns.items(), key=lambda kv: -len(kv[0]))

    def m(iri: str) -> str:
        for nsp, pref in order:
            if iri.startswith(nsp):
                return pref + PREFIX_SEPARATOR + iri[len(nsp):]
        return iri

    return m


def compare(actual: dict, expected: dict) -> List[str]:
    """One line per observed value that differs from the manifest's."""
    return [
        f"{k}: got {v!r}, expected {expected.get(k)!r}"
        for k, v in actual.items()
        if v != expected.get(k)
    ]


class Workload:
    name = ""

    def __init__(self, spark, tmp: str, corpus: gen.Corpus, expected: dict):
        self.spark = spark
        self.tmp = tmp
        self.corpus = corpus
        self.expected = expected
        self.input = os.path.join(tmp, "input", "src_files.parquet")
        self.last: dict = {}

    # input ------------------------------------------------------------
    def write_input(self) -> None:
        rows = [f.row() for f in self.corpus.files]
        cols = {k: [r[k] for r in rows] for k in ("repo", "path", "commit", "lang", "content")}
        cols.update(self.extra_columns())
        os.makedirs(os.path.dirname(self.input), exist_ok=True)
        pq.write_table(pa.table(cols), self.input)

    def extra_columns(self) -> dict:
        return {}

    def prepare(self) -> None:
        pass

    def between_ops(self) -> None:
        self.spark.catalog.clearCache()
        gc.collect()

    def exhausted(self, n_ops: int) -> bool:
        return False

    def op_triples(self, i: int) -> int:
        return self.expected["triples"]

    def expected_final(self) -> dict:
        return self.expected

    def check(self) -> List[str]:
        """Full output check of the last operation against the manifest."""
        return compare(self.observe(), self.expected_final())


class _BatchBuild(Workload):
    """Shared by full_import and entity_linking: a cold build from src_files."""

    vocab = "SHORTEN"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.cfg = GraphConfig(handle_vocab_uris=self.vocab)

    def between_ops(self) -> None:
        self.last = {}
        for name in os.listdir(self.tmp):
            if name.startswith("out"):
                shutil.rmtree(os.path.join(self.tmp, name), ignore_errors=True)
        super().between_ops()

    def _parse(self, tr, src) -> tuple:
        with tr.span("parse"):
            raw = extract_triples(src).cache()
            n_raw = raw.count()
            n_err = raw.filter(F.col("parse_error").isNotNull()).count()
        return raw, n_raw - n_err, n_err

    def _link_and_materialize(self, tr, t, out: str) -> tuple:
        with tr.span("cc"):
            comp = canonical_map(t)
        with tr.span("cc.apply"):
            t = canonicalize_triples(t, comp).cache()
            t.count()
        with tr.span("materialize"):
            tables = materialize(t, self.cfg, cache_intermediate=True)
            if tr.enabled:
                with tr.span("materialize.props"):
                    tables.node_props.count()
                with tr.span("materialize.nodes"):
                    nodes = tr.boundary(tables.nodes)
                with tr.span("materialize.edges"):
                    edges = tr.boundary(tables.edges)
                tables = tables._replace(nodes=nodes, edges=edges)
            with tr.span("materialize.write"):
                tables.nodes.write.mode("overwrite").parquet(os.path.join(out, "nodes"))
                write_edges_partitioned(tables.edges, os.path.join(out, "edges"), self.cfg)
                write_node_props_partitioned(
                    tables.node_props, os.path.join(out, "node_props"), self.cfg
                )
        return comp, tables

    def _trace_counts(self, c: dict, t_pre, comp, out: str) -> None:
        """Per-layer counts for the traced run (aux jobs, untimed)."""
        c["cc.sameas_edges"] = sameas_edges(t_pre).count()
        c["cc.components"] = comp.select("component").distinct().count()
        c["transforms.rows_out"] = t_pre.count()
        for k in ("nodes", "edges", "node_props"):
            c[f"materialize.{k}"] = self.spark.read.parquet(os.path.join(out, k)).count()
        c["materialize.bytes_written"] = sum(
            du(os.path.join(out, k)) for k in ("nodes", "edges", "node_props")
        )

    def op_ok(self, c: dict) -> bool:
        e = self.expected
        return c["parse.triples"] == e["triples"] and c["parse.quarantined"] == e["quarantined"]

    def observe(self) -> dict:
        c, spark = self.last, self.spark
        reps = c["_comp"].select("component").distinct()
        row = reps.agg(F.count("*").alias("n"), set_hash_col("component").alias("h")).first()
        got = {
            "triples": c["parse.triples"],
            "quarantined": c["parse.quarantined"],
            "linked_uris": c["_comp"].count(),
            "components": row["n"],
            "reps_hash": int(row["h"] or 0),
        }
        for k in ("nodes", "edges", "node_props"):
            got[k] = spark.read.parquet(os.path.join(c["_out"], k)).count()
        return got


class FullImport(_BatchBuild):
    name = "full_import"

    def op(self, i: int, tr) -> dict:
        spark, cfg = self.spark, self.cfg
        out = os.path.join(self.tmp, f"out{i}")
        src = spark.read.parquet(self.input)
        with tr.span("op", layer="op"):
            raw, n_trip, n_err = self._parse(tr, src)
            with tr.span("prefixes"):
                namespaces = collect_namespaces(raw)
                ns = build_prefix_map(namespaces)
            with tr.span("transforms"):
                t = tr.boundary(transform_triples(raw, cfg, ns))
            comp, tables = self._link_and_materialize(tr, t, out)
            with tr.span("shacl"):
                shapes = compile_shapes(gen.SHAPES_TTL)
                violations = ShaclValidator(tables, iri_mapper(ns)).validate(shapes)
                violations.write.mode("overwrite").parquet(os.path.join(out, "violations"))
                n_viol = spark.read.parquet(os.path.join(out, "violations")).count()
            with tr.span("export"):
                prefix_to_ns = {p: n for n, p in ns.items()}
                write_ntriples(
                    graph_to_triples(tables, cfg, prefix_to_ns), os.path.join(out, "export")
                )
        c = {
            "parse.triples": n_trip,
            "parse.quarantined": n_err,
            "prefixes.namespaces": len(namespaces),
            "shacl.violations": n_viol,
            "_out": out,
            "_comp": comp,
            "_namespaces": namespaces,
        }
        if tr.enabled:
            with tr.aux():
                self._trace_counts(c, t, comp, out)
                m = iri_mapper(ns)
                targets = F.array(F.lit(m(gen.PERSON)), F.lit(m(gen.ORG)))
                c["shacl.focus_nodes"] = tables.nodes.filter(
                    F.arrays_overlap("labels", targets)
                ).count()
                c["export.lines"] = spark.read.text(os.path.join(out, "export")).count()
                c["export.bytes"] = du(os.path.join(out, "export"))
        self.last = c
        return c

    def op_ok(self, c: dict) -> bool:
        e = self.expected
        return (
            super().op_ok(c)
            and c["shacl.violations"] == e["violations"]
            and c["prefixes.namespaces"] == e["namespaces"]
        )

    def observe(self) -> dict:
        got = super().observe()
        out = self.last["_out"]
        lines = self.spark.read.text(os.path.join(out, "export"))
        row = lines.agg(F.count("*").alias("n"), set_hash_col("value").alias("h")).first()
        got.update(
            {
                "namespace_list": sorted(self.last["_namespaces"]),
                "violations": self.spark.read.parquet(os.path.join(out, "violations")).count(),
                "export_lines": row["n"],
                "export_hash": int(row["h"] or 0),
            }
        )
        return got


class EntityLinking(_BatchBuild):
    name = "entity_linking"
    vocab = "KEEP"

    def op(self, i: int, tr) -> dict:
        out = os.path.join(self.tmp, f"out{i}")
        src = self.spark.read.parquet(self.input)
        with tr.span("op", layer="op"):
            raw, n_trip, n_err = self._parse(tr, src)
            with tr.span("transforms"):
                t = tr.boundary(transform_triples(raw, self.cfg))
            comp, tables = self._link_and_materialize(tr, t, out)
        c = {"parse.triples": n_trip, "parse.quarantined": n_err, "_out": out, "_comp": comp}
        if tr.enabled:
            with tr.aux():
                self._trace_counts(c, t, comp, out)
        self.last = c
        return c


class IncrementalIngest(Workload):
    """The steady-state path of the import job in --incremental --shapes
    mode: every op is one batch that presents the whole snapshot seen so
    far plus a few new files."""

    name = "incremental_ingest"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.cfg = GraphConfig(handle_vocab_uris="SHORTEN")
        self.ckpt = os.path.join(self.tmp, "checkpoint")
        self.state = os.path.join(self.tmp, "graph_state")
        self.batch = 0

    def extra_columns(self) -> dict:
        m = self.corpus.meta
        n_base, k = m["n_base"], m["batch_files"]
        return {"batch": [0 if i < n_base else 1 + (i - n_base) // k for i in range(len(self.corpus.files))]}

    def prepare(self) -> None:
        self.cp = ImportCheckpoint(self.spark, self.ckpt)
        self.store = IncrementalGraphStore(self.spark, self.state, self.cfg, order="arrival")
        ShapesStore(self.spark, self.ckpt).import_shapes(gen.SHAPES_TTL)
        self.ns = {v: k for k, v in STANDARD_PREFIXES.items()}
        c = self._batch(0, NullTracer())
        if not self.op_ok(c):
            raise RuntimeError(f"base snapshot ingest failed its check: {c}")

    def exhausted(self, n_ops: int) -> bool:
        return n_ops >= self.corpus.meta["n_batches"]

    def op_triples(self, i: int) -> int:
        return self.expected["batches"][i + 1]["triples"]

    def op(self, i: int, tr) -> dict:
        return self._batch(i + 1, tr)

    def _batch(self, b: int, tr) -> dict:
        spark, cfg = self.spark, self.cfg
        ckpt_before = du(self.ckpt) if tr.enabled else 0
        src = spark.read.parquet(self.input).filter(F.col("batch") <= b).drop("batch")
        with tr.span("op", layer="op"):
            with tr.span("checkpoint"):
                res = self.cp.run(src, cfg=cfg)
            delta = res.triples.filter(F.col("parse_error").isNull()).cache()
            with tr.span("prefixes"):
                self.ns = extend_prefix_map(self.ns, collect_namespaces(delta))
            with tr.span("transforms"):
                tt = tr.boundary(transform_triples(delta, cfg, self.ns))
            with tr.span("incremental.merge"):
                counts = self.store.merge_batch(tt, batch_id=res.run_id)
            with tr.span("incremental.tables"):
                tables = self.store.tables()
            with tr.span("shacl"):
                shapes = ShapesStore(spark, self.ckpt).compiled()
                dn = touched_nodes(self.cp, res.run_id)
                v = ShaclValidator(tables, iri_mapper(self.ns)).validate_delta(shapes, dn)
                vdir = os.path.join(self.tmp, "violations", f"run_id={res.run_id}")
                v.write.mode("overwrite").parquet(vdir)
                n_viol = spark.read.parquet(vdir).count()
        c = {
            "_batch": b,
            "checkpoint.new_files": res.new_files,
            "checkpoint.skipped_files": res.skipped_files,
            "incremental.nodes": counts["uri_state"],
            "incremental.edges": counts["edge_state"],
            "incremental.node_props": counts["prop_state"],
            "prefixes.namespaces": len(self.ns),
            "shacl.violations": n_viol,
        }
        if tr.enabled:
            with tr.aux():
                c["parse.triples"] = delta.count()
                c["transforms.rows_out"] = tt.count()
                c["shacl.focus_nodes"] = dn.count()
                c["checkpoint.bytes_written"] = du(self.ckpt) - ckpt_before
                c.update(self._bucket_rewrites())
                c["incremental.state_bytes"] = du(self.state)
        delta.unpersist()
        self.batch = b
        self.last = c
        return c

    def _bucket_rewrites(self) -> dict:
        """Bucket directories the last merge wrote into the new version,
        and their share of n_buckets over the tables it wrote."""
        vdir = os.path.dirname(self.store._vdir(self.store.version(), "x"))
        tables = os.listdir(vdir) if os.path.isdir(vdir) else []
        n = sum(
            sum(d.startswith("bucket=") for d in os.listdir(os.path.join(vdir, t))) for t in tables
        )
        return {
            "incremental.buckets_rewritten": n,
            "incremental.bucket_rewrite_ratio": n / (max(1, len(tables)) * self.store.n_buckets),
        }

    def op_ok(self, c: dict) -> bool:
        e = self.expected["batches"][c["_batch"]]
        return (
            c["checkpoint.new_files"] == e["new_files"]
            and c["checkpoint.skipped_files"] == e["skipped_files"]
            and c["incremental.nodes"] == e["nodes"]
            and c["incremental.edges"] == e["edges"]
            and c["incremental.node_props"] == e["node_props"]
            and c["shacl.violations"] == e["violations"]
        )

    def observe(self) -> dict:
        """After the last batch: the store's derived tables, the prefix map,
        the checkpoint ledger and every violation written so far."""
        tables = self.store.tables()
        return {
            "nodes": tables.nodes.count(),
            "edges": tables.edges.count(),
            "node_props": tables.node_props.count(),
            "namespace_list": sorted(self.ns),
            "ledger_files": self.cp.processed().count(),
            "checkpointed_triples": self.cp.all_triples()
            .filter(F.col("parse_error").isNull())
            .count(),
            "violations_written": self.spark.read.parquet(
                os.path.join(self.tmp, "violations")
            ).count(),
        }

    def expected_final(self) -> dict:
        batches = self.expected["batches"][: self.batch + 1]
        e = batches[-1]
        return {
            "nodes": e["nodes"],
            "edges": e["edges"],
            "node_props": e["node_props"],
            "namespace_list": sorted(set(STANDARD_PREFIXES.values()) | set(e["namespace_list"])),
            "ledger_files": sum(b["new_files"] for b in batches),
            "checkpointed_triples": sum(b["triples"] for b in batches),
            "violations_written": sum(b["violations"] for b in batches),
        }


WORKLOADS = {w.name: w for w in (FullImport, EntityLinking, IncrementalIngest)}
