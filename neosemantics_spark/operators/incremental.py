"""Incremental graph-table maintenance — the MERGE-equivalent of the
reference's steady-state import loop.

The reference's DirectStatementLoader (DirectStatementLoader.java:60-129)
upserts every incoming batch into the live store: find-or-create node,
merge property arrays, last-write-wins scalars (its incremental fixtures
`src/test/resources/incremental/step{1,2,3}.ttl` pin exactly this:
ARRAY-mode values accumulate across imports, OVERWRITE-mode re-imports
replace). `ImportCheckpoint` already parses only each run's delta; this
module re-materializes only the part of the graph that delta touches.

The store persists two things:

- a LOG of `transform_triples` rows (the columns `materialize` reads,
  plus one statement-order column `ord`), hash-bucketed by entity key —
  `pmod(xxhash64(key), n_buckets)` where the key is the subject, or the
  quoted triple's subject for an RDF-star row. The log is append-only:
  each batch adds one segment `log/seg=<n>/bucket=<b>`.
- the three OUTPUT tables `nodes`, `edges` and `node_props` under
  `v=<n>/<table>/bucket=<b>`, bucketed by uri / src / uri, with a
  per-bucket version pointer in the manifest.

A batch appends its segment, then rebuilds only the buckets it touched by
calling `materialize` itself over those buckets' log rows and keeping the
output rows whose key hashes into them. Equality with a batch build of
the union therefore holds by construction. `order='canonical'` logs
`materialize`'s own content-derived order, so merge-of-batches ==
materialize-of-union exactly; `order='arrival'` prefixes the batch
version, reproducing the reference's temporal last-write-wins.

Object-only nodes: a node's row comes from its own subject rows AND from
object references in other subjects' buckets (`graph = min(graph)` spans
both). So every object-reference row whose object hashes elsewhere is
also filed, as a copy, in the object's bucket. Copies carry no literal,
and `materialize` is insensitive to duplicate resource rows (edges,
labels and uris are deduplicated), so they only ever complete a node.

Untouched buckets keep their pointer, so live data spans several
versions; when more than `max_live_versions` are referenced, the next
merge compacts the log into one segment and rebuilds every bucket
(amortized LSM-style). Compaction keeps only the rows `materialize` can
still select (`_prune`): re-imported statements and, in OVERWRITE mode,
superseded literal values are dropped. A touched bucket therefore costs
its share of the graph plus the batches logged since the last
compaction, not the whole ingest history. Commit protocol: commits/MANIFEST-<n> + atomic
HEAD rename — a crash anywhere leaves HEAD on a complete older snapshot
whose files are all still on disk (GC keeps everything referenced by the
current AND previous manifest; a retry overwrites the orphaned version).

Scope boundary (documented, not silent): owl:sameAs fusion is
corpus-global — a new sameAs edge can merge two nodes that were distinct
in every earlier batch — so the store takes ALREADY-TRANSFORMED,
NON-canonicalized triples (the reference's loader has no sameAs fusion
either). `tables_canonicalized` is the periodic reconcile: it
canonicalizes the whole log and materializes it. SHORTEN-mode prefix
assignment must be stable across batches: pass the store a persistent
namespace map (the reference's `_NsPrefDef` contract — prefixes are
never re-assigned; see `extend_prefix_map`).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections import defaultdict
from typing import Optional

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..config import ARRAY, NODES, LABELS_AND_NODES, GraphConfig
from ..rdf.terms import RDF_TYPE
from .materialize import GraphTables, _ord, materialize

# output table -> the column it is bucketed on
_KEY = {"nodes": "uri", "edges": "src", "node_props": "uri"}
# what `materialize`, `canonicalize_triples` and `sameas_edges` read
_LOG_COLS = (
    "subject", "predicate", "object", "is_literal", "datatype", "lang",
    "graph", "sspo", "pred_t", "rel_t", "label_t", "value", "value_type",
)


def _cfg_fingerprint(
    cfg: GraphConfig, with_graph_identity: bool, order: str, n_buckets: int
) -> str:
    import hashlib
    from dataclasses import asdict

    payload = {
        "cfg": asdict(cfg),
        "with_graph_identity": with_graph_identity,
        "order": order,
        "n_buckets": n_buckets,
        # bumped when the persisted layout changes (3: triple log +
        # per-bucket output tables) — old roots refuse loudly instead of
        # failing on a missing table mid-merge
        "state_schema": 3,
    }
    return hashlib.sha256(
        json.dumps(payload, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


class IncrementalGraphStore:
    """A bucketed triple log plus the nodes/edges/node_props tables
    `materialize` derives from it, upserted one batch at a time;
    `tables()` equals `materialize` over the union of every merged batch
    (pytest + the `kg_incremental*` driver oracles pin the equality)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        cfg: Optional[GraphConfig] = None,
        with_graph_identity: bool = True,
        order: str = "canonical",
        n_buckets: int = 16,
        max_live_versions: int = 8,
    ):
        # driver-local commit protocol: a remote-scheme root would
        # silently lose the manifest
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):", root)
        if m:
            if m.group(1) != "file":
                raise ValueError(
                    f"IncrementalGraphStore root {root!r} uses URI scheme "
                    f"{m.group(1)!r}; the snapshot-commit protocol is "
                    "driver-local — use a local path or a mount point."
                )
            root = re.sub(r"^file:(//)?", "", root) or "/"
        if order not in ("canonical", "arrival"):
            raise ValueError(f"order must be 'canonical' or 'arrival', got {order!r}")
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self.spark = spark
        self.root = root
        self.cfg = cfg or GraphConfig()
        self.with_graph_identity = with_graph_identity
        self.order = order
        self.n_buckets = n_buckets
        self.max_live_versions = max(1, max_live_versions)
        self.p_commits = os.path.join(root, "commits")
        self.p_meta = os.path.join(root, "meta.json")
        fp = _cfg_fingerprint(self.cfg, with_graph_identity, order, n_buckets)
        if os.path.exists(self.p_meta):
            with open(self.p_meta) as fh:
                meta = json.load(fh)
            if meta["fingerprint"] != fp:
                raise ValueError(
                    "IncrementalGraphStore config mismatch: this state was "
                    f"built with fingerprint {meta['fingerprint']}, caller "
                    f"passed {fp}. The materialized tables are config-specific "
                    "and the bucket layout is n_buckets-specific — use a "
                    "fresh root for a new config."
                )
        self.fingerprint = fp

    # ------------------------------------------------------------ manifest
    def _read_manifest(self) -> dict:
        head = os.path.join(self.p_commits, "HEAD")
        try:
            with open(head) as fh:
                name = fh.read().strip()
            with open(os.path.join(self.p_commits, name)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"version": 0, "batches": []}

    def version(self) -> int:
        return self._read_manifest()["version"]

    def batches(self) -> list:
        return list(self._read_manifest()["batches"])

    def _vdir(self, version: int, table: str) -> str:
        return os.path.join(self.root, f"v={version:06d}", table)

    def _seg(self, version: int) -> str:
        return os.path.join(self.root, "log", f"seg={version:06d}")

    def _bucket(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    def _read(self, schema_json: str, base: str, dirs: dict) -> Optional[DataFrame]:
        """One scan, with the recorded schema (no inference job), over the
        wanted buckets of several `<key>=<n>` directories under `base`,
        {dir: buckets}. A directory whose every bucket is wanted is passed
        whole, which keeps the path list short enough for driver-side
        listing. None when nothing is selected."""
        paths = []
        for d, want in sorted(dirs.items()):
            have = {int(x.split("=", 1)[1]) for x in os.listdir(d) if x.startswith("bucket=")}
            if have <= want:
                paths.append(d)
            else:
                paths += [os.path.join(d, f"bucket={b}") for b in sorted(want & have)]
        if not paths:
            return None
        schema = StructType.fromJson(json.loads(schema_json))
        return self.spark.read.schema(schema).option("basePath", base).parquet(*paths)

    def _read_log(self, m: dict, buckets: Optional[set]) -> Optional[DataFrame]:
        """Log rows of the wanted buckets (all when None), with the bucket
        each is filed in."""
        dirs: dict = defaultdict(set)
        for b, vs in m.get("log", {}).items():
            if buckets is None or int(b) in buckets:
                for v in vs:
                    dirs[self._seg(v)].add(int(b))
        df = self._read(m["schemas"]["log"], os.path.join(self.root, "log"), dirs)
        return None if df is None else df.drop("seg")

    def _read_table(self, m: dict, table: str) -> DataFrame:
        """Each version directory is its own scan (the `<table>` level
        between `v=<n>` and `bucket=<b>` ends partition discovery)."""
        dirs: dict = defaultdict(set)
        for b, v in m["buckets"].get(table, {}).items():
            dirs[self._vdir(v, table)].add(int(b))
        schema = m["schemas"][table]
        parts = [self._read(schema, d, {d: bs}) for d, bs in sorted(dirs.items())]
        if not parts:
            return self.spark.createDataFrame([], StructType.fromJson(json.loads(schema)))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df.drop("bucket")

    def _publish(self, new_version: int, batch_id: str, totals: dict, m: dict,
                 log: dict, buckets: dict, counts: dict, schemas: dict) -> None:
        os.makedirs(self.p_commits, exist_ok=True)
        if not os.path.exists(self.p_meta):
            with open(self.p_meta, "w") as fh:
                json.dump({"fingerprint": self.fingerprint}, fh)
        manifest = {
            "version": new_version,
            "batches": m["batches"] + [{"batch_id": batch_id, **totals}],
            "log": log,
            "buckets": buckets,
            "counts": counts,
            "schemas": schemas,
        }
        name = f"MANIFEST-{new_version:06d}.json"
        with open(os.path.join(self.p_commits, name), "w") as fh:
            json.dump(manifest, fh)
        tmp = os.path.join(self.p_commits, ".HEAD.tmp")
        with open(tmp, "w") as fh:
            fh.write(name)
        os.rename(tmp, os.path.join(self.p_commits, "HEAD"))
        # GC: keep every version the NEW manifest references (live buckets
        # may point at several) plus everything the PREVIOUS one referenced
        # (manual rollback = point HEAD back one manifest)
        keep_v, keep_seg = {new_version, new_version - 1}, {new_version}
        for mf in (manifest, m):
            for tmap in mf.get("buckets", {}).values():
                keep_v.update(tmap.values())
            for vs in mf.get("log", {}).values():
                keep_seg.update(vs)
        for base, prefix, keep in ((self.root, "v=", keep_v),
                                   (os.path.join(self.root, "log"), "seg=", keep_seg)):
            names = {f"{prefix}{v:06d}" for v in keep}
            for name_ in os.listdir(base) if os.path.isdir(base) else ():
                if name_.startswith(prefix) and name_ not in names:
                    shutil.rmtree(os.path.join(base, name_), ignore_errors=True)

    # ----------------------------------------------------------------- API
    def _log_rows(self, triples_t: DataFrame, version: int) -> DataFrame:
        """The batch as log rows: the columns `materialize` reads, the
        statement order (canonical, or batch-version-prefixed for arrival
        order — RDFToLPGStatementProcessor.java:346-349), and the bucket
        each row is filed in. An object reference is filed a second time
        in its object's bucket when that differs."""
        o = _ord()
        if self.order == "arrival":
            o = F.concat(F.lpad(F.lit(version), 8, "0"), F.lit("|"), o)
        is_type = (F.col("predicate") == RDF_TYPE) & ~F.col("is_literal")
        node_mode = self.cfg.handle_rdf_types in (NODES, LABELS_AND_NODES)
        is_ref = F.col("sspo").isNull() & ~F.col("is_literal")
        if not node_mode:
            is_ref = is_ref & ~is_type
        home = self._bucket(F.coalesce(F.col("sspo")[0], F.col("subject")))
        ref = F.when(is_ref, self._bucket(F.col("object")))
        return triples_t.select(
            *_LOG_COLS,
            o.alias("ord"),
            F.explode(F.array_compact(F.array_distinct(F.array(home, ref)))).alias("bucket"),
        )

    def _prune(self, rows: DataFrame) -> DataFrame:
        """The log rows `materialize` can still select. Per distinct row
        content: the last statement, plus a literal's first when value
        arrays are built (their order is by first occurrence). In
        OVERWRITE mode a literal's value is superseded too: one latest
        row per (subject, graph, predicate, value_type) keeps last-wins,
        min(graph) and the type set behind n_types."""
        arrays = self.cfg.handle_multival == ARRAY or self.cfg.strict_data_type_check
        vary = () if arrays else ("object", "datatype", "lang", "value")
        cols = [*_LOG_COLS, "bucket"]
        keys = [
            (F.when(~F.col("is_literal"), F.col(c)) if c in vary else F.col(c)).alias(f"_k{i}")
            for i, c in enumerate(cols)
        ]
        row = F.struct("ord", *cols)  # ord first: max/min pick by statement order
        picks = [F.max(row)]
        if arrays:
            picks.append(F.min(F.when(F.col("is_literal"), row)))
        return (
            rows.groupBy(*keys)
            .agg(F.array_compact(F.array_distinct(F.array(*picks))).alias("_r"))
            .select(F.explode("_r").alias("_r"))
            .select("_r.*")
            .select(*_LOG_COLS, "ord", "bucket")
        )

    def merge_batch(self, triples_t: DataFrame, batch_id: Optional[str] = None) -> dict:
        """Fold one batch of `transform_triples` output into the store and
        return the running row totals of nodes, edges and node_props (also
        under their earlier names uri_state, edge_state and prop_state).

        Work: one log-segment write, then one write per output table over
        the touched buckets. Touched buckets are the directories the
        segment write created; per-bucket row counts come from an
        Observation on each write. Crash-safe:
        everything lands in a new segment and version directory before
        the single HEAD rename, and a retry overwrites both."""
        m = self._read_manifest()
        new_v = m["version"] + 1
        log = {b: list(vs) for b, vs in m.get("log", {}).items()}
        buckets = {t: dict(m.get("buckets", {}).get(t, {})) for t in _KEY}
        counts = {t: dict(m.get("counts", {}).get(t, {})) for t in _KEY}
        schemas = dict(m.get("schemas", {}))
        live = {v for vs in log.values() for v in vs}
        live.update(v for tmap in buckets.values() for v in tmap.values())
        compacting = len(live) >= self.max_live_versions

        rows = self._log_rows(triples_t, new_v)
        schemas["log"] = rows.drop("bucket").schema.json()
        if compacting and log:
            rows = self._prune(rows.unionByName(self._read_log(m, None)))
            log = {}
        seg = self._seg(new_v)
        rows.repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(seg)
        written = {int(d.split("=", 1)[1]) for d in os.listdir(seg) if d.startswith("bucket=")}
        for b in written:
            log.setdefault(str(b), []).append(new_v)
        touched = {int(b) for b in log} if compacting else written

        src = self._read_log({"log": log, "schemas": schemas}, touched)
        # the touched buckets' rows feed every aggregation of all three
        # writes: read them once
        src = rows.limit(0) if src is None else src.cache()
        tables = materialize(src, self.cfg, self.with_graph_identity, order=F.col("ord"))
        schemas.update({t: getattr(tables, t).schema.json() for t in _KEY})

        def write(table: str) -> dict:
            df = getattr(tables, table).withColumn("bucket", self._bucket(F.col(_KEY[table])))
            df = df.filter(F.col("bucket").isin(sorted(touched)))
            obs = Observation()
            df = df.observe(
                obs, *[F.count(F.when(F.col("bucket") == b, 1)).alias(str(b)) for b in sorted(touched)]
            )
            path = self._vdir(new_v, table)
            df.repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(path)
            try:
                return obs.get
            except Py4JJavaError:
                # when AQE finds the input empty at run time it can prune
                # the observed node, and the observation completes with an
                # empty row that `get` cannot convert: count the write
                n = {str(b): 0 for b in touched}
                if any(d.startswith("bucket=") for d in os.listdir(path)):
                    for r in self.spark.read.parquet(path).groupBy("bucket").count().collect():
                        n[str(r["bucket"])] = r["count"]
                return n

        try:
            observed = [write(t) for t in _KEY] if touched else []
        finally:
            src.unpersist()
        for table, per_bucket in zip(_KEY, observed):
            if compacting:
                buckets[table], counts[table] = {}, {}
            for b, n in per_bucket.items():
                if n:
                    buckets[table][b], counts[table][b] = new_v, n
                else:
                    buckets[table].pop(b, None)
                    counts[table].pop(b, None)
        totals = {t: sum(c.values()) for t, c in counts.items()}
        self._publish(new_v, batch_id or f"batch-{new_v:06d}", totals, m,
                      log, buckets, counts, schemas)
        return {**totals, "uri_state": totals["nodes"], "edge_state": totals["edges"],
                "prop_state": totals["node_props"]}

    def _manifest_or_raise(self) -> dict:
        m = self._read_manifest()
        if m["version"] == 0:
            raise ValueError("IncrementalGraphStore is empty — merge a batch first")
        return m

    def tables(self) -> GraphTables:
        """The stored tables — column-for-column the `materialize` output
        over the union of merged batches."""
        m = self._manifest_or_raise()
        return GraphTables(**{t: self._read_table(m, t) for t in _KEY})

    def _log_home(self, m: dict) -> DataFrame:
        """Every logged row once: the copies filed in an object's bucket
        are dropped."""
        log = self._read_log(m, None)
        key = F.coalesce(F.col("sspo")[0], F.col("subject"))
        return log.filter(F.col("bucket") == self._bucket(key)).drop("bucket")

    def canonical_remap(self) -> DataFrame:
        """(uri, component) over the owl:sameAs cliques recorded in the
        store — the periodic entity-linking reconcile, run over the logged
        triples with the engine's CC. Reference semantics:
        CommonProcedures.java:41-43 uri uniqueness."""
        from .cc import canonical_map

        return canonical_map(self._log_home(self._manifest_or_raise()))

    def tables_canonicalized(
        self, comp: Optional[DataFrame] = None, broadcast_limit: int = 100_000
    ) -> GraphTables:
        """GraphTables with owl:sameAs entity linking applied: the whole
        log canonicalized and materialized — a view, not a state rewrite
        (the store stays canonical-free, so later merges keep working).
        Equals `materialize(canonicalize_triples(transform(union)))`
        column-for-column by construction (pinned by test_incremental and
        the `kg_sameas_refresh` driver oracle)."""
        from .cc import canonicalize_triples

        log = self._log_home(self._manifest_or_raise())
        if comp is None:
            comp = self.canonical_remap()
        t = canonicalize_triples(log, comp, broadcast_limit=broadcast_limit)
        return materialize(t, self.cfg, self.with_graph_identity, order=F.col("ord"))


def extend_prefix_map(existing: dict, namespaces: list) -> dict:
    """The reference's `_NsPrefDef` contract (NsPrefixOperations: prefixes
    persist, new namespaces get fresh ns<N> entries, existing ones are
    NEVER re-assigned): extend `existing` {namespace: prefix} with any
    new namespaces in deterministic sorted order. Feed the result to
    `transform_triples` on every batch so SHORTEN-mode incremental
    imports stay prefix-stable."""
    out = dict(existing)
    used = set(out.values())
    n = 0
    for ns in sorted(set(namespaces) - set(out)):
        while f"ns{n}" in used:
            n += 1
        out[ns] = f"ns{n}"
        used.add(f"ns{n}")
    return out
