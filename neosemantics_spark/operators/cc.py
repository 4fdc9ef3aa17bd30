"""Entity linking / canonicalization: iterative hash-min connected
components over owl:sameAs edges.

The reference gets identity resolution "for free" from the `:Resource(uri)`
uniqueness constraint plus explicit owl:sameAs edges
(/root/reference/src/main/java/n10s/CommonProcedures.java:41-43;
DirectStatementLoader.java:66-73). A distributed engine must compute the
equivalence closure explicitly (SURVEY.md §2.4 J3, §4.1).

Algorithm: hash-min label propagation with the large-star/small-star
simplification — each round every node adopts the min canonical id in its
neighborhood; edges are rewritten to (comp(u), comp(v)) between rounds so
path lengths halve (doubling convergence). `localCheckpoint` truncates the
lineage each round (lineage blowup is the classic failure mode at scale).

Shuffle profile per round: one groupBy(node) min-agg + one join — both on
the node id key. Hot components (a celebrity entity linked to millions of
mentions) are exactly the AQE-skew-join case; we also cap rounds and salt
nothing here because the *aggregation* is a min (partial-aggregated map-
side), which absorbs skew before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rdf.terms import OWL_SAMEAS


def sameas_edges(triples: DataFrame, extra_predicates: list[str] | None = None) -> DataFrame:
    preds = [OWL_SAMEAS] + (extra_predicates or [])
    return (
        triples.filter(F.col("predicate").isin(preds) & ~F.col("is_literal"))
        .select(F.col("subject").alias("a"), F.col("object").alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    scratch_dir: str | None = None,
    broadcast_limit: int = 1_000_000,
    small_graph_limit: int = 2_000,
) -> DataFrame:
    """edges(a,b) undirected → (uri, component) where component is the
    lexicographic-min uri of the equivalence class (deterministic canonical
    representative). Only nodes that appear in an edge are returned —
    isolated uris are their own component by definition (callers coalesce).

    `scratch_dir` is where the every-few-rounds parquet pins go (see
    below); on a multi-executor cluster pass a shared path (the Iceberg
    warehouse / object storage); default = a driver-local temp dir, which
    is correct for local/single-node sessions.

    ### Iterative-plan hygiene (all three failure modes MEASURED on the
    ### 11M-edge skew bench — each wedged the JVM around round 10):
    1. Plan blowup: the round body self-joins comp/ec, so without
       per-round lineage truncation the logical plan DOUBLES per round
       (observed: 99k Project nodes, 1.2M TreeNode lambdas on the
       driver). → every round pins through localCheckpoint or parquet.
    2. Stats blowup: Catalyst's size-in-bytes estimate MULTIPLIES through
       each self-join and `localCheckpoint` carries the source plan's
       stats through (originStats), so the BigInt estimate gains ~4× the
       DIGITS per round — by round 10 the driver burned minutes inside
       BigInteger.multiply (observed in thread dumps; caching does NOT
       reset it either — verified empirically). → every 4th round pins
       via a parquet round trip, whose scan stats are real file sizes.
    3. Block retention: localCheckpoint storage is RDD-level, so
       DataFrame.unpersist is a no-op and the ContextCleaner frees blocks
       only after the py4j handle is GC'd (lazily) — 14 retained ~20M-row
       tables filled a 48 GB heap. → serialized MEMORY_AND_DISK blocks +
       gc.collect() per round so the cleaner keeps up.
    """
    import gc as _gc
    import os as _os
    import tempfile as _tempfile

    from pyspark.storagelevel import StorageLevel as _StorageLevel

    spark = edges.sparkSession
    _STATS_RESET_EVERY = 4
    _scratch = {"dir": scratch_dir, "n": 0, "owned": False}

    def _parquet_pin(df: DataFrame) -> DataFrame:
        if _scratch["dir"] is None:
            _scratch["dir"] = _tempfile.mkdtemp(prefix="ns_cc_pin_")
            _scratch["owned"] = True
        path = _os.path.join(_scratch["dir"], f"pin{_scratch['n']}")
        _scratch["n"] += 1
        df.write.mode("overwrite").parquet(path)
        # bound scratch disk (ADVICE r2: pins accumulated unbounded): by
        # the time pin N is WRITTEN, every live DataFrame roots at the
        # latest pins/localCheckpoints — only the last 3 pins can still be
        # referenced (comp + ec of the current and previous reset round)
        import shutil as _shutil

        for k in range(max(0, _scratch["n"] - 3)):
            stale = _os.path.join(_scratch["dir"], f"pin{k}")
            if _os.path.isdir(stale):
                _shutil.rmtree(stale, ignore_errors=True)
        return spark.read.parquet(path)

    def _pin(df: DataFrame, reset_stats: bool = False) -> DataFrame:
        if reset_stats:
            return _parquet_pin(df)
        return df.localCheckpoint(eager=True, storageLevel=_StorageLevel.MEMORY_AND_DISK)

    # `e` stays DIRECTED throughout: the contraction join rewrites each
    # undirected edge once (direction is irrelevant — ec is
    # re-symmetrized lazily inside the min-agg below), so pinning the
    # symmetrized union would double the materialized edge table, the
    # round-0 join input, and the up-front checkpoint time for nothing
    # (measured on the 500k-doc clustering stage: the two eager 2×-edge
    # materializations, not round count, dominated the fixed cost).
    # an edge with a null endpoint links nothing; dropping it here keeps
    # the fast path's non-null schema and the loop's output identical
    e = edges.filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    if small_graph_limit > 0:
        # ---- small-graph fast path: the iterative loop's fixed cost is
        # ~10 eager-materialization jobs (pins, convergence probes,
        # flatten rounds) — for an edge set that fits comfortably on the
        # driver, ONE bounded collect (at most limit + 1 rows, so driver
        # state stays bounded, the discipline of the broadcast gates here
        # and in canonicalize_triples) + union-find produces the
        # IDENTICAL (uri, min-uri component) table in one job; its length
        # decides the path. The distributed loop remains the >limit path
        # (UTF-8 binary min == Python str min — code-point order is
        # preserved by UTF-8, so representatives agree byte-for-byte).
        # The default limit is deliberately LOW (2k edges): measured
        # crossover — at ~10k edges the cold py4j collect +
        # local-relation round trip already loses to the distributed
        # loop (kg_cc 3.4/2.4 s vs 2.4 s cold isolated), while the
        # few-hundred-edge graphs of near-dup clustering win outright.
        rows = e.limit(small_graph_limit + 1).collect()
        if len(rows) <= small_graph_limit:
            parent: dict = {}

            def _find(x: str) -> str:
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:
                    parent[x], x = root, parent[x]
                return root

            for r in rows:
                a, b = r["a"], r["b"]
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = _find(a), _find(b)
                if ra != rb:
                    parent[ra] = rb
            comp_min: dict = {}
            for u in parent:
                root = _find(u)
                m = comp_min.get(root)
                if m is None or u < m:
                    comp_min[root] = u
            out = [(u, comp_min[_find(u)]) for u in sorted(parent)]
            import pandas as pd
            from pyspark.sql.types import StringType, StructField, StructType

            # from pandas (Arrow), the table is a local relation: its rows
            # sit in the plan, so Spark knows its exact size and
            # canonicalize_triples needs no count to broadcast it
            return edges.sparkSession.createDataFrame(
                pd.DataFrame(out, columns=["uri", "component"], dtype=object),
                StructType(
                    [
                        StructField("uri", StringType(), False),
                        StructField("component", StringType(), False),
                    ]
                ),
            )
    e = e.localCheckpoint(eager=True)
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # current component per node
    comp = (
        sym.groupBy("a")
        .agg(F.least(F.min("b"), F.min("a")).alias("c"))
        .select(F.col("a").alias("uri"), F.col("c").alias("component"))
        .localCheckpoint(eager=True)
    )
    # the node set is invariant across rounds, so one count decides the
    # contraction-join strategy for the whole run: below the limit the
    # comp map broadcasts (no shuffle of the big edge table at all);
    # above it the hint is withheld — an unconditional broadcast of a
    # multi-million-row map serializes on the driver every round and
    # anti-scales (measured round 1; same gating as canonicalize_triples)
    _n_nodes = comp.count()
    _bcast = _n_nodes <= broadcast_limit

    def _map_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if _bcast else df

    for _round in range(max_iter):
        _reset = _round % _STATS_RESET_EVERY == _STATS_RESET_EVERY - 1
        # rewrite edge endpoints to current components (star contraction).
        # Checkpoint ONCE and reuse — the naive version recomputed this
        # join three times per iteration (isEmpty, delta, next-e).
        ec = _pin(
            e.join(_map_side(comp.withColumnRenamed("uri", "a").withColumnRenamed("component", "ca")), "a")
            .join(_map_side(comp.withColumnRenamed("uri", "b").withColumnRenamed("component", "cb")), "b")
            .select("ca", "cb")
            .filter(F.col("ca") != F.col("cb"))
            .distinct(),
            reset_stats=_reset,
        )
        if ec.isEmpty():
            break
        sym2 = ec.union(ec.select(F.col("cb").alias("ca"), F.col("ca").alias("cb")))
        delta = sym2.groupBy("ca").agg(F.min("cb").alias("new_c")).filter(
            F.col("new_c") < F.col("ca")
        )
        # min-neighbor update on the contracted graph, then TWO pointer
        # jumps comp(u) := comp(comp(u)), the second against the jumped
        # mapping (f -> f^2 -> f^4) — fused into one lineage and
        # checkpointed once. The second jump costs one more self-join
        # inside the same materialized round but replaces an entire
        # later round (contraction join + two pins + convergence probe),
        # halving the fixed per-round job count that dominates clustering
        # workloads (the 500k-doc stress profile: ~116 s of mostly
        # scheduling floor at local[16] before this fusion).
        comp1 = comp.join(
            delta.select(F.col("ca").alias("component"), "new_c"), "component", "left"
        ).select(
            "uri", F.least(F.coalesce("new_c", "component"), F.col("component")).alias("component")
        )
        for _jump in range(2):
            parent = comp1.select(
                F.col("uri").alias("component"), F.col("component").alias("pcomp")
            )
            comp1 = comp1.join(parent, "component", "left").select(
                "uri",
                F.least(F.coalesce("pcomp", "component"), F.col("component")).alias("component"),
            )
        comp = _pin(comp1, reset_stats=_reset)
        e = ec.select(F.col("ca").alias("a"), F.col("cb").alias("b"))
        _gc.collect()  # release py4j handles → ContextCleaner reaps old checkpoints
    # final flattening: follow representatives until fixpoint. Two fused
    # jumps per materialized round (f -> f^4: quartering instead of
    # doubling) halve the pin + probe count for deep chains. Convergence
    # check = count of still-moving rows inside the same pass (NOT
    # exceptAll — that is a full extra shuffle-compare per round).
    for _fr in range(max_iter):
        step = comp.select("uri", F.col("component").alias("old"), "component")
        for _jump in range(2):
            parent = step.select(
                F.col("uri").alias("component"), F.col("component").alias("pcomp")
            )
            step = step.join(parent, "component", "left").select(
                "uri",
                "old",
                F.least(F.coalesce("pcomp", "component"), F.col("component")).alias("component"),
            )
        j = _pin(
            step,
            reset_stats=_fr % _STATS_RESET_EVERY == _STATS_RESET_EVERY - 1,
        )
        comp = j.select("uri", "component")
        done = j.filter(F.col("old") != F.col("component")).isEmpty()
        _gc.collect()
        if done:
            break
    if _scratch["n"]:
        # the result may still root on parquet pins — re-root it onto
        # block storage, then the scratch dir (if we created it) can go
        comp = comp.localCheckpoint(eager=True)
        if _scratch["owned"]:
            import shutil as _shutil

            _shutil.rmtree(_scratch["dir"], ignore_errors=True)
    return comp


def canonical_map(triples: DataFrame) -> DataFrame:
    """(uri, component) for every uri touched by an owl:sameAs clique."""
    return connected_components(sameas_edges(triples))


def canonicalize_triples(
    triples: DataFrame,
    comp: DataFrame,
    drop_sameas: bool = True,
    broadcast_limit: int = 100_000,
) -> DataFrame:
    """Rewrite subject/object through the component map (left joins +
    coalesce — uris outside any clique stay themselves). Broadcast the map
    only while it is genuinely small: force-broadcasting a multi-million-
    row map serializes on the driver and kills scaling (measured: 4N cores
    ran SLOWER than N with an unconditional broadcast). Above the limit we
    leave the strategy to AQE (shuffle join; skew-join handles hot
    components)."""
    if comp.isLocal():
        # a local relation (the CC fast path's table) carries its exact
        # size: the planner's own broadcast threshold decides, no job
        c = comp
    else:
        small = comp.limit(broadcast_limit + 1).count() <= broadcast_limit
        c = F.broadcast(comp) if small else comp
    out = (
        triples.join(
            c.select(F.col("uri").alias("subject"), F.col("component").alias("_cs")),
            "subject",
            "left",
        )
        .join(
            c.select(F.col("uri").alias("object"), F.col("component").alias("_co")),
            "object",
            "left",
        )
        .withColumn("subject", F.coalesce("_cs", "subject"))
        .withColumn(
            "object",
            F.when(~F.col("is_literal"), F.coalesce("_co", "object")).otherwise(F.col("object")),
        )
        .drop("_cs", "_co")
    )
    if drop_sameas:
        out = out.filter(F.col("predicate") != OWL_SAMEAS)
    return out
