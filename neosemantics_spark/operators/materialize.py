"""Graph materialization: triples DF → nodes / edges / node_props tables.

Batch re-expression of the reference's accumulate-then-flush loader
(/root/reference/src/main/java/n10s/rdf/load/DirectStatementLoader.java):
the per-batch upsert machinery (LRU node cache, find-or-create, commitSize
partial transactions) collapses into three shuffles:

  1. groupBy(subject, predicate)  — property semantics (A1/A3)
  2. groupBy(subject)             — label sets + props assembly (A2)
  3. dropDuplicates(edge key)     — edge dedup (A4/A5)

Determinism: OVERWRITE last-wins / ARRAY order use the canonical total
order (repo, path, commit, stmt_idx) — the reference relies on statement
arrival order (RDFToLPGStatementProcessor.java:346-368), which a
distributed engine must pin explicitly (SURVEY.md §4.3).

Scale notes:
- label aggregation is keyed by subject, so the rdf:type hot predicate
  does NOT create a hot key (keys are subjects, well-distributed).
- edges are repartitioned by (rel, salt-bucket of src) before writes —
  explicit skew handling for hot predicates per the north rule; AQE skew
  join remains the backstop.
"""

from __future__ import annotations

from typing import Dict, NamedTuple, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import ARRAY, LABELS, LABELS_AND_NODES, NODES, GraphConfig
from ..rdf.terms import RDF_TYPE
from .prefixes import shorten_expr
from .transforms import (
    filter_language,
    filter_predicates,
    iri_transform_exprs,
    is_custom_datatype,
    literal_value_expr,
    split_star_rows,
    typed_value_columns,
)

def _ord():
    """Canonical statement order key. A single packed string instead of a
    (repo, path, commit, stmt_idx) struct: the aggregation buffers below
    hold one of these per collected value, and three long strings + a long
    per value made the per-task aggregation state spill at high thread
    counts (execution memory is divided per task)."""
    return F.concat_ws(
        "|", "repo", "path", "commit", F.lpad(F.col("stmt_idx").cast("string"), 10, "0")
    )


class GraphTables(NamedTuple):
    nodes: DataFrame       # uri, graph, labels array<string>, props map<string,string>
    edges: DataFrame       # src, rel, dst, graph, props map<string,string>
    node_props: DataFrame  # long form: uri, graph, prop, values array<string>, value_type
    mapped_count: int | None = None


def transform_triples(
    triples: DataFrame,
    cfg: GraphConfig,
    ns_to_prefix: Optional[Dict[str, str]] = None,
    mapping: Optional[Dict[str, str]] = None,
) -> DataFrame:
    """Apply T1–T6 to a raw triples DF → columns ready for materialize:
    subject, pred_t (transformed predicate), object (raw), value (canonical
    literal string), typed value cols, label_t (transformed object when
    rdf:type), dst (object as node uri)."""
    if cfg.handle_vocab_uris == "SHORTEN_STRICT":
        from .prefixes import validate_namespaces

        validate_namespaces(triples, ns_to_prefix or {})
    t = filter_predicates(triples, cfg)
    t = filter_language(t, cfg)
    t = t.filter(F.col("parse_error").isNull())
    # NOTE: no statement-level pre-dedup here (A4). The materialize
    # aggregations subsume it — per-prop values go through an order-
    # preserving array_distinct / max_by, labels through collect_set and
    # edges through dropDuplicates — so paying a full extra shuffle of the
    # whole triples table up front would buy nothing. `dedup_statements`
    # stays available for callers that need a deduped statement stream.
    is_type = (F.col("predicate") == RDF_TYPE) & ~F.col("is_literal")
    pred = iri_transform_exprs(F.col("predicate"), cfg, ns_to_prefix, ("prop", "rel"), mapping)
    label = iri_transform_exprs(F.col("object"), cfg, ns_to_prefix, ("label",), mapping)
    value = literal_value_expr(cfg)
    if cfg.keep_custom_data_types and cfg.handle_vocab_uris in ("SHORTEN", "SHORTEN_STRICT"):
        # re-suffix with shortened datatype: value^^pfx__local
        value = F.when(
            is_custom_datatype(cfg) & F.col("is_literal"),
            F.concat(
                F.col("object"), F.lit("^^"), shorten_expr(F.col("datatype"), ns_to_prefix or {})
            ),
        ).otherwise(value)
    # one projection: building a plan costs the driver per call, not per row
    return t.withColumns(
        {
            **typed_value_columns(),
            "pred_t": pred["prop"],
            "rel_t": pred["rel"],
            "label_t": F.when(is_type, label["label"]),
            "value": value,
        }
    )


def materialize(
    triples_t: DataFrame,
    cfg: GraphConfig,
    with_graph_identity: bool = True,
    cache_intermediate: bool = False,
    order: Optional[Column] = None,
) -> GraphTables:
    """Transformed triples → GraphTables. `triples_t` is the output of
    `transform_triples`. Node identity is (uri, graph) when quads are
    present (RDFQuadToLPGStatementProcessor.java:54-57,99-113).

    `order` is the statement-order key behind OVERWRITE last-wins, ARRAY
    value order and RDF-star prop last-wins; it defaults to the canonical
    `_ord()`. The incremental store passes its logged arrival-order key.

    `cache_intermediate=True` persists all three output tables (lazily:
    the first action computes them). The writes, SHACL validation, export
    and any counts then read one computed copy instead of re-deriving
    `nodes` and `edges` from the triples per consumer. Unpersist them
    (or `spark.catalog.clearCache()`) when the build is done."""
    if order is None:
        order = _ord()
    g = F.coalesce(F.col("graph"), F.lit("")) if with_graph_identity else F.lit("")
    t = triples_t.withColumn("gkey", g)
    regular, star = split_star_rows(t)
    is_type = (F.col("predicate") == RDF_TYPE) & ~F.col("is_literal")

    # ---------------- properties: groupBy (subject, gkey, predicate) [A1/A3]
    # the canonical order key is projected ONCE per row (`_o`): the agg
    # below used to evaluate the concat_ws+lpad expression inside four
    # separate max_by buffers (4-5 evaluations per input row, and four
    # per-group (ord, value) buffer pairs). One struct-max keyed on the
    # unique `_o` returns the same last-written row — `_o` is unique per
    # statement, so the struct comparison never consults the payload
    # fields — with a quarter of the per-task aggregation state.
    lit_rows = regular.filter(F.col("is_literal")).withColumn("_o", order)
    need_arrays = cfg.handle_multival == ARRAY or cfg.strict_data_type_check
    aggs = [
        F.max(F.struct("_o", "value", "value_type", "datatype", "lang")).alias("_last"),
        # type-conflict flag without count_distinct — count_distinct plans
        # an Expand (doubles the shuffled rows); min!=max is one hash agg
        (F.min("value_type") != F.max("value_type")).alias("_mixed"),
        F.min("graph").alias("graph"),
        F.min("predicate").alias("_pred_raw"),
    ]
    if need_arrays:
        # the collect_list buffer is the expensive part (per-task
        # aggregation state) — only build it when ARRAY/strict semantics
        # actually need the full value list
        aggs.append(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_o").alias("o"), F.col("value").alias("v"), F.col("value_type").alias("t")
                    )
                )
            ).alias("_sorted")
        )
    per_prop = lit_rows.groupBy("subject", "gkey", "pred_t").agg(*aggs)
    per_prop = per_prop.withColumns(
        {
            "last_value": F.col("_last.value"),
            "value_type": F.col("_last.value_type"),
            "datatype": F.col("_last.datatype"),
            "lang": F.col("_last.lang"),
        }
    ).drop("_last")
    per_prop = per_prop.withColumn("n_types", F.when(F.col("_mixed"), 2).otherwise(1))
    if need_arrays:
        # A3 heterogeneous-type resolution (DirectStatementLoader.java:161-211):
        # strict ⇒ discard values whose type conflicts with the first-stored
        # value's type; non-strict ⇒ array keeps everything as strings (our
        # canonical `value` is already the lexical string form).
        kept = F.col("_sorted")
        if cfg.strict_data_type_check:
            first_t = F.element_at(F.col("_sorted"), 1)["t"]
            kept = F.filter(kept, lambda x: x["t"] == first_t)
        all_values = F.array_distinct(F.transform(kept, lambda x: x["v"]))
    else:
        all_values = F.array(F.col("last_value"))
    if cfg.handle_multival == ARRAY:
        if cfg.multival_prop_list:
            # multivalPropList holds full predicate IRIs
            # (RDFToLPGStatementProcessor.java:350-368)
            values = F.when(
                F.col("_pred_raw").isin(cfg.multival_prop_list), all_values
            ).otherwise(F.array(F.col("last_value")))
        else:
            values = all_values
    else:  # OVERWRITE: last value wins (RDFToLPGStatementProcessor.java:346-349)
        values = F.array(F.col("last_value"))
    node_props = per_prop.select(
        F.col("subject").alias("uri"),
        F.col("gkey"),
        F.col("graph"),
        F.col("pred_t").alias("prop"),
        F.col("_pred_raw").alias("prop_raw"),
        values.alias("values"),
        F.col("value_type"),
        F.col("datatype"),
        F.col("lang"),
        F.col("n_types"),
    )
    if cache_intermediate:
        # the per-prop aggregation feeds both node_props and the nodes
        # props-map; persisted here, and nodes/edges below
        node_props = node_props.persist()

    # ---------------- labels [A2/T9]
    type_rows = regular.filter(is_type)
    label_mode = cfg.handle_rdf_types in (LABELS, LABELS_AND_NODES)
    node_mode = cfg.handle_rdf_types in (NODES, LABELS_AND_NODES)
    labels = (
        type_rows.groupBy("subject", "gkey")
        .agg(F.array_sort(F.collect_set("label_t")).alias("labels"))
        if label_mode
        else None
    )

    # ---------------- edges [A4/A5/J2/T10]
    obj_rows = regular.filter(~F.col("is_literal") & ~is_type)
    if node_mode:
        obj_rows = obj_rows.unionByName(type_rows.select(*obj_rows.columns))
    edges_base = obj_rows.select(
        F.col("subject").alias("src"),
        F.col("rel_t").alias("rel"),
        F.col("object").alias("dst"),
        F.col("graph"),
        F.col("gkey"),
    ).dropDuplicates(["src", "rel", "dst", "gkey"])
    # RDF-star rel props: sspo identifies the edge (raw IRIs) → join after
    # transforming predicate (T10, RDFToLPGStatementProcessor.java:406-424)
    star_props = (
        star.select(
            F.col("sspo")[0].alias("src"),
            F.col("sspo")[1].alias("_raw_rel"),
            F.col("sspo")[2].alias("dst"),
            F.col("pred_t").alias("prop"),
            F.col("value"),
            order.alias("_o"),
        )
        .groupBy("src", "_raw_rel", "dst", "prop")
        .agg(F.max_by("value", "_o").alias("value"))
        .groupBy("src", "_raw_rel", "dst")
        .agg(F.map_from_entries(F.collect_list(F.struct("prop", "value"))).alias("props"))
    )
    rel_raw = obj_rows.select(
        F.col("subject").alias("src"),
        F.col("predicate").alias("_raw_rel"),
        F.col("rel_t").alias("rel"),
        F.col("object").alias("dst"),
    ).dropDuplicates(["src", "_raw_rel", "dst"])
    # star_props is usually tiny relative to edges; AQE picks the build side
    star_mapped = star_props.join(rel_raw, ["src", "_raw_rel", "dst"], "inner").select(
        "src", "rel", "dst", "props"
    )
    edges = edges_base.join(star_mapped, ["src", "rel", "dst"], "left").select(
        "src", "rel", "dst", "graph", "props", "gkey"
    )

    # ---------------- nodes: subjects ∪ non-literal objects [J1/J2]
    subj_uris = regular.select(F.col("subject").alias("uri"), "gkey", "graph")
    obj_uris = obj_rows.select(F.col("object").alias("uri"), "gkey", "graph")
    all_uris = subj_uris.unionByName(obj_uris).groupBy("uri", "gkey").agg(
        F.min("graph").alias("graph")
    )
    props_map = node_props.groupBy("uri", "gkey").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("prop").alias("key"),
                        F.when(F.size("values") == 1, F.col("values")[0])
                        .otherwise(F.to_json("values"))
                        .alias("value"),
                    )
                )
            )
        ).alias("props")
    )
    nodes = all_uris.join(props_map, ["uri", "gkey"], "left")
    if labels is not None:
        nodes = nodes.join(
            labels.select(F.col("subject").alias("uri"), "gkey", "labels"),
            ["uri", "gkey"],
            "left",
        )
    else:
        nodes = nodes.withColumn("labels", F.lit(None).cast("array<string>"))
    nodes = nodes.select(
        "uri",
        "graph",
        F.coalesce("labels", F.array()).alias("labels"),
        F.coalesce("props", F.expr("cast(map() as map<string,string>)")).alias("props"),
    )
    edges = edges.select("src", "rel", "dst", "graph", "props")
    node_props = node_props.select(
        "uri", "graph", "prop", "prop_raw", "values", "value_type", "datatype", "lang", "n_types"
    )
    if cache_intermediate:
        nodes, edges = nodes.persist(), edges.persist()
    return GraphTables(nodes=nodes, edges=edges, node_props=node_props)


def write_edges_partitioned(
    edges: DataFrame, out_path: str, cfg: GraphConfig, n_buckets: int | None = None
) -> None:
    """Edges sink: partitioned by rel with explicit skew-aware salting —
    hot predicates (rdf:type, rdfs:label dominate real RDF) are spread over
    `hot_predicate_salt` buckets so no single task writes a whole predicate
    (SURVEY.md §4.2; north_rule 'skew handled explicitly')."""
    nb = n_buckets or cfg.hot_predicate_salt
    (
        edges.withColumn("bucket", F.pmod(F.xxhash64("src"), F.lit(nb)))
        .repartition("rel", "bucket")
        .write.mode("overwrite")
        .partitionBy("rel")
        .parquet(out_path)
    )


def write_node_props_partitioned(
    node_props: DataFrame, out_path: str, cfg: GraphConfig, n_buckets: int | None = None
) -> None:
    """Long-form property sink, partitioned by prop with the same
    skew-aware salting as the edge writer (a hot property — rdfs:label,
    schema:name — dominates real RDF exactly like a hot predicate).
    Every per-property consumer — SHACL property checks
    (`props.filter(prop == X)`, validation/shacl.py:_prop_vals), spo
    exports, delta validation — then reads a partition-pruned scan
    instead of the full table: this is the storage-level half of the
    delta-validation win (the semi-join removes the aggregations;
    partition pruning removes the scan)."""
    nb = n_buckets or cfg.hot_predicate_salt
    (
        node_props.withColumn("bucket", F.pmod(F.xxhash64("uri"), F.lit(nb)))
        .repartition("prop", "bucket")
        .write.mode("overwrite")
        .partitionBy("prop")
        .parquet(out_path)
    )
