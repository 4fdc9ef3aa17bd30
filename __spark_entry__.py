"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes the engine's operator surface (SURVEY.md §2 + the
training-data ops) as (spark, sf_dir) -> DataFrame callables;
`oracle_sql()` gives the DuckDB-equivalent SQL for each. Column names and
values are aligned exactly (rounded floats, string-formatted timestamps).

The KG-construction queries synthesize the north-rule input table
(repo, path, commit, lang, content) deterministically from the driver's
`documents` parquet (JVM-side string assembly — see
neosemantics_spark/sources/datagen.py), so the oracle can derive the
expected triples independently with plain SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neosemantics_spark.config import KEEP, SHORTEN, GraphConfig
from neosemantics_spark.functions import (
    get_datatype,
    get_iri_local_name,
    get_iri_namespace,
    get_lang_tag,
    get_value,
)
from neosemantics_spark.operators import (
    datasets,
    dedup,
    inference,
    search,
    similarity,
    text,
)
from neosemantics_spark.operators.cc import canonical_map
from neosemantics_spark.operators.export import (
    graph_to_triples,
    relational_to_triples,
    to_ntriples_lines,
    to_turtle_blocks,
)
from neosemantics_spark.operators.materialize import materialize, transform_triples
from neosemantics_spark.operators.prefixes import build_prefix_map, collect_namespaces
from neosemantics_spark.sources.datagen import src_files_from_documents
from neosemantics_spark.sources.parse import extract_triples
from neosemantics_spark.validation.shacl import ShaclValidator, compile_shapes

DOC = "http://example.org/doc/"
VOC = "http://example.org/voc#"
RDFT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/documents.parquet")


def _kg_cfg() -> GraphConfig:
    return GraphConfig(handle_vocab_uris=KEEP)


# ===================================================================== KG
def q_kg_triples_nt(spark: SparkSession, sf: str) -> DataFrame:
    src = src_files_from_documents(spark, sf, "N-Triples")
    t = extract_triples(src)
    return t.select("subject", "predicate", "object", "is_literal", "datatype")


def q_kg_triples_turtle(spark: SparkSession, sf: str) -> DataFrame:
    src = src_files_from_documents(spark, sf, "Turtle")
    t = extract_triples(src)
    return t.select("subject", "predicate", "object", "is_literal", "lang")


def _kg_tables(spark: SparkSession, sf: str):
    src = src_files_from_documents(spark, sf, "N-Triples")
    cfg = _kg_cfg()
    t = transform_triples(extract_triples(src), cfg)
    return materialize(t, cfg), cfg


def q_kg_nodes(spark: SparkSession, sf: str) -> DataFrame:
    tables, _ = _kg_tables(spark, sf)
    return tables.nodes.select(
        "uri",
        F.array_join("labels", ",").alias("labels_str"),
        F.size("props").alias("n_props"),
    )


def q_kg_edges(spark: SparkSession, sf: str) -> DataFrame:
    tables, _ = _kg_tables(spark, sf)
    return tables.edges.select("src", "rel", "dst")


def q_kg_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental MERGE-equivalent import (the reference's steady-state
    loop — DirectStatementLoader.java:60-129 find-or-create + merge;
    incremental fixtures step{1,2,3}.ttl): three doc batches plus an
    update batch that re-asserts voc:lang upper-cased for doc_id % 4 == 0
    are folded into an IncrementalGraphStore one at a time
    (order='arrival' — temporal last-write-wins). The final nodes table
    must match the oracle's from-scratch SQL derivation of the union, so
    the merge path — not a re-aggregation — is what's being value-checked."""
    import shutil
    import tempfile

    from neosemantics_spark.operators.incremental import IncrementalGraphStore

    src = src_files_from_documents(spark, sf, "N-Triples")
    did = F.regexp_extract("path", r"doc_(\d+)\.nt", 1).cast("long")
    docs = _docs(spark, sf)
    subj = F.concat(F.lit(f"<{DOC}"), F.col("doc_id").cast("string"), F.lit(">"))
    upd = docs.filter(F.col("doc_id") % 4 == 0).select(
        F.lit("org/docs").alias("repo"),
        F.concat(F.lit("data/upd_"), F.col("doc_id").cast("string"), F.lit(".nt")).alias("path"),
        F.lit("1" * 40).alias("commit"),
        F.lit("N-Triples").alias("lang"),
        F.concat(
            subj, F.lit(f' <{VOC}lang> "'), F.upper("lang"), F.lit('" .\n')
        ).alias("content"),
    )
    cfg = _kg_cfg()
    root = tempfile.mkdtemp(prefix="kg_inc_")
    try:
        store = IncrementalGraphStore(spark, root, cfg, order="arrival")
        for b in range(3):
            batch = src.filter(did % 3 == b)
            store.merge_batch(transform_triples(extract_triples(batch), cfg), f"b{b}")
        store.merge_batch(transform_triples(extract_triples(upd), cfg), "upd")
        t = store.tables()
        lang_val = t.node_props.filter(F.col("prop") == f"{VOC}lang").select(
            "uri", F.col("values")[0].alias("lang_val")
        )
        out = t.nodes.select(
            "uri",
            F.array_join("labels", ",").alias("labels_str"),
            F.size("props").alias("n_props"),
        ).join(lang_val, "uri", "left")
        # materialize before the state dir disappears (plans reading a
        # deleted parquet path fail lazily)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_kg_sameas_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental entity-linking REFRESH (VERDICT r5 item 6): two
    batches merge into the IncrementalGraphStore WITHOUT sameAs fusion
    (batch 1 = every doc's `voc:lang` triple for even doc_ids, batch 2 =
    odd doc_ids' triples PLUS `<doc/i> owl:sameAs <doc/(i-1)>` links for
    doc_id % 10 == 1 — cross-batch merges by construction), then
    `tables_canonicalized()` applies the periodic sameAs reconcile as a
    view-level remap + algebraic re-aggregation. The oracle derives the
    expected canonicalized nodes analytically: the %10==1 docs vanish
    into their even partners, whose lang value is OVERWRITTEN by the odd
    doc's row (canonical statement order: path 'doc_<i>' sorts after
    'doc_<i-1>' within a pair), and the sameAs statements themselves
    leave no uri behind."""
    import shutil
    import tempfile

    from neosemantics_spark.operators.incremental import IncrementalGraphStore

    docs = _docs(spark, sf)
    subj = F.concat(F.lit(f"<{DOC}"), F.col("doc_id").cast("string"), F.lit(">"))
    prev = F.concat(F.lit(f"<{DOC}"), (F.col("doc_id") - 1).cast("string"), F.lit(">"))
    lang_triple = F.concat(
        subj, F.lit(f' <{VOC}lang> "'), F.col("lang"), F.lit('" .\n')
    )
    content = F.when(
        F.col("doc_id") % 10 == 1,
        F.concat(lang_triple, subj, F.lit(f" <{OWL_SAMEAS}> "), prev, F.lit(" .\n")),
    ).otherwise(lang_triple)
    src = docs.select(
        F.lit("org/docs").alias("repo"),
        F.concat(F.lit("data/doc_"), F.col("doc_id").cast("string"), F.lit(".nt")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.lit("N-Triples").alias("lang"),
        content.alias("content"),
    )
    did = F.regexp_extract("path", r"doc_(\d+)\.nt", 1).cast("long")
    cfg = _kg_cfg()
    root = tempfile.mkdtemp(prefix="kg_refresh_")
    try:
        store = IncrementalGraphStore(spark, root, cfg, order="canonical")
        store.merge_batch(
            transform_triples(extract_triples(src.filter(did % 2 == 0)), cfg), "even"
        )
        store.merge_batch(
            transform_triples(extract_triples(src.filter(did % 2 == 1)), cfg), "odd"
        )
        t = store.tables_canonicalized()
        lang_val = t.node_props.filter(F.col("prop") == f"{VOC}lang").select(
            "uri", F.col("values")[0].alias("lang_val")
        )
        out = t.nodes.select("uri", F.size("props").alias("n_props")).join(
            lang_val, "uri", "left"
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_dup_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window duplicated-span extraction over the dup-injected
    view (exact copies guarantee full-document spans at every sf; the
    base corpus contributes whatever natural n-gram repeats it has).
    The oracle replays window hashing as raw-gram grouping — same
    equivalence classes, so the sha2 shuffle-key discipline is checked
    against the content-level definition."""
    from neosemantics_spark.operators.dedup import duplicated_spans

    docs = _docs(spark, sf).select("doc_id", "text")
    tenth = docs.filter(F.col("doc_id") % 10 == 0)
    dup_view = docs.unionByName(
        tenth.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    )
    return duplicated_spans(dup_view, n=8, min_docs=2).select(
        "doc_id", "span_start", "span_end", "span_tokens"
    )


def q_strip_spans(spark: SparkSession, sf: str) -> DataFrame:
    """The span-dedup ACTION over the dup-injected view: every
    duplicated window's content survives only in its min-id owner doc;
    the oracle re-assembles every output text byte-for-byte from raw
    segments (the dedup_chunks reassembly discipline at sliding-window
    fidelity)."""
    from neosemantics_spark.operators.dedup import strip_spans

    docs = _docs(spark, sf).select("doc_id", "text")
    tenth = docs.filter(F.col("doc_id") % 10 == 0)
    dup_view = docs.unionByName(
        tenth.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    )
    return strip_spans(dup_view, n=8, min_docs=2).select(
        "doc_id", "text_deduped", "n_tokens_kept", "n_tokens_dropped"
    )


def q_span_dup_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Doc-level rollup of dup_spans over the same dup-injected view —
    the drop-mostly-duplicated-docs filter signal."""
    from neosemantics_spark.operators.dedup import span_dup_stats

    docs = _docs(spark, sf).select("doc_id", "text")
    tenth = docs.filter(F.col("doc_id") % 10 == 0)
    dup_view = docs.unionByName(
        tenth.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    )
    return span_dup_stats(dup_view, n=8, min_docs=2).select(
        "doc_id", "n_tokens", "dup_tokens", "dup_frac"
    )


def q_kg_shorten(spark: SparkSession, sf: str) -> DataFrame:
    src = src_files_from_documents(spark, sf, "N-Triples")
    raw = extract_triples(src)
    cfg = GraphConfig(handle_vocab_uris=SHORTEN)
    ns = build_prefix_map(collect_namespaces(raw))
    t = transform_triples(raw, cfg, ns)
    return t.select(F.col("predicate"), F.col("pred_t").alias("pred_short")).distinct()


def q_kg_map(spark: SparkSession, sf: str) -> DataFrame:
    """J5 MAP mode end-to-end: mapped vocabulary elements take the user
    name, everything else falls back to IGNORE local-name semantics, and
    an rdf:type mapping is discarded at import
    (RDFToLPGStatementProcessor.java:74-86, 260-269)."""
    src = src_files_from_documents(spark, sf, "N-Triples")
    cfg = GraphConfig(handle_vocab_uris="MAP")
    # an rdf:type entry would be discarded by MappingStore.import_mappings
    # (the reference's import-side prohibition) — so only real mappings here
    mapping = {VOC + "lang": "LANGUAGE", VOC + "nchars": "SIZE"}
    t = transform_triples(extract_triples(src), cfg, mapping=mapping)
    return t.select("subject", "pred_t")


def q_kg_sameas_cc(spark: SparkSession, sf: str) -> DataFrame:
    docs = _docs(spark, sf)
    subj = F.concat(F.lit(f"<{DOC}"), F.col("doc_id").cast("string"), F.lit(">"))
    prev = F.concat(F.lit(f"<{DOC}"), (F.col("doc_id") - 1).cast("string"), F.lit(">"))
    content = F.when(
        F.col("doc_id") % 5 != 0,
        F.concat(subj, F.lit(f" <{OWL_SAMEAS}> "), prev, F.lit(" .\n")),
    ).otherwise(F.lit(""))
    src = docs.select(
        F.lit("org/docs").alias("repo"),
        F.concat(F.lit("links/"), F.col("doc_id").cast("string"), F.lit(".nt")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.lit("N-Triples").alias("lang"),
        content.alias("content"),
    )
    comp = canonical_map(extract_triples(src))
    return comp.select("uri", "component")


def q_kg_typed_literals(spark: SparkSession, sf: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf}/events.parquet")
    subj = F.concat(F.lit("<http://example.org/evt/"), F.col("event_id").cast("string"), F.lit(">"))
    ts_lex = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    content = F.concat(
        subj, F.lit(f" <{VOC}value> \""), F.col("value").cast("string"),
        F.lit(f"\"^^<{XSD}double> .\n"),
        subj, F.lit(f" <{VOC}at> \""), ts_lex, F.lit(f"\"^^<{XSD}dateTime> .\n"),
        subj, F.lit(f" <{VOC}etype> \""), F.col("event_type"), F.lit("\" .\n"),
    )
    src = ev.select(
        F.lit("org/events").alias("repo"),
        F.concat(F.lit("ev/"), F.col("event_id").cast("string"), F.lit(".nt")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.lit("N-Triples").alias("lang"),
        content.alias("content"),
    )
    from neosemantics_spark.operators.transforms import with_typed_values

    t = with_typed_values(extract_triples(src))
    ev_id = F.regexp_extract("subject", r"/evt/(\d+)$", 1).cast("long")
    vals = t.filter(F.col("predicate") == VOC + "value").select(
        ev_id.alias("event_id"), F.col("value_double"), F.col("value_type").alias("vt_value")
    )
    times = t.filter(F.col("predicate") == VOC + "at").select(
        ev_id.alias("event_id"),
        F.date_format("value_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.col("value_type").alias("vt_ts"),
    )
    return vals.join(times, "event_id")


def _shacl_graph(spark: SparkSession, sf: str):
    """Shared graph + shapes for the kg_shacl / kg_shacl_delta oracles."""
    docs = _docs(spark, sf)
    subj = F.concat(F.lit(f"<{DOC}"), F.col("doc_id").cast("string"), F.lit(">"))
    content = F.concat(
        subj, F.lit(f" <{RDFT}> <{VOC}Document> .\n"),
        subj, F.lit(f" <{VOC}nchars> \""), F.col("n_chars").cast("string"),
        F.lit(f"\"^^<{XSD}integer> .\n"),
        F.when(
            F.col("n_chars") >= 150,
            F.concat(subj, F.lit(f" <{VOC}long_text> \"1\" .\n")),
        ).otherwise(F.lit("")),
    )
    src = docs.select(
        F.lit("org/docs").alias("repo"),
        F.concat(F.lit("g/"), F.col("doc_id").cast("string"), F.lit(".nt")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.lit("N-Triples").alias("lang"),
        content.alias("content"),
    )
    cfg = _kg_cfg()
    tables = materialize(transform_triples(extract_triples(src), cfg), cfg)
    shapes = compile_shapes(
        f"""@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix v: <{VOC}> .
@prefix xsd: <{XSD}> .
v:DocShape a sh:NodeShape ; sh:targetClass v:Document ;
  sh:property [ sh:path v:long_text ; sh:minCount 1 ] ;
  sh:property [ sh:path v:nchars ; sh:maxInclusive 400 ] .
"""
    )
    return docs, tables, shapes


def q_kg_shacl(spark: SparkSession, sf: str) -> DataFrame:
    _, tables, shapes = _shacl_graph(spark, sf)
    res = ShaclValidator(tables).validate(shapes)
    return res.select(
        "focus_node",
        F.element_at(F.split("property_shape", "#"), -1).alias("component"),
        "result_path",
    )


def q_kg_shacl_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Delta-scoped validation (the validateTransaction analogue,
    ValidationProcedures.java:155-170): only the delta node set — docs
    with doc_id%7==0, standing in for the nodes touched by one
    incremental run — is validated. The node_set semi-join sits BELOW
    the cardinality aggregations (tests/test_plans.py locks the plan), so
    a 100-node delta never pays a full-graph aggregation."""
    docs, tables, shapes = _shacl_graph(spark, sf)
    delta = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.concat(F.lit(DOC), F.col("doc_id").cast("string")).alias("uri")
    )
    res = ShaclValidator(tables).validate_delta(shapes, delta)
    return res.select(
        "focus_node",
        F.element_at(F.split("property_shape", "#"), -1).alias("component"),
        "result_path",
    )


def q_kg_export_nt(spark: SparkSession, sf: str) -> DataFrame:
    tables, cfg = _kg_tables(spark, sf)
    trip = graph_to_triples(tables, cfg).filter(F.col("sspo").isNull())
    return to_ntriples_lines(trip).select("line")


def q_kg_export_ttl(spark: SparkSession, sf: str) -> DataFrame:
    """Turtle writer round trip: corpus triples → Turtle blocks
    (partition-parallel serializer) → reparsed by the Turtle parser →
    must equal the directly-parsed triples (A6 ttl family,
    CollectTriples.java:19-71)."""
    src = src_files_from_documents(spark, sf, "N-Triples")
    trip = extract_triples(src)
    blocks = to_turtle_blocks(trip)
    src2 = blocks.select(
        F.lit("x").alias("repo"),
        F.lit("block.ttl").alias("path"),
        F.lit("c").alias("commit"),
        F.lit("Turtle").alias("lang"),
        F.col("line").alias("content"),
    )
    return extract_triples(src2).select(
        "subject", "predicate", "object", "is_literal", "datatype"
    )


def q_kg_export_trig(spark: SparkSession, sf: str) -> DataFrame:
    """TriG / TriG-star writer round trip: deterministic quads (named
    graphs per doc_id%3 + default-graph rows + quoted-triple-subject star
    rows for doc_id%5) → TriG blocks → reparsed by the TriG-star parser
    with the graph column AND the quoted triple preserved."""
    from neosemantics_spark.operators.export import to_trig_blocks

    docs = _docs(spark, sf)
    nullsspo = F.lit(None).cast("array<string>").alias("sspo")
    base = docs.select(
        F.concat(F.lit(DOC), F.col("doc_id").cast("string")).alias("subject"),
        F.col("lang").alias("object"),
        F.col("doc_id"),
        F.col("n_chars"),
    )
    named = base.select(
        "subject",
        F.lit(VOC + "lang").alias("predicate"),
        "object",
        F.lit(True).alias("is_literal"),
        F.lit(XSD + "string").alias("datatype"),
        F.lit(None).cast("string").alias("lang"),
        F.concat(F.lit("http://example.org/graph/"), (F.col("doc_id") % 3).cast("string")).alias("graph"),
        nullsspo,
    )
    default_g = base.select(
        "subject",
        F.lit(VOC + "nchars").alias("predicate"),
        F.col("n_chars").cast("string").alias("object"),
        F.lit(True).alias("is_literal"),
        F.lit(XSD + "string").alias("datatype"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("graph"),
        nullsspo,
    )
    star = base.filter(F.col("doc_id") % 5 == 0).select(
        F.lit(None).cast("string").alias("_nosubj"),
        F.lit(VOC + "certainty").alias("predicate"),
        F.concat(F.lit("c"), (F.col("doc_id") % 3).cast("string")).alias("object"),
        F.lit(True).alias("is_literal"),
        F.lit(XSD + "string").alias("datatype"),
        F.lit(None).cast("string").alias("lang"),
        F.concat(F.lit("http://example.org/graph/"), (F.col("doc_id") % 3).cast("string")).alias("graph"),
        F.array(F.col("subject"), F.lit(VOC + "same"), F.col("subject")).alias("sspo"),
    ).withColumnRenamed("_nosubj", "subject")
    blocks = to_trig_blocks(named.unionByName(default_g).unionByName(star))
    src = blocks.select(
        F.lit("x").alias("repo"),
        F.lit("block.trig").alias("path"),
        F.lit("c").alias("commit"),
        F.lit("TriG").alias("lang"),
        F.col("line").alias("content"),
    )
    return extract_triples(src).select(
        "subject", "predicate", "object", "is_literal", "graph",
        F.array_join("sspo", " ").alias("star"),
    )


def q_orders_rdf(spark: SparkSession, sf: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    return relational_to_triples(
        orders,
        "o_orderkey",
        "http://example.org/order/",
        type_iri=VOC + "Order",
        literal_cols={"o_orderstatus": VOC + "status", "o_orderpriority": VOC + "priority"},
        ref_cols={"o_custkey": (VOC + "customer", "http://example.org/cust/")},
    ).select("subject", "predicate", "object", "is_literal")


# ============================================================== data ops
def q_dedup_exact_kept(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.dedup_exact(_docs(spark, sf)).select("doc_id")


def q_dedup_exact_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-dup grouping over a dup-injected view (each doc_id % 10 == 0
    document duplicated twice under fresh ids) so the oracle exercises
    real non-empty groups — the raw corpus has no exact dups at sf0.01."""
    docs = _docs(spark, sf).select("doc_id", "text")
    tenth = docs.filter(F.col("doc_id") % 10 == 0)
    dup_view = (
        docs.unionByName(tenth.withColumn("doc_id", F.col("doc_id") + 10_000_000))
        .unionByName(tenth.withColumn("doc_id", F.col("doc_id") + 20_000_000))
    )
    return dedup.exact_dup_groups(dup_view).select("text_hash", "cnt", "keep_id")


def q_dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.minhash_lsh_candidates(_docs(spark, sf), num_hashes=8, bands=4).select("a", "b")


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive near-dup clustering: MinHash-LSH pair graph → connected
    components → (doc_id, cluster_id = min doc of the component);
    singletons are their own cluster. The canonical-doc selection step of
    a corpus dedup pass, oracle-checked via a recursive-CTE closure."""
    docs = _docs(spark, sf)
    pairs = dedup.minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    return dedup.near_dup_clusters(docs, pairs)


def q_cluster_reps(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-based representative election over the near-dup
    clusters: the highest-n_chars member of each cluster is the rep
    (ties → smallest id) — the drop-in upgrade over min-id election
    once a quality signal exists."""
    docs = _docs(spark, sf)
    pairs = dedup.minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    clusters = dedup.near_dup_clusters(docs, pairs)
    scores = docs.select("doc_id", F.col("n_chars").cast("double").alias("score"))
    return dedup.elect_cluster_reps(clusters, scores).select(
        "doc_id", "cluster_id", "score", "is_rep"
    )


def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.simhash(_docs(spark, sf)).select("doc_id", "simhash")


def q_dedup_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf), threshold=0.8).select("a", "b", "jaccard")


def q_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return similarity.brute_force_topk(emb, list(range(10)), k=5).select(
        "query_id", "neighbor_id", "score", "rank"
    )


def q_ann_lsh_buckets(spark: SparkSession, sf: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return similarity.lsh_bucket_table(emb, nbits=8, bands=1).select(
        F.col("id").alias("vec_id"), "bucket"
    )


def q_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF coarse quantization THROUGH the persisted index artifact
    (round 6): write_ann_index trains the deterministic centroids and
    commits the assignments (manifest + HEAD), read_ann_index reopens
    the snapshot, and the returned table is the loaded artifact — the
    oracle (unchanged) pins that the save→load round trip is exact."""
    import shutil
    import tempfile

    from neosemantics_spark.operators import ann_index

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    root = tempfile.mkdtemp(prefix="ann_idx_")
    try:
        ann_index.write_ann_index(emb, root, n_centroids=16)
        idx = ann_index.read_ann_index(spark, root)
        return idx.assignments.select(
            F.col("id").alias("vec_id"), "centroid_id", "dist"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_decontam(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 100 != 0)
    sharing any word 4-gram with the held-out eval slice (doc_id % 100
    == 0). n=4 chosen so the sf0.01 corpus actually has overlap; the
    production default is 8."""
    docs = _docs(spark, sf)
    train = docs.filter(F.col("doc_id") % 100 != 0)
    bench = docs.filter(F.col("doc_id") % 100 == 0)
    return datasets.decontaminate(train, bench, n=4).select("doc_id", "shared_shingles")


def q_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic md5-prefix train/val/test assignment (90/5/5)."""
    return datasets.hash_split(_docs(spark, sf)).select("doc_id", "split")


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language deterministic downsample (dataset mixing): en 25%,
    de 50%, everything else 10%."""
    return datasets.stratified_sample(
        _docs(spark, sf), {"en": 0.25, "de": 0.5}, default_fraction=0.1
    ).select("doc_id", "lang")


def q_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 top-10 for a mixed rare+common query ('dup' is the
    discriminative term in the synthetic vocabulary) — served through
    the PERSISTED index path: postings written partitioned by md5 term
    bucket for HALF the corpus, the other half folded in with
    append_postings (incremental index maintenance), then reopened and
    queried with bucket partition-pruning + zero per-query scalar jobs —
    the oracle's from-scratch SQL ranking over the full corpus checks
    that index+append ≡ rebuild (the inline path is covered by pytest)."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="bm25_idx_")
    try:
        docs = _docs(spark, sf)
        search.write_postings(docs.filter(F.col("doc_id") % 2 == 0), root, n_buckets=16)
        search.append_postings(docs.filter(F.col("doc_id") % 2 == 1), root)
        idx = search.read_postings(spark, root)
        out = search.bm25_topk(None, "dup merge window", k=10, index=idx).select(
            "doc_id", "score", "rank"
        )
        # materialize before the index directory disappears
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_top_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus composition stats: 20 most frequent word bigrams."""
    return search.top_ngrams(_docs(spark, sf), n=2, k=20).select("ngram", "cnt")


def q_dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric n-gram containment over a truncation-injected view:
    every doc_id % 7 == 0 document reappears (id +40M) truncated to its
    first half (≥5 words) — the embedded-document duplication shape
    (quoted article, truncated mirror) that Jaccard under-detects. The
    truncated copy's shingles are a subset of the original's, so its
    containment is 1.0 while Jaccard can be far below any dedup
    threshold."""
    docs = _docs(spark, sf).select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    n = F.greatest(F.lit(5), (F.size(w) / 2).cast("int"))
    trunc = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"),
        F.array_join(F.slice(w, 1, n), " ").alias("text"),
    )
    view = docs.unionByName(trunc)
    return dedup.ngram_containment_pairs(view, threshold=0.9).select(
        "a", "b", "cont_a", "cont_b"
    )


def q_chunk_dup_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-document boilerplate profile over the same truncation-injected
    view as dedup_containment (the truncated copies' leading chunks are
    exact repeats of the originals' — aligned at position 0 because the
    chunking is non-overlapping): per doc, the fraction of 8-token
    chunks shared with at least one other document."""
    docs = _docs(spark, sf).select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    n = F.greatest(F.lit(5), (F.size(w) / 2).cast("int"))
    trunc = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"),
        F.array_join(F.slice(w, 1, n), " ").alias("text"),
    )
    view = docs.unionByName(trunc)
    return dedup.chunk_dup_stats(view, chunk_tokens=8).select(
        "doc_id", "n_chunks", "shared_chunks", "dup_chunk_frac"
    )


def q_dedup_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-document dedup action over the truncation-injected view: the
    truncated (+40M-id) copies lose every aligned chunk to their
    originals and keep only their partial trailing chunk. Re-assembly is
    from raw text spans (byte-preserving); max_doc_tokens=60 exercises
    the oversized-doc passthrough guard on the longer half of the
    corpus (docs above the cap return untouched, flagged)."""
    docs = _docs(spark, sf).select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    n = F.greatest(F.lit(5), (F.size(w) / 2).cast("int"))
    trunc = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"),
        F.array_join(F.slice(w, 1, n), " ").alias("text"),
    )
    view = docs.unionByName(trunc)
    return dedup.dedup_chunks(view, chunk_tokens=8, max_doc_tokens=60).select(
        "doc_id", "text_deduped", "n_chunks_kept", "n_chunks_dropped", "passthrough"
    )


def q_repetition_features(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition filters: top-bigram character share and
    duplicated-trigram character share per document."""
    return text.repetition_features(_docs(spark, sf)).select(
        "doc_id", "top_bigram_char_frac", "dup_trigram_char_frac"
    )


def q_token_budget_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget dataset mixing: en capped at 6000 tokens, de at
    2500, zh uncapped (budget above the stratum total exercises the
    keep-all path); fr/es carry no budget and are dropped."""
    return datasets.token_budget_sample(
        _docs(spark, sf), {"en": 6000, "de": 2500, "zh": 1_000_000}
    ).select("doc_id", "lang")


def q_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based source mixing at alpha=0.5 over the language
    strata: per-stratum budgets ∝ sqrt(stratum token total), scaled to
    an 8000-token overall budget, then the shuffle-free md5-threshold
    keep-filter. Small languages get upsampled relative to their
    natural share (the XLM-R/mT5 mixing rule); strata whose budget
    exceeds their total exercise the keep-whole path."""
    return datasets.temperature_mix(
        _docs(spark, sf), total_budget=8000, alpha=0.5, strata_col="lang"
    ).select("doc_id", "lang")


def q_quality_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Soft quality filtering (DCLM-style probabilistic reweighting):
    keep probability ramps 0.1 → 1.0 as n_chars goes 100 → 400, decided
    per row by the integer md5-prefix threshold (numeric compare — the
    per-row cutoff can't be a lexicographic hex constant)."""
    return datasets.quality_weighted_sample(
        _docs(spark, sf), "n_chars", lo=100.0, hi=400.0, floor_frac=0.1
    ).select("doc_id", "n_chars")


def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing: every document's (shard, seq_id, seq_offset)
    position in 4 parallel 256-token GPT-style concat-and-chunk streams,
    ordered by the deterministic md5 shuffle within each shard."""
    return datasets.pack_sequences(
        _docs(spark, sf), seq_tokens=256, n_shards=4
    ).select("doc_id", "shard", "n_tokens", "seq_id", "seq_offset")


def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style embedding-space dedup action: LSH-bucketed
    near-dup pairs at cosine >= 0.5 (the iid-regime threshold that
    yields a non-trivial pair graph on the synthetic embeddings) →
    connected components → min-id representative election. Every vector
    comes back with its cluster and an is_rep flag."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return similarity.semantic_dedup(emb, threshold=0.5).select(
        "vec_id", "cluster_id", "is_rep"
    )


def q_cluster_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-balanced sampling: IVF-assign every vector to one of 16
    deterministic centroids, then cap each cluster at 20 kept vectors in
    expectation via per-cluster integer-arithmetic md5 cutoffs — the
    diversity-flattening downsample, fully distributed (no driver
    collect)."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return similarity.cluster_balanced_sample(
        emb, target_per_cluster=20, n_centroids=16
    ).select("vec_id", "centroid_id")


def q_semantic_decontam(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space decontamination: vec_id % 20 == 0 vectors act as
    the held-out benchmark; training vectors (the rest) within cosine
    0.35 of any bench vector are flagged with their max similarity and
    hit count (the iid synthetic embeddings concentrate near cosine 0 —
    max observed ≈ 0.49 — so 0.35 flags a non-trivial tail; a real
    deployment sets ~0.9+ against paraphrase-level similarity)."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    train = emb.filter(F.col("vec_id") % 20 != 0)
    return similarity.semantic_decontaminate(train, bench, threshold=0.35).select(
        "vec_id", "max_bench_cosine", "n_bench_hits"
    )


def q_semantic_decontam_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """The scale path of embedding-space decontamination: hyperplane-LSH
    bucket both sides (nbits=4, bands=2), multi-probe the bench side
    (Hamming radius 1), equi-join candidates, exact-cosine verify — no
    cross join anywhere, so both sides may be corpus-scale. The oracle
    replays the identical bucketing/probing/verify in SQL, so the match
    is hash-exact including LSH misses (recall vs brute force is
    measured separately in BASELINE.md)."""
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    train = emb.filter(F.col("vec_id") % 20 != 0)
    return similarity.semantic_decontaminate(
        train, bench, threshold=0.35, prefilter="lsh", nbits=4, bands=2, probe_bits=1
    ).select("vec_id", "max_bench_cosine", "n_bench_hits")


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    return text.language_id(_docs(spark, sf)).select("doc_id", "pred_lang", "score")


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    return text.quality_features(_docs(spark, sf))


def q_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    return text.token_counts(_docs(spark, sf))


def q_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    return text.fingerprints(_docs(spark, sf)).select("doc_id", "exact_fp", "shingle_fp")


def q_text_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window token chunking (20-token windows, 5-token overlap,
    trailing partial kept) — map-only, partition-local."""
    return text.chunk_documents(_docs(spark, sf), chunk_tokens=20, overlap=5)


def q_pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus scrubbing: deterministic PII (email+URL per doc, IPv4 on
    doc_id%3) injected into the text, then redacted with typed tokens and
    per-kind match counts — pure regexp column expressions."""
    docs = _docs(spark, sf)
    did = F.col("doc_id").cast("string")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact doc"), did, F.lit("@example.com via https://ex.org/d/"), did,
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" from 10.0.0."), (F.col("doc_id") % 256).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return text.redact_pii(injected).select(
        "doc_id", "redacted", "n_emails", "n_urls", "n_ips"
    )


def q_iri_functions(spark: SparkSession, sf: str) -> DataFrame:
    src = src_files_from_documents(spark, sf, "N-Triples")
    t = extract_triples(src)
    return (
        t.select("predicate").distinct().select(
            "predicate",
            get_iri_namespace(F.col("predicate")).alias("ns"),
            get_iri_local_name(F.col("predicate")).alias("local"),
        )
    )


def q_literal_functions(spark: SparkSession, sf: str) -> DataFrame:
    docs = _docs(spark, sf)
    s1 = F.concat(F.col("n_chars").cast("string"), F.lit(f"^^{XSD}integer"))
    s2 = F.concat(F.col("source"), F.lit("@"), F.col("lang"))
    return docs.select(
        "doc_id",
        get_value(s1).alias("v1"),
        get_datatype(s1).alias("dt1"),
        get_value(s2).alias("v2"),
        get_lang_tag(s2).alias("tag2"),
    )


def q_inference_nodes(spark: SparkSession, sf: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    region = spark.read.parquet(f"{sf}/region.parquet")
    nodes = cust.join(nation, cust.c_nationkey == nation.n_nationkey).select(
        F.concat(F.lit("http://example.org/cust/"), F.col("c_custkey").cast("string")).alias("uri"),
        F.array("n_name").alias("labels"),
    )
    sco = nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        F.col("n_name").alias("src"), F.lit("SCO").alias("rel"), F.col("r_name").alias("dst")
    )
    closure = inference.transitive_closure(sco)
    got = inference.nodes_labelled_with_inference(nodes, closure, "ASIA")
    return got.select("uri")


def q_inference_categories(spark: SparkSession, sf: str) -> DataFrame:
    """Micro-reasoner completion (MicroReasoners.java:102-127,441-480):
    customers -[in]-> nation nodes, nations -SCO-> regions; boolean
    in_category('ASIA') via the custom in-category relationship."""
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    region = spark.read.parquet(f"{sf}/region.parquet")
    individuals = cust.select(
        F.concat(F.lit("http://example.org/cust/"), F.col("c_custkey").cast("string")).alias("uri")
    )
    in_edges = cust.join(nation, cust.c_nationkey == nation.n_nationkey).select(
        F.concat(F.lit("http://example.org/cust/"), F.col("c_custkey").cast("string")).alias("src"),
        F.lit("in").alias("rel"),
        F.col("n_name").alias("dst"),
    )
    sco = nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        F.col("n_name").alias("src"), F.lit("SCO").alias("rel"), F.col("r_name").alias("dst")
    )
    closure = inference.transitive_closure(sco)
    flags = inference.in_category_flags(
        individuals, in_edges, closure, "ASIA", in_cat_rel="in"
    )
    return flags.select("uri", "in_category")


def q_skos_route(spark: SparkSession, sf: str) -> DataFrame:
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    region = spark.read.parquet(f"{sf}/region.parquet")
    j = nation.join(region, nation.n_regionkey == region.r_regionkey)
    skos = "http://www.w3.org/2004/02/skos/core#"
    trip = j.select(
        F.col("r_name").alias("subject"),
        F.lit(skos + "narrower").alias("predicate"),
        F.col("n_name").alias("object"),
        F.lit(False).alias("is_literal"),
    ).unionByName(
        j.select(
            F.col("n_name").alias("subject"),
            F.lit(skos + "broader").alias("predicate"),
            F.col("r_name").alias("object"),
            F.lit(False).alias("is_literal"),
        )
    )
    return inference.route_skos(trip).distinct().select("src", "rel", "dst")


def q_skos_xl(spark: SparkSession, sf: str) -> DataFrame:
    """SKOS-XL two-leg label indirection end-to-end: each doc is a concept
    with a direct skos:prefLabel AND a reified skosxl:altLabel → labelNode
    → skosxl:literalForm chain; skos_label_props resolves both into
    (concept, prop, value) rows (SkosImporter.java:144-167)."""
    docs = _docs(spark, sf)
    skos = "http://www.w3.org/2004/02/skos/core#"
    skosxl = "http://www.w3.org/2008/05/skos-xl#"
    con = F.concat(F.lit("<http://example.org/concept/"), F.col("doc_id").cast("string"), F.lit(">"))
    xl = F.concat(F.lit("<http://example.org/xlabel/"), F.col("doc_id").cast("string"), F.lit(">"))
    content = F.concat(
        con, F.lit(f' <{skos}prefLabel> "pref-'), F.col("doc_id").cast("string"), F.lit('" .\n'),
        con, F.lit(f" <{skosxl}altLabel> "), xl, F.lit(" .\n"),
        xl, F.lit(f' <{skosxl}literalForm> "'), F.col("lang"), F.lit('" .\n'),
    )
    src = docs.select(
        F.lit("org/skos").alias("repo"),
        F.concat(F.lit("c/"), F.col("doc_id").cast("string"), F.lit(".nt")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.lit("N-Triples").alias("lang"),
        content.alias("content"),
    )
    t = extract_triples(src)
    return inference.skos_label_props(t).select("concept", "prop", "value")


def q_di_model(spark: SparkSession, sf: str) -> DataFrame:
    """Data-Importer model export (experimental.export.dimodel,
    DIModelBuilder.java:32-110): deterministic ontology from nation/region
    (5 classes, one object property + one datatype property per nation)
    → LPG schema rows (element, name, src, dst)."""
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    region = spark.read.parquet(f"{sf}/region.parquet")
    r2 = region.select(
        F.col("r_regionkey").alias("k2"), F.col("r_name").alias("rng_name")
    )
    j = (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .join(r2, (nation.n_nationkey % 5) == F.col("k2"))
    )
    owl = "http://www.w3.org/2002/07/owl#"
    rdfs = "http://www.w3.org/2000/01/rdf-schema#"
    c = lambda col: F.concat(F.lit("<http://o/C_"), F.regexp_replace(col, " ", "_"), F.lit(">"))  # noqa: E731
    nm = F.regexp_replace(F.col("n_name"), " ", "_")
    content = F.concat(
        c(F.col("r_name")), F.lit(f" <{RDFT}> <{owl}Class> .\n"),
        F.lit("<http://o/rel_"), nm, F.lit(f"> <{RDFT}> <{owl}ObjectProperty> .\n"),
        F.lit("<http://o/rel_"), nm, F.lit(f"> <{rdfs}domain> "), c(F.col("r_name")), F.lit(" .\n"),
        F.lit("<http://o/rel_"), nm, F.lit(f"> <{rdfs}range> "), c(F.col("rng_name")), F.lit(" .\n"),
        F.lit("<http://o/p_"), nm, F.lit(f"> <{RDFT}> <{owl}DatatypeProperty> .\n"),
        F.lit("<http://o/p_"), nm, F.lit(f"> <{rdfs}domain> "), c(F.col("r_name")), F.lit(" .\n"),
        F.lit("<http://o/p_"), nm, F.lit(f"> <{rdfs}range> <{XSD}string> .\n"),
    )
    src = j.select(
        F.lit("org/onto").alias("repo"),
        F.concat(F.lit("n/"), nm, F.lit(".nt")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.lit("N-Triples").alias("lang"),
        content.alias("content"),
    )
    return inference.di_model(extract_triples(src))


def q_kg_json_tree(spark: SparkSession, sf: str) -> DataFrame:
    """S6 JSON-as-tree importer over deterministic JSON derived from
    documents; the oracle recomputes the path-derived skolem bnode ids
    with sha256 — full structural check of the tree mapping."""
    from neosemantics_spark.sources.json_tree import import_json_as_tree

    docs = _docs(spark, sf)
    content = F.to_json(
        F.struct(
            F.col("lang").alias("lang"),
            F.col("n_chars").alias("chars"),
            F.struct(F.col("source").alias("name")).alias("src"),
        )
    )
    src = docs.select(
        F.lit("org/docs").alias("repo"),
        F.concat(F.lit("j/"), F.col("doc_id").cast("string"), F.lit(".json")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        content.alias("content"),
    )
    t = import_json_as_tree(src)
    return t.filter(F.col("parse_error").isNull()).select(
        "path", "subject", "predicate", "object", "is_literal"
    )


def q_sco_closure(spark: SparkSession, sf: str) -> DataFrame:
    """Deep-hierarchy transitive closure (J7): binary-tree SCO edges
    cat_i -> cat_{i//2} derived from documents; oracle = recursive CTE."""
    docs = _docs(spark, sf).filter((F.col("doc_id") >= 1) & (F.col("doc_id") <= 63))
    edges = docs.select(
        F.concat(F.lit("cat"), F.col("doc_id").cast("string")).alias("src"),
        F.lit("SCO").alias("rel"),
        F.concat(F.lit("cat"), F.floor(F.col("doc_id") / 2).cast("string")).alias("dst"),
    )
    return inference.transitive_closure(edges).select("descendant", "ancestor")


def q_embedding_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    # low threshold so the sf-corpus (random-ish vectors) yields rows
    return similarity.embedding_near_dups(
        emb, threshold=0.5, nbits=4, bands=2
    ).select("a", "b", "score")


def q_corpus_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-card profile per (lang, source): one groupBy with
    digest-based unique counts — the release-notes table for a corpus."""
    from neosemantics_spark.operators.datasets import corpus_profile

    return corpus_profile(_docs(spark, sf)).select(
        "lang", "source", "n_docs", "n_unique", "dup_ratio",
        "total_chars", "total_tokens", "avg_tokens", "min_chars", "max_chars",
    )


# ================================================================ driver
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG-construction pipeline (parse → transform →
    materialize) over the documents-derived N-Triples corpus at sf0.001."""
    return q_kg_nodes(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_triples_nt": q_kg_triples_nt,
        "kg_triples_turtle": q_kg_triples_turtle,
        "kg_nodes": q_kg_nodes,
        "kg_edges": q_kg_edges,
        "kg_incremental": q_kg_incremental,
        "kg_sameas_refresh": q_kg_sameas_refresh,
        "dup_spans": q_dup_spans,
        "span_dup_stats": q_span_dup_stats,
        "strip_spans": q_strip_spans,
        "kg_shorten": q_kg_shorten,
        "kg_map": q_kg_map,
        "kg_sameas_cc": q_kg_sameas_cc,
        "kg_typed_literals": q_kg_typed_literals,
        "kg_shacl": q_kg_shacl,
        "kg_shacl_delta": q_kg_shacl_delta,
        "kg_export_nt": q_kg_export_nt,
        "kg_export_ttl": q_kg_export_ttl,
        "kg_export_trig": q_kg_export_trig,
        "orders_rdf": q_orders_rdf,
        "dedup_exact_kept": q_dedup_exact_kept,
        "dedup_exact_groups": q_dedup_exact_groups,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "cluster_reps": q_cluster_reps,
        "dedup_simhash": q_dedup_simhash,
        "dedup_jaccard": q_dedup_jaccard,
        "ann_topk": q_ann_topk,
        "ann_lsh_buckets": q_ann_lsh_buckets,
        "ann_ivf": q_ann_ivf,
        "decontam": q_decontam,
        "hash_split": q_hash_split,
        "stratified_sample": q_stratified_sample,
        "bm25_search": q_bm25_search,
        "top_ngrams": q_top_ngrams,
        "dedup_containment": q_dedup_containment,
        "semantic_decontam": q_semantic_decontam,
        "semantic_decontam_lsh": q_semantic_decontam_lsh,
        "token_budget_sample": q_token_budget_sample,
        "temperature_mix": q_temperature_mix,
        "pack_sequences": q_pack_sequences,
        "quality_sample": q_quality_sample,
        "semantic_dedup": q_semantic_dedup,
        "cluster_sample": q_cluster_sample,
        "repetition_features": q_repetition_features,
        "chunk_dup_stats": q_chunk_dup_stats,
        "dedup_chunks": q_dedup_chunks,
        "lang_id": q_lang_id,
        "text_quality": q_text_quality,
        "token_counts": q_token_counts,
        "fingerprints": q_fingerprints,
        "text_chunks": q_text_chunks,
        "pii_redact": q_pii_redact,
        "iri_functions": q_iri_functions,
        "literal_functions": q_literal_functions,
        "inference_nodes": q_inference_nodes,
        "inference_categories": q_inference_categories,
        "skos_route": q_skos_route,
        "skos_xl": q_skos_xl,
        "di_model": q_di_model,
        "kg_json_tree": q_kg_json_tree,
        "embedding_near_dups": q_embedding_near_dups,
        "corpus_profile": q_corpus_profile,
        "sco_closure": q_sco_closure,
    }


# ================================================================ oracles
def _doc_triples_nt_sql(select: str) -> str:
    return f"""
WITH t AS (
  SELECT '{DOC}' || doc_id AS subject, '{RDFT}' AS predicate,
         '{VOC}Document' AS object, false AS is_literal,
         CAST(NULL AS VARCHAR) AS datatype
  FROM documents
  UNION ALL
  SELECT '{DOC}' || doc_id, '{VOC}text', text, true, '{XSD}string' FROM documents
  UNION ALL
  SELECT '{DOC}' || doc_id, '{VOC}lang', lang, true, '{XSD}string' FROM documents
  UNION ALL
  SELECT '{DOC}' || doc_id, '{VOC}source', '{DOC}src/' || source, false, NULL FROM documents
  UNION ALL
  SELECT '{DOC}' || doc_id, '{VOC}nchars', CAST(n_chars AS VARCHAR), true, '{XSD}integer' FROM documents
)
{select}
"""


_WORDS = "string_split_regex(trim(lower(text)), '\\s+')"
_SHINGLES = (
    "list_distinct(CASE WHEN len(w) >= 3 THEN "
    "list_transform(generate_series(1, len(w)-2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) "
    "ELSE [array_to_string(w, ' ')] END)"
)

_EN_STOP = "'the','and','of','to','is','in','that','it','for','with','a','an','on','as','at','by','be','are'"
_LANG_LISTS = {
    "en": "'the','and','of','to','is','in','that','it','for','with'",
    "es": "'el','la','de','que','y','en','los','del','las','por'",
    "fr": "'le','la','de','et','les','des','en','un','du','une'",
    "de": "'der','die','und','das','von','den','mit','ist','des','ein'",
}


def _lsh_bucket_sql(vec_expr: str, nbits: int, band: int = 0) -> str:
    """DuckDB replica of similarity.sign_lsh_bucket: bit p = sign of the
    md5-seeded ±1 Rademacher projection of the full vector (plane id =
    band*nbits + p, weight_j from md5('<plane>:<j>'))."""
    bits = []
    for p in range(nbits):
        plane = band * nbits + p
        bits.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, len({vec_expr})), j -> "
            f"CAST({vec_expr}[j] AS DOUBLE) * (CASE WHEN instr('0123456789abcdef', "
            f"substr(md5('{plane}:' || CAST(j - 1 AS VARCHAR)), 1, 1)) >= 9 "
            f"THEN 1.0 ELSE -1.0 END))) > 0 THEN '1' ELSE '0' END)"
        )
    return "(" + " || ".join(bits) + ")"


def _simhash_sql() -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN instr('0123456789abcdef', substr(h, {i + 1}, 1)) >= 9 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(32)
    )
    bit_concat = " || ".join(f"(CASE WHEN b{i} > 0 THEN '1' ELSE '0' END)" for i in range(32))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_WORDS}) AS tok FROM documents
), h AS (
  SELECT doc_id, md5(tok) AS h FROM toks WHERE tok <> ''
), bits AS (
  SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id
)
SELECT doc_id, {bit_concat} AS simhash FROM bits
"""


def _minhash_ctes() -> str:
    """Shared CTE chain ending in `pairs(a, b)` — used by the pairwise
    oracle and (inside WITH RECURSIVE) the clustering oracle."""
    return f"""words AS (
  SELECT doc_id, {_WORDS} AS w FROM documents
), sh AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM words
), hashes AS (
  SELECT doc_id, seed, md5(CAST(seed AS VARCHAR) || '|' || shingle) AS h
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS seed) s
), sig AS (
  SELECT doc_id, seed, min(h) AS minhash FROM hashes GROUP BY doc_id, seed
), band AS (
  SELECT doc_id, seed % 4 AS band, md5(string_agg(minhash, ',' ORDER BY seed)) AS bucket
  FROM sig GROUP BY doc_id, seed % 4
), pairs AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM band l JOIN band r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
)"""


def _minhash_sql() -> str:
    return f"WITH {_minhash_ctes()}\nSELECT a, b FROM pairs"


def _dedup_clusters_sql() -> str:
    """Transitive closure of the pair graph via recursive CTE (set-union
    recursion terminates), component id = min reachable doc id."""
    return f"""
WITH RECURSIVE {_minhash_ctes()},
sym AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
comp AS (
  SELECT a AS doc_id, least(min(b), a) AS cluster_id FROM reach GROUP BY a
)
SELECT d.doc_id, CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


def _jaccard_sql(threshold: float = 0.8) -> str:
    return f"""
WITH words AS (
  SELECT doc_id, {_WORDS} AS w FROM documents
), sh AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM words
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), pc AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS common
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT a, b, floor(common / (sa.sz + sb.sz - common) * 10000 + 0.5) / 10000 AS jaccard
FROM pc JOIN sizes sa ON pc.a = sa.doc_id JOIN sizes sb ON pc.b = sb.doc_id
WHERE floor(common / (sa.sz + sb.sz - common) * 10000 + 0.5) / 10000 >= {threshold}
"""


def _lang_id_sql() -> str:
    scores = "\nUNION ALL\n".join(
        f"SELECT doc_id, '{lang}' AS lang, len(list_filter(w, t -> t IN ({lst}))) AS score FROM words"
        for lang, lst in sorted(_LANG_LISTS.items())
    )
    return f"""
WITH words AS (
  SELECT doc_id, {_WORDS} AS w FROM documents
), scores AS (
{scores}
), best AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn FROM scores
)
SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang, score
FROM best WHERE rn = 1
"""


def _quality_sql() -> str:
    return f"""
WITH words AS (
  SELECT doc_id, text, {_WORDS} AS w FROM documents
), feat AS (
  SELECT doc_id,
    len(w) AS n_tokens,
    floor(list_sum(list_transform(w, t -> length(t))) / greatest(len(w), 1) * 10000 + 0.5) / 10000 AS mean_token_len,
    floor((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / greatest(length(text), 1) * 10000 + 0.5) / 10000 AS punct_ratio,
    floor(len(list_filter(w, t -> t IN ({_EN_STOP}))) / greatest(len(w), 1) * 10000 + 0.5) / 10000 AS stopword_ratio,
    floor(len(list_distinct(w)) / greatest(len(w), 1) * 10000 + 0.5) / 10000 AS distinct_ratio
  FROM words
)
SELECT doc_id, n_tokens, mean_token_len, punct_ratio, stopword_ratio, distinct_ratio,
  floor((least(n_tokens / 64.0, 1.0) * 0.25 + (1.0 - punct_ratio) * 0.25
        + least(stopword_ratio * 4, 1.0) * 0.25 + distinct_ratio * 0.25) * 10000 + 0.5) / 10000 AS quality_score
FROM feat
"""


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    out["kg_triples_nt"] = _doc_triples_nt_sql("SELECT * FROM t")
    out["kg_export_ttl"] = _doc_triples_nt_sql(
        "SELECT subject, predicate, object, is_literal, datatype FROM t"
    )
    out["kg_map"] = _doc_triples_nt_sql(
        f"""
SELECT subject,
  CASE predicate
    WHEN '{VOC}lang' THEN 'LANGUAGE'
    WHEN '{VOC}nchars' THEN 'SIZE'
    ELSE regexp_extract(predicate, '^(.*[#/])([^#/]*)$', 2)
  END AS pred_t
FROM t
"""
    )
    out["kg_export_trig"] = f"""
SELECT '{DOC}' || doc_id AS subject, '{VOC}lang' AS predicate, lang AS object,
       true AS is_literal, 'http://example.org/graph/' || (doc_id % 3) AS graph,
       CAST(NULL AS VARCHAR) AS star
FROM documents
UNION ALL
SELECT '{DOC}' || doc_id, '{VOC}nchars', CAST(n_chars AS VARCHAR),
       true, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM documents
UNION ALL
SELECT CAST(NULL AS VARCHAR), '{VOC}certainty', 'c' || (doc_id % 3),
       true, 'http://example.org/graph/' || (doc_id % 3),
       '{DOC}' || doc_id || ' {VOC}same {DOC}' || doc_id
FROM documents WHERE doc_id % 5 = 0
"""
    out["kg_triples_turtle"] = f"""
SELECT '{DOC}' || doc_id AS subject, '{RDFT}' AS predicate, '{VOC}Document' AS object,
       false AS is_literal, CAST(NULL AS VARCHAR) AS lang FROM documents
UNION ALL SELECT '{DOC}' || doc_id, '{VOC}text', text, true, NULL FROM documents
UNION ALL SELECT '{DOC}' || doc_id, '{VOC}summary', text, true, lang FROM documents
UNION ALL SELECT '{DOC}' || doc_id, '{VOC}lang', lang, true, NULL FROM documents
UNION ALL SELECT '{DOC}' || doc_id, '{VOC}source', '{DOC}src/' || source, false, NULL FROM documents
UNION ALL SELECT '{DOC}' || doc_id, '{VOC}nchars', CAST(n_chars AS VARCHAR), true, NULL FROM documents
"""
    out["kg_nodes"] = f"""
SELECT '{DOC}' || doc_id AS uri, '{VOC}Document' AS labels_str, 3 AS n_props FROM documents
UNION ALL
SELECT DISTINCT '{DOC}src/' || source, '', 0 FROM documents
"""
    out["kg_incremental"] = f"""
SELECT '{DOC}' || doc_id AS uri, '{VOC}Document' AS labels_str, 3 AS n_props,
       CASE WHEN doc_id % 4 = 0 THEN upper(lang) ELSE lang END AS lang_val
FROM documents
UNION ALL
SELECT DISTINCT '{DOC}src/' || source, '', 0, CAST(NULL AS VARCHAR) FROM documents
"""
    out["strip_spans"] = f"""
WITH dv AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
),
seg AS (
  SELECT doc_id, text,
         CASE WHEN len(s0) = 0 THEN [text]
              ELSE list_prepend(lead || s0[1], s0[2:]) END AS s
  FROM (SELECT doc_id, text, regexp_extract_all(text, '\\S+\\s*') AS s0,
               regexp_extract(text, '^\\s*') AS lead FROM dv)
),
w AS (SELECT doc_id, {_WORDS} AS w FROM dv),
st AS (
  SELECT doc_id, CAST(s AS INT) AS s,
         array_to_string(list_slice(w, s + 1, s + 8), ' ') AS g
  FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS s FROM w WHERE len(w) >= 8)
),
pg AS (
  SELECT g, min(doc_id) AS owner
  FROM (SELECT DISTINCT g, doc_id FROM st)
  GROUP BY g HAVING count(*) >= 2
),
d AS (
  SELECT DISTINCT st.doc_id, st.s FROM st JOIN pg USING (g)
  WHERE st.doc_id <> pg.owner
),
i AS (
  SELECT doc_id, s,
         CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY s) IS NULL
              OR s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) > 8
              THEN 1 ELSE 0 END AS brk
  FROM d
),
gs AS (
  SELECT doc_id, s,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM i
),
rg AS (SELECT doc_id, min(s) AS rs, max(s) + 8 AS re FROM gs GROUP BY doc_id, grp),
segpos AS (
  SELECT doc_id, unnest(s) AS sg, CAST(unnest(range(len(s))) AS INT) AS i FROM seg
),
removed AS (
  SELECT DISTINCT sp.doc_id, sp.i
  FROM segpos sp JOIN rg ON sp.doc_id = rg.doc_id AND sp.i >= rg.rs AND sp.i < rg.re
),
keptseg AS (
  SELECT sp.doc_id, sp.i, sp.sg FROM segpos sp
  ANTI JOIN removed r ON sp.doc_id = r.doc_id AND sp.i = r.i
),
reb AS (SELECT doc_id, string_agg(sg, '' ORDER BY i) AS text_deduped FROM keptseg GROUP BY 1),
dr AS (SELECT doc_id, sum(re - rs) AS dropped FROM rg GROUP BY 1)
SELECT w.doc_id,
       coalesce(reb.text_deduped, '') AS text_deduped,
       CAST(len(w.w) - coalesce(dr.dropped, 0) AS BIGINT) AS n_tokens_kept,
       CAST(coalesce(dr.dropped, 0) AS BIGINT) AS n_tokens_dropped
FROM w LEFT JOIN reb ON w.doc_id = reb.doc_id
LEFT JOIN dr ON w.doc_id = dr.doc_id
"""
    out["span_dup_stats"] = f"""
WITH dv AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
),
w AS (SELECT doc_id, {_WORDS} AS w FROM dv),
st AS (
  SELECT doc_id, CAST(s AS INT) AS s,
         array_to_string(list_slice(w, s + 1, s + 8), ' ') AS g
  FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS s FROM w WHERE len(w) >= 8)
),
pg AS (
  SELECT g FROM (SELECT DISTINCT g, doc_id FROM st)
  GROUP BY g HAVING count(*) >= 2
),
d AS (SELECT st.doc_id, st.s FROM st JOIN pg USING (g)),
i AS (
  SELECT doc_id, s,
         CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY s) IS NULL
              OR s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) > 8
              THEN 1 ELSE 0 END AS brk
  FROM d
),
gs AS (
  SELECT doc_id, s,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM i
),
sp AS (
  SELECT doc_id, max(s) + 8 - min(s) AS span_tokens
  FROM gs GROUP BY doc_id, grp
),
pd AS (SELECT doc_id, sum(span_tokens) AS dup_tokens FROM sp GROUP BY 1)
SELECT w.doc_id, CAST(len(w.w) AS INT) AS n_tokens,
       CAST(coalesce(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       floor(coalesce(pd.dup_tokens, 0) * 1.0 / greatest(len(w.w), 1)
             * 10000 + 0.5) / 10000 AS dup_frac
FROM w LEFT JOIN pd ON w.doc_id = pd.doc_id
"""
    # sliding-window duplicated spans over the dup-injected view: the
    # oracle groups by raw gram content (no hash), islands via
    # lag/running-sum per doc
    out["dup_spans"] = f"""
WITH dv AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
),
w AS (SELECT doc_id, {_WORDS} AS w FROM dv),
st AS (
  SELECT doc_id, CAST(s AS INT) AS s,
         array_to_string(list_slice(w, s + 1, s + 8), ' ') AS g
  FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS s FROM w WHERE len(w) >= 8)
),
pg AS (
  SELECT g FROM (SELECT DISTINCT g, doc_id FROM st)
  GROUP BY g HAVING count(*) >= 2
),
d AS (SELECT st.doc_id, st.s FROM st JOIN pg USING (g)),
i AS (
  SELECT doc_id, s,
         CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY s) IS NULL
              OR s - lag(s) OVER (PARTITION BY doc_id ORDER BY s) > 8
              THEN 1 ELSE 0 END AS brk
  FROM d
),
gs AS (
  SELECT doc_id, s,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM i
)
SELECT doc_id, CAST(min(s) AS INT) AS span_start,
       CAST(max(s) + 8 AS INT) AS span_end,
       CAST(max(s) + 8 - min(s) AS INT) AS span_tokens
FROM gs GROUP BY doc_id, grp
"""
    # sameAs refresh: the %10==1 docs merge into their even partners
    # (component = min uri of the pair), the pair's lang prop is last-
    # wins by canonical order (the odd doc's path sorts later), and the
    # sameAs rows leave no uri behind
    out["kg_sameas_refresh"] = f"""
SELECT '{DOC}' || d.doc_id AS uri, 1 AS n_props,
       coalesce(d2.lang, d.lang) AS lang_val
FROM documents d
LEFT JOIN documents d2 ON d2.doc_id = d.doc_id + 1 AND d.doc_id % 10 = 0
WHERE d.doc_id % 10 <> 1
"""
    out["kg_edges"] = f"""
SELECT '{DOC}' || doc_id AS src, '{VOC}source' AS rel, '{DOC}src/' || source AS dst FROM documents
"""
    out["kg_shorten"] = f"""
SELECT * FROM (VALUES
  ('{RDFT}', 'rdf__type'),
  ('{VOC}text', 'ns0__text'),
  ('{VOC}lang', 'ns0__lang'),
  ('{VOC}source', 'ns0__source'),
  ('{VOC}nchars', 'ns0__nchars')
) AS t(predicate, pred_short)
"""
    out["kg_sameas_cc"] = f"""
SELECT '{DOC}' || doc_id AS uri,
       '{DOC}' || (doc_id - doc_id % 5) AS component
FROM documents
"""
    out["kg_typed_literals"] = """
SELECT event_id, value AS value_double, 'DOUBLE' AS vt_value,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, 'DATETIME' AS vt_ts
FROM events
"""
    out["kg_shacl"] = f"""
SELECT '{DOC}' || doc_id AS focus_node, 'MinCountConstraintComponent' AS component,
       '{VOC}long_text' AS result_path
FROM documents WHERE n_chars < 150
UNION ALL
SELECT '{DOC}' || doc_id, 'MaxInclusiveConstraintComponent', '{VOC}nchars'
FROM documents WHERE n_chars > 400
"""
    out["kg_shacl_delta"] = f"""
SELECT '{DOC}' || doc_id AS focus_node, 'MinCountConstraintComponent' AS component,
       '{VOC}long_text' AS result_path
FROM documents WHERE n_chars < 150 AND doc_id % 7 = 0
UNION ALL
SELECT '{DOC}' || doc_id, 'MaxInclusiveConstraintComponent', '{VOC}nchars'
FROM documents WHERE n_chars > 400 AND doc_id % 7 = 0
"""
    out["kg_export_nt"] = f"""
SELECT '<{DOC}' || doc_id || '> <{RDFT}> <{VOC}Document> .' AS line FROM documents
UNION ALL SELECT '<{DOC}' || doc_id || '> <{VOC}lang> "' || lang || '" .' FROM documents
UNION ALL SELECT '<{DOC}' || doc_id || '> <{VOC}nchars> "' || n_chars || '"^^<{XSD}integer> .' FROM documents
UNION ALL SELECT '<{DOC}' || doc_id || '> <{VOC}text> "' || text || '" .' FROM documents
UNION ALL SELECT '<{DOC}' || doc_id || '> <{VOC}source> <{DOC}src/' || source || '> .' FROM documents
"""
    out["orders_rdf"] = f"""
SELECT 'http://example.org/order/' || o_orderkey AS subject, '{RDFT}' AS predicate,
       '{VOC}Order' AS object, false AS is_literal FROM orders
UNION ALL SELECT 'http://example.org/order/' || o_orderkey, '{VOC}status', o_orderstatus, true FROM orders
UNION ALL SELECT 'http://example.org/order/' || o_orderkey, '{VOC}priority', o_orderpriority, true FROM orders
UNION ALL SELECT 'http://example.org/order/' || o_orderkey, '{VOC}customer',
       'http://example.org/cust/' || o_custkey, false FROM orders
"""
    out["dedup_exact_kept"] = "SELECT min(doc_id) AS doc_id FROM documents GROUP BY text"
    # dup-injected view: every doc_id % 10 == 0 document reappears twice
    # under new ids, so the groups result is NON-empty at every sf (the
    # raw corpus has no exact dups at sf0.01 and a 0-row pass proves
    # nothing). sha256 = the engine-wide exact-dup identity.
    out["dedup_exact_groups"] = """
WITH dup_view AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 20000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
SELECT sha256(text) AS text_hash, count(*) AS cnt, min(doc_id) AS keep_id
FROM dup_view GROUP BY sha256(text) HAVING count(*) > 1
"""
    out["dedup_minhash_lsh"] = _minhash_sql()
    out["dedup_clusters"] = _dedup_clusters_sql()
    # quality-based rep election: the clustering replay + highest-score
    # (ties → min id) winner per cluster
    out["cluster_reps"] = f"""
WITH RECURSIVE {_minhash_ctes()},
sym AS (
  SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a
),
comp AS (
  SELECT a AS doc_id, least(min(b), a) AS cluster_id FROM reach GROUP BY a
),
cl AS (
  SELECT d.doc_id,
         CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
         CAST(d.n_chars AS DOUBLE) AS score
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY score DESC, doc_id ASC) AS rn
  FROM cl
)
SELECT doc_id, cluster_id, score,
       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS is_rep
FROM r
"""
    out["dedup_simhash"] = _simhash_sql()
    out["dedup_jaccard"] = _jaccard_sql()
    out["ann_topk"] = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
), s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         floor(list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
               * 10000 + 0.5) / 10000 AS score
  FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id
), r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM s
)
SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
"""
    out["ann_lsh_buckets"] = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
)
SELECT vec_id, {_lsh_bucket_sql('v', 8, band=0)} AS bucket FROM e
"""
    out["ann_ivf"] = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), c AS (
  SELECT vec_id AS centroid_id, v AS cvec
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
), scored AS (
  SELECT e.vec_id, c.centroid_id,
         floor(sqrt(list_sum(list_transform(generate_series(1, len(e.v)),
               j -> (e.v[j] - c.cvec[j]) * (e.v[j] - c.cvec[j])))) * 10000 + 0.5) / 10000 AS dist
  FROM e CROSS JOIN c
), r AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS rn
  FROM scored
)
SELECT vec_id, centroid_id, dist FROM r WHERE rn = 1
"""
    out["lang_id"] = _lang_id_sql()
    out["text_quality"] = _quality_sql()
    out["token_counts"] = f"""
WITH words AS (
  SELECT doc_id, text, {_WORDS} AS w FROM documents
)
SELECT doc_id, len(w) AS ws_tokens,
  CAST(list_sum(list_transform(w, t -> CAST(ceil(length(t) / 4.0) AS INT)))
       + (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) AS INT) AS bpe_ish_tokens
FROM words
"""
    out["fingerprints"] = f"""
WITH words AS (
  SELECT doc_id, {_WORDS} AS w FROM documents
), sh AS (
  SELECT doc_id, w, {_SHINGLES} AS shingles FROM words
)
SELECT doc_id, md5(array_to_string(w, ' ')) AS exact_fp,
       array_to_string(list_sort(list_transform(shingles, s -> md5(s)))[1:4], '') AS shingle_fp
FROM sh
"""
    out["text_chunks"] = f"""
WITH w0 AS (
  SELECT doc_id, list_filter({_WORDS}, t -> t <> '') AS w FROM documents
), n AS (
  SELECT doc_id, w, greatest(1, CAST(ceil((len(w) - 5) / 15.0) AS INT)) AS nc FROM w0
), c AS (
  SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS chunk_idx FROM n
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(w[chunk_idx * 15 + 1 : chunk_idx * 15 + 20], ' ') AS chunk_text,
       CAST(len(w[chunk_idx * 15 + 1 : chunk_idx * 15 + 20]) AS INT) AS n_tokens
FROM c
"""
    _PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    _PII_URL = r"https?://[^\s]+"
    _PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    out["pii_redact"] = f"""
WITH injected AS (
  SELECT doc_id,
         text || ' contact doc' || doc_id || '@example.com via https://ex.org/d/' || doc_id
              || CASE WHEN doc_id % 3 = 0 THEN ' from 10.0.0.' || (doc_id % 256) ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(t,
         '{_PII_URL}', '<URL>', 'g'),
         '{_PII_EMAIL}', '<EMAIL>', 'g'),
         '{_PII_IP}', '<IP>', 'g') AS redacted,
       CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PII_URL}')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS INT) AS n_ips
FROM injected
"""
    out["iri_functions"] = _doc_triples_nt_sql(
        """
SELECT DISTINCT predicate,
  regexp_extract(predicate, '^(.*[#/])([^#/]*)$', 1) AS ns,
  regexp_extract(predicate, '^(.*[#/])([^#/]*)$', 2) AS local
FROM t
"""
    )
    out["literal_functions"] = f"""
SELECT doc_id, CAST(n_chars AS VARCHAR) AS v1, '{XSD}integer' AS dt1,
       source AS v2, lang AS tag2
FROM documents
"""
    out["inference_nodes"] = """
SELECT 'http://example.org/cust/' || c_custkey AS uri
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
"""
    out["inference_categories"] = """
SELECT 'http://example.org/cust/' || c_custkey AS uri,
       (r_name = 'ASIA') AS in_category
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""
    out["skos_route"] = """
SELECT DISTINCT n_name AS src, 'SCO' AS rel, r_name AS dst
FROM nation JOIN region ON n_regionkey = r_regionkey
"""
    out["di_model"] = f"""
WITH n AS (
  SELECT replace(n_name, ' ', '_') AS nm, replace(r.r_name, ' ', '_') AS dom,
         replace(r2.r_name, ' ', '_') AS rng
  FROM nation
  JOIN region r ON n_regionkey = r.r_regionkey
  JOIN region r2 ON n_nationkey % 5 = r2.r_regionkey
)
SELECT 'node' AS element, 'http://o/C_' || replace(r_name, ' ', '_') AS name,
       CAST(NULL AS VARCHAR) AS src, CAST(NULL AS VARCHAR) AS dst
FROM region
UNION ALL
SELECT 'relationship', 'http://o/rel_' || nm, 'http://o/C_' || dom, 'http://o/C_' || rng FROM n
UNION ALL
SELECT 'property', 'http://o/p_' || nm, 'http://o/C_' || dom, '{XSD}string' FROM n
"""
    out["skos_xl"] = """
SELECT 'http://example.org/concept/' || doc_id AS concept,
       'http://www.w3.org/2004/02/skos/core#prefLabel' AS prop,
       'pref-' || doc_id AS value
FROM documents
UNION ALL
SELECT 'http://example.org/concept/' || doc_id,
       'http://www.w3.org/2008/05/skos-xl#altLabel', lang
FROM documents
"""
    out["kg_json_tree"] = """
WITH b AS (
  SELECT doc_id, lang, n_chars, source,
         'j/' || doc_id || '.json' AS path,
         'bnode://' || substr(sha256('org/docs|j/' || doc_id || '.json|' || repeat('0', 40) || '|j_src'), 1, 32) AS bn,
         'http://example.org/container/j/' || doc_id || '.json' AS root
  FROM documents
)
SELECT path, root AS subject, 'http://example.org/json#lang' AS predicate, lang AS object, true AS is_literal FROM b
UNION ALL SELECT path, root, 'http://example.org/json#chars', CAST(n_chars AS VARCHAR), true FROM b
UNION ALL SELECT path, root, 'http://example.org/json#src', bn, false FROM b
UNION ALL SELECT path, bn, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'http://example.org/json#Src', false FROM b
UNION ALL SELECT path, bn, 'http://example.org/json#name', source, true FROM b
"""
    # datasets.py curation ops — tokenization mirrored exactly:
    # lower → non-alnum runs to ' ' → trim → split → drop empties;
    # 4-gram window i in [1, len-3], slice toks[i : i+3] (4 elems)
    out["decontam"] = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     t -> t <> '') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 2),
                               i -> array_to_string(toks[i:i+3], ' '))) AS shingle
  FROM tok WHERE len(toks) >= 4
), train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 100 <> 0),
   bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 100 = 0)
SELECT t.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS shared_shingles
FROM train t JOIN bench b USING (shingle)
GROUP BY t.doc_id
"""
    # md5-prefix cutoffs from split_thresholds({.9,.05,.05}, 4):
    # 0.90*65536=58982=0xe666, 0.95*65536=62259=0xf333
    out["hash_split"] = """
SELECT doc_id,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""
    # en 0.25→0x4000, de 0.5→0x8000, default 0.1→round(6553.6)=0x199a
    out["stratified_sample"] = """
SELECT doc_id, lang FROM documents
WHERE (lang = 'de' AND substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
   OR (lang = 'en' AND substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < '4000')
   OR (lang NOT IN ('de', 'en')
       AND substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 4) < '199a')
"""
    # Okapi BM25 (Lucene idf variant), k1=1.2 b=0.75; score rounded with
    # the same portable floor(x*1e4+0.5)/1e4 BEFORE ranking so the rank
    # boundary is engine-deterministic
    out["bm25_search"] = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     t -> t <> '') AS toks
  FROM documents
), dl AS (SELECT doc_id, len(toks) AS dl FROM tok),
   stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
   tf AS (
  SELECT doc_id, t AS term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok, unnest(toks) AS u(t)
  WHERE t IN ('dup', 'merge', 'window')
  GROUP BY 1, 2
), dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
   scored AS (
  SELECT tf.doc_id,
         floor(sum( ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) ) * 10000 + 0.5) / 10000 AS score
  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id
)
SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10
"""
    out["top_ngrams"] = """
WITH tok AS (
  SELECT list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     t -> t <> '') AS toks
  FROM documents
), g AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS ngram
  FROM tok WHERE len(toks) >= 2
)
SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
FROM g GROUP BY ngram
ORDER BY cnt DESC, ngram ASC LIMIT 20
"""
    # truncation-injected containment view; same shingle machinery as
    # _jaccard_sql, ratios |A∩B|/|A| and /|B| instead of the union
    out["dedup_containment"] = f"""
WITH dv AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 40000000 AS doc_id,
         array_to_string(w[1:greatest(5, len(w) // 2)], ' ') AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents WHERE doc_id % 7 = 0)
), words AS (
  SELECT doc_id, {_WORDS} AS w FROM dv
), sh AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM words
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), pc AS (
  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS common
  FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
)
SELECT a, b,
       floor(common / sa.sz * 10000 + 0.5) / 10000 AS cont_a,
       floor(common / sb.sz * 10000 + 0.5) / 10000 AS cont_b
FROM pc JOIN sizes sa ON pc.a = sa.doc_id JOIN sizes sb ON pc.b = sb.doc_id
WHERE greatest(floor(common / sa.sz * 10000 + 0.5) / 10000,
               floor(common / sb.sz * 10000 + 0.5) / 10000) >= 0.9
"""
    # chunk-level boilerplate over the truncation-injected view: chunks
    # are 8 non-overlapping lowered-whitespace tokens; shared = present
    # in >1 distinct doc
    out["chunk_dup_stats"] = """
WITH dv AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 40000000 AS doc_id,
         array_to_string(w[1:greatest(5, len(w) // 2)], ' ') AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents WHERE doc_id % 7 = 0)
), tok AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM dv
), nch AS (
  SELECT doc_id, w, greatest(1, CAST(ceil(len(w) / 8.0) AS INT)) AS nc FROM tok
), ch AS (
  SELECT doc_id, array_to_string(w[(i*8 + 1):(i*8 + 8)], ' ') AS chunk_text
  FROM nch, unnest(range(0, nc)) AS g(i)
), per_chunk AS (
  SELECT chunk_text, count(DISTINCT doc_id) AS n_docs FROM ch GROUP BY 1
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN p.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_chunks,
       floor(sum(CASE WHEN p.n_docs > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000 AS dup_chunk_frac
FROM ch c JOIN per_chunk p USING (chunk_text)
GROUP BY c.doc_id
"""
    # chunk-level dedup action: each chunk content survives only in its
    # min-id document; docs re-assembled from kept chunks in index order
    # raw-span chunking replica: segments = word + trailing whitespace
    # (leading ws folded into segment 1), matching on the normalized
    # chunk, re-assembly by '' concat of kept raw spans; docs over 60
    # segments bypass as passthrough rows
    out["dedup_chunks"] = """
WITH dv AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 40000000 AS doc_id,
         array_to_string(w[1:greatest(5, len(w) // 2)], ' ') AS text
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents WHERE doc_id % 7 = 0)
), seg AS (
  SELECT doc_id, text,
         CASE WHEN len(s0) = 0 THEN [text]
              ELSE list_prepend(lead || s0[1], s0[2:]) END AS s
  FROM (SELECT doc_id, text,
               regexp_extract_all(text, '\\S+\\s*') AS s0,
               regexp_extract(text, '^\\s*') AS lead
        FROM dv)
), gated AS (SELECT doc_id, text, s, len(s) > 60 AS over FROM seg),
   nch AS (
  SELECT doc_id, s, greatest(1, CAST(ceil(len(s) / 8.0) AS INT)) AS nc
  FROM gated WHERE NOT over
), ch AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(s[(i*8 + 1):(i*8 + 8)], '') AS chunk_raw
  FROM nch, unnest(range(0, nc)) AS g(i)
), chn AS (
  SELECT doc_id, chunk_idx, chunk_raw,
         array_to_string(list_filter(string_split_regex(trim(lower(chunk_raw)), '\\s+'),
                                     t -> t <> ''), ' ') AS chunk_norm
  FROM ch
), fst AS (SELECT chunk_norm, min(doc_id) AS first_doc FROM chn GROUP BY 1),
   tot AS (SELECT doc_id, count(*) AS n_total FROM chn GROUP BY 1),
   kept AS (
  SELECT c.doc_id, c.chunk_idx, c.chunk_raw
  FROM chn c JOIN fst f USING (chunk_norm) WHERE c.doc_id = f.first_doc
), reb AS (
  SELECT doc_id, string_agg(chunk_raw, '' ORDER BY chunk_idx) AS text_deduped,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(r.text_deduped, '') AS text_deduped,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_chunks_kept,
       CAST(t.n_total - coalesce(r.n_kept, 0) AS BIGINT) AS n_chunks_dropped,
       FALSE AS passthrough
FROM tot t LEFT JOIN reb r USING (doc_id)
UNION ALL
SELECT doc_id, text AS text_deduped, CAST(0 AS BIGINT) AS n_chunks_kept,
       CAST(0 AS BIGINT) AS n_chunks_dropped, TRUE AS passthrough
FROM gated WHERE over
"""
    # Gopher-style repetition metrics: max(cnt*len)/sum(cnt*len) over word
    # bigrams, duplicated-trigram char share; round4-portable
    out["repetition_features"] = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     t -> t <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, 2 AS n,
         unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
  FROM tok WHERE len(toks) >= 2
  UNION ALL
  SELECT doc_id, 3,
         unnest(list_transform(range(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
  FROM tok WHERE len(toks) >= 3
), c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3)
SELECT doc_id,
  floor(max(CASE WHEN n = 2 THEN cnt * length(gram) END)
        / sum(CASE WHEN n = 2 THEN cnt * length(gram) END) * 10000 + 0.5) / 10000
    AS top_bigram_char_frac,
  floor(coalesce(sum(CASE WHEN n = 3 AND cnt > 1 THEN cnt * length(gram) END), 0)
        / sum(CASE WHEN n = 3 THEN cnt * length(gram) END) * 10000 + 0.5) / 10000
    AS dup_trigram_char_frac
FROM c GROUP BY doc_id
"""
    # en 6000 / de 2500 token budgets, zh uncapped; floor-based cutoffs
    # derived from the same per-stratum token totals in both engines
    out["token_budget_sample"] = """
WITH tok AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                         t -> t <> '')) AS ntok
  FROM documents
), tot AS (SELECT lang, CAST(sum(ntok) AS DOUBLE) AS tot FROM tok GROUP BY lang),
   pfx AS (
  SELECT d.doc_id, d.lang, t.tot,
         substr(md5(d.lang || ':' || CAST(d.doc_id AS VARCHAR)), 1, 4) AS p
  FROM documents d JOIN tot t USING (lang)
)
SELECT doc_id, lang FROM pfx
WHERE (lang = 'en' AND (6000 >= tot OR p < printf('%04x', CAST(greatest(1, floor(6000 / tot * 65536)) AS BIGINT))))
   OR (lang = 'de' AND (2500 >= tot OR p < printf('%04x', CAST(greatest(1, floor(2500 / tot * 65536)) AS BIGINT))))
   OR (lang = 'zh' AND (1000000 >= tot OR p < printf('%04x', CAST(greatest(1, floor(1000000 / tot * 65536)) AS BIGINT))))
"""
    # temperature mixing: replay the alpha=0.5 budget formula (sqrt is
    # IEEE-correctly-rounded — bit-identical across engines) and the
    # same floor-clamped md5 cutoffs as token_budget_sample.
    out["temperature_mix"] = """
WITH tok AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                         t -> t <> '')) AS ntok
  FROM documents
), tot AS (SELECT lang, CAST(sum(ntok) AS DOUBLE) AS tot FROM tok GROUP BY lang),
   z AS (SELECT sum(sqrt(tot)) AS z FROM tot),
   bud AS (SELECT lang, tot, 8000 * sqrt(tot) / z AS budget FROM tot CROSS JOIN z),
   pfx AS (
  SELECT d.doc_id, d.lang, b.tot, b.budget,
         substr(md5(d.lang || ':' || CAST(d.doc_id AS VARCHAR)), 1, 4) AS p
  FROM documents d JOIN bud b USING (lang)
)
SELECT doc_id, lang FROM pfx
WHERE budget >= tot
   OR p < printf('%04x', CAST(greatest(1, floor(budget / tot * 65536)) AS BIGINT))
"""
    # soft quality sampling: per-row numeric md5-prefix threshold
    # (0x-cast == Spark conv(...,16,10)); keep_prob formula mirrored
    # operation-for-operation so the double math is engine-identical.
    out["quality_sample"] = """
SELECT doc_id, n_chars FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
      < (0.1 + 0.9 * least(1.0, greatest(0.0, (n_chars - 100.0) / 300.0))) * 65536
"""
    # sequence packing: portable md5 shard hash + per-shard running-sum
    # window, exactly the Spark plan's shape.
    out["pack_sequences"] = """
WITH tok AS (
  SELECT doc_id,
         len(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                         t -> t <> '')) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
), t AS (
  SELECT doc_id, n_tokens, h,
         CAST(CAST('0x' || substr(h, 1, 8) AS BIGINT) % 4 AS INT) AS shard
  FROM tok WHERE n_tokens > 0
), c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS st
  FROM t
)
SELECT doc_id, shard, CAST(n_tokens AS INT) AS n_tokens,
       CAST(floor(st / 256.0) AS BIGINT) AS seq_id,
       CAST(st % 256 AS BIGINT) AS seq_offset
FROM c
"""
    # embedding-space decontamination: bench = vec_id % 20 == 0,
    # max cosine + hit count per training vector above 0.35
    out["semantic_decontam"] = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), b AS (SELECT vec_id AS bid, v AS bv FROM e WHERE vec_id % 20 = 0),
   t AS (SELECT vec_id, v FROM e WHERE vec_id % 20 <> 0),
   sc AS (
  SELECT t.vec_id,
         floor(list_dot_product(t.v, b.bv)
               / (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(b.bv, b.bv)))
               * 10000 + 0.5) / 10000 AS cos
  FROM t CROSS JOIN b
)
SELECT vec_id, max(cos) AS max_bench_cosine, CAST(count(*) AS BIGINT) AS n_bench_hits
FROM sc WHERE cos >= 0.35 GROUP BY vec_id
"""
    # LSH-prefiltered decontamination: replay the identical hyperplane
    # bucketing (nbits=4, bands 0/1), Hamming-radius-1 multi-probe on the
    # bench side, (band, bucket) candidate equi-join, exact-cosine verify.
    _flips = ", ".join(
        f"substr(bucket, 1, {i - 1}) || (CASE WHEN substr(bucket, {i}, 1) = '1' "
        f"THEN '0' ELSE '1' END) || substr(bucket, {i + 1}, {4 - i})"
        for i in range(1, 5)
    )
    out["semantic_decontam_lsh"] = f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), b0 AS MATERIALIZED (SELECT vec_id AS bid, v AS bv FROM e WHERE vec_id % 20 = 0),
   t0 AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id % 20 <> 0),
   tb AS (
  SELECT vec_id, 0 AS band, {_lsh_bucket_sql('v', 4, band=0)} AS bucket FROM t0
  UNION ALL
  SELECT vec_id, 1 AS band, {_lsh_bucket_sql('v', 4, band=1)} AS bucket FROM t0
), bb AS (
  SELECT bid, 0 AS band, {_lsh_bucket_sql('bv', 4, band=0)} AS bucket FROM b0
  UNION ALL
  SELECT bid, 1 AS band, {_lsh_bucket_sql('bv', 4, band=1)} AS bucket FROM b0
), probes AS (
  SELECT DISTINCT bid, band, p AS bucket
  FROM bb, unnest([bucket, {_flips}]) AS u(p)
), cand AS (
  SELECT DISTINCT tb.vec_id, probes.bid
  FROM tb JOIN probes ON tb.band = probes.band AND tb.bucket = probes.bucket
), sc AS (
  SELECT cand.vec_id,
         floor(list_dot_product(t0.v, b0.bv)
               / (sqrt(list_dot_product(t0.v, t0.v)) * sqrt(list_dot_product(b0.bv, b0.bv)))
               * 10000 + 0.5) / 10000 AS cos
  FROM cand JOIN t0 ON cand.vec_id = t0.vec_id JOIN b0 ON cand.bid = b0.bid
)
SELECT vec_id, max(cos) AS max_bench_cosine, CAST(count(*) AS BIGINT) AS n_bench_hits
FROM sc WHERE cos >= 0.35 GROUP BY vec_id
"""
    out["embedding_near_dups"] = f"""
WITH e0 AS (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), e AS (
  SELECT id, v, list_transform(v, x -> x / nrm) AS nv
  FROM (SELECT id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e0)
), b AS (
  SELECT id, nv, 0 AS band, {_lsh_bucket_sql('v', 4, band=0)} AS bucket FROM e
  UNION ALL
  SELECT id, nv, 1 AS band, {_lsh_bucket_sql('v', 4, band=1)} AS bucket FROM e
), s AS (
  SELECT DISTINCT l.id AS a, r.id AS b,
         floor(list_dot_product(l.nv, r.nv) * 10000 + 0.5) / 10000 AS score
  FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
)
SELECT a, b, score FROM s WHERE score >= 0.5
"""
    out["corpus_profile"] = f"""
WITH r AS (
  SELECT lang, source, length(text) AS c, len({_WORDS}) AS t, text
  FROM documents
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
       floor((count(*) - count(DISTINCT text)) * 1.0 / count(*) * 10000 + 0.5)
       / 10000 AS dup_ratio,
       CAST(sum(c) AS BIGINT) AS total_chars,
       CAST(sum(t) AS BIGINT) AS total_tokens,
       floor(sum(t) * 1.0 / count(*) * 10000 + 0.5) / 10000 AS avg_tokens,
       CAST(min(c) AS BIGINT) AS min_chars,
       CAST(max(c) AS BIGINT) AS max_chars
FROM r GROUP BY 1, 2
"""
    # SemDeDup action: the embedding_near_dups pair replay + recursive
    # transitive closure (the dedup_clusters shape) + min-id rep flag.
    out["semantic_dedup"] = f"""
WITH RECURSIVE e0 AS (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), e AS (
  SELECT id, v, list_transform(v, x -> x / nrm) AS nv
  FROM (SELECT id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e0)
), b AS MATERIALIZED (
  SELECT id, nv, 0 AS band, {_lsh_bucket_sql('v', 4, band=0)} AS bucket FROM e
  UNION ALL
  SELECT id, nv, 1 AS band, {_lsh_bucket_sql('v', 4, band=1)} AS bucket FROM e
), s AS MATERIALIZED (
  SELECT DISTINCT l.id AS a, r.id AS b,
         floor(list_dot_product(l.nv, r.nv) * 10000 + 0.5) / 10000 AS score
  FROM b l JOIN b r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
), pr AS (SELECT a, b FROM s WHERE score >= 0.5),
sym AS (SELECT a, b FROM pr UNION SELECT b AS a, a AS b FROM pr),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a WHERE s2.b <> r.a
),
comp AS (SELECT a AS vec_id, least(min(b), a) AS cluster_id FROM reach GROUP BY a)
SELECT v.vec_id,
       CAST(coalesce(c.cluster_id, v.vec_id) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN coalesce(c.cluster_id, v.vec_id) = v.vec_id
                 THEN 1 ELSE 0 END AS INT) AS is_rep
FROM embeddings v LEFT JOIN comp c USING (vec_id)
"""
    # cluster-balanced sampling: the ann_ivf assignment replay + integer
    # per-cluster cutoffs (target*16^digits // n, >= 1, 'ffffg' sentinel
    # for keep-all) + the md5(cluster:id) threshold predicate.
    out["cluster_sample"] = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
), c AS (
  SELECT vec_id AS centroid_id, v AS cvec
  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
), scored AS (
  SELECT e.vec_id, c.centroid_id,
         floor(sqrt(list_sum(list_transform(generate_series(1, len(e.v)),
               j -> (e.v[j] - c.cvec[j]) * (e.v[j] - c.cvec[j])))) * 10000 + 0.5) / 10000 AS dist
  FROM e CROSS JOIN c
), r AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS rn
  FROM scored
), a AS (SELECT vec_id, centroid_id FROM r WHERE rn = 1),
   sz AS (SELECT centroid_id, count(*) AS n FROM a GROUP BY centroid_id),
   cuts AS (
  SELECT centroid_id,
         CASE WHEN n <= 20 THEN 'ffffg'
              ELSE printf('%04x', greatest(1, (20 * 65536) // n)) END AS cut
  FROM sz
)
SELECT a.vec_id, a.centroid_id
FROM a JOIN cuts USING (centroid_id)
WHERE substr(md5(CAST(a.centroid_id AS VARCHAR) || ':' || CAST(a.vec_id AS VARCHAR)), 1, 4)
      < cut
"""
    out["sco_closure"] = """
WITH RECURSIVE edges AS (
  SELECT 'cat' || doc_id AS src, 'cat' || CAST(doc_id // 2 AS VARCHAR) AS dst
  FROM documents WHERE doc_id BETWEEN 1 AND 63
), nodes AS (
  SELECT src AS n FROM edges UNION SELECT dst FROM edges
), clo AS (
  SELECT n AS descendant, n AS ancestor FROM nodes
  UNION
  SELECT e.src, c.ancestor
  FROM edges e JOIN clo c ON e.dst = c.descendant
)
SELECT descendant, ancestor FROM clo
"""
    return out
