"""Graph materialization semantics: vocab modes, multival, rdf:type
routing, RDF-star rel props, CC canonicalization.

Mirrors the reference's count+spot-check style (RDFProceduresTest
multival :1285-1356, SHORTEN/KEEP/IGNORE :880-935, rdf-star :727-782)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from neosemantics_spark.config import (
    ARRAY,
    IGNORE,
    KEEP,
    LABELS_AND_NODES,
    NODES,
    SHORTEN,
    GraphConfig,
)
from neosemantics_spark.operators.cc import canonical_map, canonicalize_triples
from neosemantics_spark.operators.materialize import materialize, transform_triples
from neosemantics_spark.operators.prefixes import build_prefix_map, collect_namespaces
from neosemantics_spark.pipeline import import_rdf
from neosemantics_spark.sources.datagen import fixture_corpus
from neosemantics_spark.sources.parse import extract_triples


@pytest.fixture(scope="module")
def raw(spark):
    return extract_triples(fixture_corpus(spark)).cache()


def _props(nodes_pdf, uri):
    row = nodes_pdf[nodes_pdf.uri == uri]
    assert len(row) == 1, f"{uri}: {len(row)} rows"
    return row.iloc[0]["props"]


def test_keep_overwrite(spark, raw):
    cfg = GraphConfig(handle_vocab_uris=KEEP)
    t = transform_triples(raw, cfg)
    tables = materialize(t, cfg)
    nodes = tables.nodes.toPandas()
    p = _props(nodes, "http://example.org/item1")
    # OVERWRITE: last value in canonical statement order wins — including
    # a re-occurrence of an earlier value (reference overwrites per
    # statement, RDFToLPGStatementProcessor.java:346-349)
    assert p["http://example.org/weight"] == "12"
    assert p["http://example.org/tag"] == "a"  # last of a,b,a
    # untagged name: two lang values, keepLangTag=False strips tags, last wins
    assert p["http://example.org/name"] == "premier"


def test_array_mode_dedup(spark, raw):
    cfg = GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY)
    tables = materialize(transform_triples(raw, cfg), cfg)
    p = _props(tables.nodes.toPandas(), "http://example.org/item1")
    # set-dedup, first-occurrence order (DirectStatementLoader.java:161-211)
    assert p["http://example.org/tag"] == '["a","b"]'
    assert p["http://example.org/weight"] == '["10","12"]'


def test_multival_prop_list(spark, raw):
    cfg = GraphConfig(
        handle_vocab_uris=KEEP,
        handle_multival=ARRAY,
        multival_prop_list=["http://example.org/tag"],
    )
    tables = materialize(transform_triples(raw, cfg), cfg)
    p = _props(tables.nodes.toPandas(), "http://example.org/item1")
    assert p["http://example.org/tag"] == '["a","b"]'
    assert p["http://example.org/weight"] == "12"  # not in list → OVERWRITE


def test_keep_lang_tag(spark, raw):
    cfg = GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY, keep_lang_tag=True)
    tables = materialize(transform_triples(raw, cfg), cfg)
    p = _props(tables.nodes.toPandas(), "http://example.org/doc")
    assert p["http://example.org/label"] == '["hello@en","hola@es","plain"]'


def test_language_filter(spark, raw):
    cfg = GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY, language_filter="es")
    tables = materialize(transform_triples(raw, cfg), cfg)
    p = _props(tables.nodes.toPandas(), "http://example.org/doc")
    assert p["http://example.org/label"] == '["hola","plain"]'


def test_shorten_mode(spark, raw):
    cfg = GraphConfig(handle_vocab_uris=SHORTEN)
    ns = build_prefix_map(collect_namespaces(raw))
    tables = materialize(transform_triples(raw, cfg, ns), cfg)
    nodes = tables.nodes.toPandas()
    p = _props(nodes, "http://example.org/item1")
    # example.org gets a generated nsN prefix, deterministic by sort order
    keys = set(p.keys())
    assert any(k.endswith("__weight") and k.startswith("ns") for k in keys)
    # standard namespaces use well-known prefixes: rdfs__label from frag.rdf
    p2 = _props(nodes, "http://example.org/thing1")
    assert any(k == "rdfs__label" for k in p2.keys())
    # labels shortened too
    row = nodes[nodes.uri == "http://example.org/thing1"].iloc[0]
    assert any("__Thing" in l for l in row["labels"])


def test_ignore_mode(spark, raw):
    cfg = GraphConfig(handle_vocab_uris=IGNORE)
    tables = materialize(transform_triples(raw, cfg), cfg)
    p = _props(tables.nodes.toPandas(), "http://example.org/item1")
    assert "weight" in p and "name" in p


def test_custom_datatype(spark, raw):
    cfg = GraphConfig(
        handle_vocab_uris=SHORTEN, keep_custom_data_types=True
    )
    ns = build_prefix_map(collect_namespaces(raw))
    tables = materialize(transform_triples(raw, cfg, ns), cfg)
    p = _props(tables.nodes.toPandas(), "http://example.org/car")
    power = [v for k, v in p.items() if k.endswith("__power")][0]
    assert power.startswith("320^^") and "__horsepower" in power
    # without the flag: bare value
    cfg2 = GraphConfig(handle_vocab_uris=KEEP)
    t2 = materialize(transform_triples(raw, cfg2), cfg2)
    assert _props(t2.nodes.toPandas(), "http://example.org/car")[
        "http://example.org/power"
    ] == "320"


def test_rdf_type_routing(spark, raw):
    # LABELS (default): type → label, no edge
    cfg = GraphConfig(handle_vocab_uris=KEEP)
    tb = materialize(transform_triples(raw, cfg), cfg)
    row = tb.nodes.toPandas()
    item = row[row.uri == "http://example.org/thing1"].iloc[0]
    assert item["labels"] == ["http://example.org/Thing"]
    type_edges = tb.edges.filter(
        F.col("rel") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    ).count()
    assert type_edges == 0
    # NODES: type → edge, no label
    cfg_n = GraphConfig(handle_vocab_uris=KEEP, handle_rdf_types=NODES)
    tb_n = materialize(transform_triples(raw, cfg_n), cfg_n)
    assert (
        tb_n.edges.filter(
            F.col("rel") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        ).count()
        > 0
    )
    np = tb_n.nodes.toPandas()
    assert list(np[np.uri == "http://example.org/thing1"].iloc[0]["labels"]) == []
    # LABELS_AND_NODES: both
    cfg_b = GraphConfig(handle_vocab_uris=KEEP, handle_rdf_types=LABELS_AND_NODES)
    tb_b = materialize(transform_triples(raw, cfg_b), cfg_b)
    assert (
        tb_b.edges.filter(
            F.col("rel") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        ).count()
        > 0
    )
    nb = tb_b.nodes.toPandas()
    assert list(nb[nb.uri == "http://example.org/thing1"].iloc[0]["labels"]) == [
        "http://example.org/Thing"
    ]


def test_star_rel_props(spark, raw):
    cfg = GraphConfig(handle_vocab_uris=KEEP)
    tb = materialize(transform_triples(raw, cfg), cfg)
    e = tb.edges.filter(F.col("rel") == "http://example.org/memberOf").toPandas()
    assert len(e) == 1
    assert e.iloc[0]["props"] == {"http://example.org/from": "1960"}


def test_quad_identity(spark, raw):
    cfg = GraphConfig(handle_vocab_uris=KEEP)
    tb = materialize(transform_triples(raw, cfg), cfg)
    nodes = tb.nodes.toPandas()
    # ex:a from dataset.trig exists per-graph: default + g2 (props),
    # g1 (edge subject) — (uri, graph) composite identity
    a_rows = nodes[nodes.uri == "http://example.org/a"]
    assert len(a_rows) == 3
    graphs = sorted(g if g is not None else "" for g in a_rows.graph)
    assert graphs == ["", "http://example.org/g1", "http://example.org/g2"]


def test_typed_values(spark, raw):
    cfg = GraphConfig(handle_vocab_uris=KEEP)
    t = transform_triples(raw, cfg)
    dtrow = (
        t.filter(F.col("predicate") == "http://example.org/at")
        .select("value_type", "value_ts")
        .collect()[0]
    )
    assert dtrow["value_type"] == "DATETIME" and dtrow["value_ts"] is not None
    bad = (
        t.filter(F.col("object") == "not-a-date").select("value_type", "value_ts").collect()[0]
    )
    # unparseable dateTime degrades to string (DateUtils.java fallback)
    assert bad["value_type"] == "STRING" and bad["value_ts"] is None


def test_cc_canonicalization(spark, raw):
    comp = canonical_map(raw).toPandas()
    by_uri = dict(zip(comp.uri, comp.component))
    # chain a.org/e1 → b.org/e9 → c.org/e5 collapses to min uri
    assert by_uri["http://a.org/e1"] == "http://a.org/e1"
    assert by_uri["http://b.org/e9"] == "http://a.org/e1"
    assert by_uri["http://c.org/e5"] == "http://a.org/e1"
    assert by_uri["http://d.org/e8"] == "http://d.org/e7"
    # after canonicalization, props from all aliases land on the canon node
    cfg = GraphConfig(handle_vocab_uris=KEEP)
    t = transform_triples(raw, cfg)
    t = canonicalize_triples(t, canonical_map(raw))
    tb = materialize(t, cfg)
    p = _props(tb.nodes.toPandas(), "http://a.org/e1")
    assert p["http://example.org/name"] == "entity one"
    assert p["http://example.org/rank"] == "3"


def test_pipeline_facade(spark):
    res = import_rdf(fixture_corpus(spark), GraphConfig(handle_vocab_uris=KEEP))
    assert res.parse_errors == 1
    assert res.triples_parsed > 40
    assert res.tables.nodes.count() > 10
    assert res.tables.edges.count() > 5


def test_cc_fast_path_equals_distributed_loop(spark):
    """The small-graph union-find and the distributed hash-min loop give
    the same (uri, component) table on a chain, a hub and a lone pair; an
    edge with a null endpoint links nothing on either path."""
    from neosemantics_spark.operators.cc import connected_components

    chain = [(f"http://c/{i}", f"http://c/{i + 1}") for i in range(12)]
    hub = [("http://h/0", f"http://h/{i}") for i in range(1, 15)]
    edges = spark.createDataFrame(
        chain[::-1] + hub + [("http://z/b", "http://z/a"), ("http://n/a", None)],
        "a string, b string",
    )
    fast = connected_components(edges)
    loop = connected_components(edges, small_graph_limit=0)
    rows = lambda df: sorted(tuple(r) for r in df.select("uri", "component").collect())  # noqa: E731
    assert rows(fast) == rows(loop)
    got = dict(rows(fast))
    assert got["http://c/12"] == "http://c/0" and got["http://h/9"] == "http://h/0"
    assert got["http://z/b"] == "http://z/a" and len(got) == 13 + 15 + 2
    assert "http://n/a" not in got and None not in got


def test_cached_tables_are_computed_once(spark, raw):
    """materialize(..., cache_intermediate=True) persists nodes, edges and
    node_props: export reads them without a single exchange, and the SHACL
    plan reads nodes and edges as cached relations instead of re-deriving
    them from the triples."""
    from neosemantics_spark.operators.export import graph_to_triples
    from neosemantics_spark.plans.explain import exchange_count, physical_operators
    from neosemantics_spark.validation.shacl import ShaclValidator, compile_shapes

    cfg = GraphConfig(handle_vocab_uris=KEEP)
    tables = materialize(transform_triples(raw, cfg), cfg, cache_intermediate=True)
    export = graph_to_triples(tables, cfg)
    assert "InMemoryTableScan" in physical_operators(export)
    assert exchange_count(export) == 0, physical_operators(export)
    shapes = compile_shapes(
        """@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix foaf: <http://xmlns.com/foaf/0.1/> .
foaf:S a sh:NodeShape ; sh:targetClass foaf:Person ;
  sh:property [ sh:path foaf:knows ; sh:class foaf:Person ] .
"""
    )
    plan = ShaclValidator(tables).validate(shapes)._jdf.queryExecution().optimizedPlan()
    cached = [line for line in plan.toString().splitlines() if "InMemoryRelation" in line]
    assert any("labels#" in line for line in cached), plan.toString()[:2000]
    assert any("src#" in line and "dst#" in line for line in cached), plan.toString()[:2000]
