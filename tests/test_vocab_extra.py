"""MAP mode, applyNeo4jNaming, WKT points, strict datatype check,
shortform round-trip — the remaining vocab/datatype matrix cells
(RDFProceduresTest.java:880-935, 986-1115, 1674-1736, 2410-2525)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from neosemantics_spark.config import ARRAY, IGNORE, KEEP, MAP, GraphConfig
from neosemantics_spark.functions import full_uri_from_short_form, short_form_from_full_uri
from neosemantics_spark.operators.materialize import materialize, transform_triples
from neosemantics_spark.operators.prefixes import (
    build_prefix_map,
    expand_short_form,
    local_name_of,
    namespace_of,
    shorten_expr,
    shorten_iri,
)
from neosemantics_spark.sources.parse import extract_triples

TTL = """@prefix ex: <http://example.org/> .
@prefix geo: <http://www.opengis.net/ont/geosparql#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:place a ex:City ;
  ex:located_in ex:country1 ;
  ex:name "Springfield" ;
  ex:point "Point(1.5 -2.25 10)"^^geo:wktLiteral ;
  ex:mixed "7"^^xsd:integer ;
  ex:mixed "not a number" .
"""


@pytest.fixture(scope="module")
def raw(spark):
    src = spark.createDataFrame(
        pd.DataFrame(
            [{"repo": "r", "path": "p.ttl", "commit": "c" * 40, "lang": "Turtle", "content": TTL}]
        )
    )
    return extract_triples(src).cache()


def test_map_mode_with_fallback(spark, raw):
    cfg = GraphConfig(handle_vocab_uris=MAP)
    mapping = {"http://example.org/name": "title", "http://example.org/City": "Town"}
    tables = materialize(transform_triples(raw, cfg, mapping=mapping), cfg)
    row = tables.nodes.filter(F.col("uri") == "http://example.org/place").collect()[0]
    assert "title" in row["props"]          # mapped
    assert "mixed" in row["props"]          # IGNORE fallback → local name
    assert row["labels"] == ["Town"]


def test_ignore_neo4j_naming(spark, raw):
    cfg = GraphConfig(handle_vocab_uris=IGNORE, apply_neo4j_naming=True)
    tables = materialize(transform_triples(raw, cfg), cfg)
    row = tables.nodes.filter(F.col("uri") == "http://example.org/place").collect()[0]
    assert row["labels"] == ["City"]  # Capitalised label
    # rels are UPPERCASEd (RDFToLPGStatementProcessor.java:240-257)
    edges = tables.edges.collect()
    assert {e["rel"] for e in edges} == {"LOCATED_IN"}
    # props camelCase-ish: first letter lowered
    assert all(k[0].islower() for k in row["props"].keys())


def test_wkt_point_struct(spark, raw):
    from neosemantics_spark.operators.transforms import with_typed_values

    t = with_typed_values(raw)
    pt = t.filter(F.col("datatype").endswith("wktLiteral")).select("value_point", "value_type").collect()[0]
    assert pt["value_type"] == "POINT"
    assert pt["value_point"]["x"] == 1.5
    assert pt["value_point"]["y"] == -2.25
    assert pt["value_point"]["z"] == 10.0
    assert pt["value_point"]["crs"] == "cartesian"


def test_strict_datatype_check(spark, raw):
    """strict ⇒ values conflicting with the first-stored type are discarded
    (DirectStatementLoader.java:180-206)."""
    cfg = GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY, strict_data_type_check=True)
    tables = materialize(transform_triples(raw, cfg), cfg)
    row = tables.node_props.filter(F.col("prop") == "http://example.org/mixed").collect()[0]
    assert list(row["values"]) == ["7"]
    assert row["n_types"] == 2  # conflict recorded
    # non-strict keeps both as strings
    cfg2 = GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY)
    t2 = materialize(transform_triples(raw, cfg2), cfg2)
    row2 = t2.node_props.filter(F.col("prop") == "http://example.org/mixed").collect()[0]
    assert sorted(row2["values"]) == ["7", "not a number"]


def test_shortform_roundtrip_functions(spark):
    ns_to_prefix = build_prefix_map(["http://example.org/", "http://other.org/ns#"])
    df = spark.createDataFrame(
        pd.DataFrame({"iri": ["http://example.org/name", "http://other.org/ns#x",
                              "http://www.w3.org/2000/01/rdf-schema#label"]})
    )
    out = df.select(
        short_form_from_full_uri(F.col("iri"), ns_to_prefix).alias("short")
    ).select(
        "short", full_uri_from_short_form(F.col("short"), ns_to_prefix).alias("back")
    ).collect()
    shorts = [r["short"] for r in out]
    assert shorts == ["ns0__name", "ns1__x", "rdfs__label"]
    backs = [r["back"] for r in out]
    assert backs == [
        "http://example.org/name",
        "http://other.org/ns#x",
        "http://www.w3.org/2000/01/rdf-schema#label",
    ]


def _chain_shorten(col, ns_to_prefix):
    """Reference: one CASE branch per namespace, longest namespace first."""
    ns, local = namespace_of(col), local_name_of(col)
    expr = col
    for namespace in sorted(ns_to_prefix, key=len, reverse=True):
        pfx = ns_to_prefix[namespace]
        expr = F.when(ns == namespace, F.concat(F.lit(pfx + "__"), local)).otherwise(expr)
    return expr


def _chain_expand_export(col_name, prefix_to_ns):
    """Reference: one CASE branch per prefix, greatest prefix first (export form)."""
    expr = F.col(col_name)
    for prefix, ns in sorted(prefix_to_ns.items()):
        p = prefix + "__"
        expr = F.when(
            F.col(col_name).startswith(p),
            F.concat(F.lit(ns), F.expr(f"substring({col_name}, {len(p) + 1})")),
        ).otherwise(expr)
    return expr


def _chain_expand_scalar(col, ns_to_prefix):
    """Reference: one CASE branch per prefix, greatest prefix first (scalar form)."""
    expr = col
    for ns, pfx in sorted(ns_to_prefix.items(), key=lambda kv: kv[1]):
        p = pfx + "__"
        expr = F.when(
            col.startswith(p), F.concat(F.lit(ns), F.substring(col, len(p) + 1, 1_000_000))
        ).otherwise(expr)
    return expr


@pytest.mark.parametrize(
    "ns_to_prefix",
    [
        {
            "http://a/": "a",
            "http://a/b/": "ab",  # nested namespaces
            "http://x.org/ns#": "ns1",
            "http://y.org/": "ns10",  # ns1 is a prefix of ns10
            "http://p.org/": "p",
            "http://pu.org/": "p_",  # 'p___x' starts with 'p__' and 'p___'
        },
        {},
    ],
    ids=["vocab", "empty"],
)
def test_prefix_lookup_matches_case_chains(spark, ns_to_prefix):
    """shorten_expr / expand_short_form (one constant-map lookup each) and
    the scalar functions over them agree, value for value, with CASE
    chains of one branch per namespace or prefix."""
    prefix_to_ns = {p: ns for ns, p in ns_to_prefix.items()}
    iris = [
        "http://a/x", "http://a/b/y", "http://a/b/c/z", "http://x.org/ns#q",
        "http://y.org/r", "http://pu.org/s", "http://y.org/", "urn:isbn:123", "plain",
        "", None,
    ]
    shorts = [
        "a__x", "ab__y", "ns1__q", "ns10__r", "ns10__", "p___x", "p__x", "p_x",
        "a__b__c", "nounderscore", "unknown__x", "__x", "", None,
    ]
    df = spark.createDataFrame([(v,) for v in iris + shorts], "v string")
    v = F.col("v")
    rows = df.select(
        short_form_from_full_uri(v, ns_to_prefix).alias("short"),
        _chain_shorten(v, ns_to_prefix).alias("short_chain"),
        expand_short_form(v, prefix_to_ns).alias("full"),
        _chain_expand_export("v", prefix_to_ns).alias("full_export_chain"),
        full_uri_from_short_form(v, ns_to_prefix).alias("full_scalar"),
        _chain_expand_scalar(v, ns_to_prefix).alias("full_scalar_chain"),
    ).collect()
    assert len(rows) == len(iris) + len(shorts)
    for r in rows:
        assert r["short"] == r["short_chain"], r
        assert r["full"] == r["full_export_chain"] == r["full_scalar"] == r["full_scalar_chain"], r
    if ns_to_prefix:
        assert {r["short"] for r in rows} >= {"a__x", "ab__y", "ns1__q", "ns10__r", "urn:isbn:123"}
        assert {r["full"] for r in rows} >= {"http://pu.org/x", "http://y.org/r", "http://a/b__c"}


def test_shorten_iri_matches_shorten_expr(spark):
    """The driver-side shape-IRI mapping stores an IRI the way the
    transforms do: only its own namespace counts, never a shorter mapped
    prefix of it."""
    ns_to_prefix = build_prefix_map(["http://ex.org/", "http://ex.org/voc#"])
    cases = {
        "http://ex.org/a/B": "http://ex.org/a/B",  # only a shorter namespace is mapped
        "http://ex.org/voc#name": "ns1__name",
        "http://www.w3.org/2000/01/rdf-schema#label": "rdfs__label",
        "http://other.org/x": "http://other.org/x",
    }
    df = spark.createDataFrame([(v,) for v in cases], "v string")
    rows = df.select("v", shorten_expr(F.col("v"), ns_to_prefix).alias("s")).collect()
    shorten = shorten_iri(ns_to_prefix)
    assert {r["v"]: r["s"] for r in rows} == cases
    assert {v: shorten(v) for v in cases} == cases


def test_scalar_functions(spark):
    from neosemantics_spark.functions import (
        get_datatype,
        get_iri_local_name,
        get_iri_namespace,
        get_lang_tag,
        get_value,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "v": [
                    "http://example.org/voc#name",
                    "3.14^^http://www.w3.org/2001/XMLSchema#decimal",
                    "320^^ns1__horsepower",
                    "hola@es",
                    "plain",
                ]
            }
        )
    )
    out = df.select(
        get_iri_local_name(F.col("v")).alias("local"),
        get_iri_namespace(F.col("v")).alias("ns"),
        get_value(F.col("v")).alias("val"),
        get_datatype(F.col("v")).alias("dt"),
        get_lang_tag(F.col("v")).alias("tag"),
    ).collect()
    assert out[0]["local"] == "name" and out[0]["ns"] == "http://example.org/voc#"
    assert out[1]["val"] == "3.14" and out[1]["dt"].endswith("decimal")
    assert out[2]["val"] == "320" and out[2]["dt"] == "ns1__horsepower"
    assert out[3]["val"] == "hola" and out[3]["tag"] == "es"
    assert out[4]["val"] == "plain" and out[4]["dt"].endswith("string")
