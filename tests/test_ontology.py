"""Ontology importer: routing + OWL restriction assembly (§2.8;
onto/OntologyImporter.java, fixtures moviesontology.owl/onto1.owl style)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from neosemantics_spark.operators import inference
from neosemantics_spark.operators.inference import (
    assemble_restrictions,
    route_ontology,
)
from neosemantics_spark.sources.parse import extract_triples

ONTO = """@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix ex: <http://example.org/onto#> .
ex:Person a owl:Class ; rdfs:label "Person" .
ex:Actor a owl:Class ; rdfs:subClassOf ex:Person .
ex:actedIn a owl:ObjectProperty ; rdfs:domain ex:Actor ; rdfs:range ex:Movie .
ex:name a owl:DatatypeProperty ; rdfs:domain ex:Person .
ex:Movie a owl:Class ; owl:equivalentClass ex:Film .
ex:Director a owl:Class ;
  rdfs:subClassOf [ a owl:Restriction ;
                    owl:onProperty ex:directed ;
                    owl:someValuesFrom ex:Movie ] .
ex:Remake a owl:Class ;
  owl:equivalentClass [ a owl:Restriction ;
                        owl:onProperty ex:basedOn ;
                        owl:minCardinality 1 ] .
"""


@pytest.fixture(scope="module")
def triples(spark):
    src = spark.createDataFrame(
        pd.DataFrame(
            [{"repo": "r", "path": "o.ttl", "commit": "c" * 40, "lang": "Turtle", "content": ONTO}]
        )
    )
    return extract_triples(src).cache()


def test_route_ontology(spark, triples):
    edges, kinds = route_ontology(triples)
    e = {(r["src"].split("#")[-1], r["rel"], r["dst"].split("#")[-1]) for r in edges.collect()
         if not r["dst"].startswith("bnode://")}
    assert ("Actor", "SCO", "Person") in e
    assert ("actedIn", "DOMAIN", "Actor") in e
    assert ("actedIn", "RANGE", "Movie") in e
    assert ("Movie", "EQC", "Film") in e
    k = {(r["name"].split("#")[-1], r["kind"]) for r in kinds.collect()}
    assert ("Person", "Class") in k
    assert ("actedIn", "Relationship") in k
    assert ("name", "Property") in k


def test_assemble_restrictions(spark, triples):
    res = assemble_restrictions(triples).collect()
    by_src = {r["src"].split("#")[-1]: r for r in res}
    d = by_src["Director"]
    assert d["rel"] == "SCO_RESTRICTION"
    assert d["dst"] == "http://example.org/onto#Movie"
    assert d["kind"] == "some"
    assert d["props"]["onProperty"] == "http://example.org/onto#directed"
    r = by_src["Remake"]
    assert r["rel"] == "EQC_RESTRICTION"
    assert r["kind"] == "cardinality"
    assert r["props"]["minCardinality"] == "1"
    assert r["dst"] == "http://example.org/onto#basedOn"  # cardinality → onProperty target


def test_skos_label_props_xl_two_leg(spark):
    """SKOS-XL indirection: direct skos labels pass through; reified
    skosxl labels resolve through literalForm; dangling halves (a label
    node with no literalForm, a literalForm with no referring concept)
    produce nothing (SkosImporter.java:144-167)."""
    import pandas as pd

    from neosemantics_spark.operators.inference import skos_label_props
    from neosemantics_spark.sources.parse import extract_triples

    skos = "http://www.w3.org/2004/02/skos/core#"
    xl = "http://www.w3.org/2008/05/skos-xl#"
    nt = f"""<http://e/c1> <{skos}prefLabel> "direct" .
<http://e/c1> <{xl}altLabel> <http://e/lab1> .
<http://e/lab1> <{xl}literalForm> "alt-via-xl" .
<http://e/c2> <{xl}hiddenLabel> <http://e/lab2> .
<http://e/c3> <{xl}prefLabel> <http://e/dangling> .
<http://e/orphan> <{xl}literalForm> "unreferenced" .
"""
    src = spark.createDataFrame(
        pd.DataFrame(
            [{"repo": "r", "path": "s.nt", "commit": "c" * 40, "lang": "N-Triples", "content": nt}]
        )
    )
    got = sorted(
        (r.concept, r.prop.split("#")[-1], r.value)
        for r in skos_label_props(extract_triples(src)).collect()
    )
    assert got == [
        ("http://e/c1", "altLabel", "alt-via-xl"),
        ("http://e/c1", "prefLabel", "direct"),
    ], got


def test_inference_closure(spark):
    edges = spark.createDataFrame(
        pd.DataFrame(
            [
                {"src": "Cat", "rel": "SCO", "dst": "Mammal"},
                {"src": "Mammal", "rel": "SCO", "dst": "Animal"},
                {"src": "Dog", "rel": "SCO", "dst": "Mammal"},
            ]
        )
    )
    clo = inference.transitive_closure(edges).toPandas()
    anc = set(clo[clo.descendant == "Cat"].ancestor)
    assert anc == {"Cat", "Mammal", "Animal"}
    nodes = spark.createDataFrame(
        pd.DataFrame(
            [
                {"uri": "u1", "labels": ["Cat"]},
                {"uri": "u2", "labels": ["Animal"]},
                {"uri": "u3", "labels": ["Robot"]},
            ]
        )
    )
    got = inference.nodes_labelled_with_inference(
        nodes, inference.transitive_closure(edges), "Animal"
    ).toPandas()
    assert sorted(got.uri) == ["u1", "u2"]
