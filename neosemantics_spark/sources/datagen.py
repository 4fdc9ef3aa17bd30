"""Deterministic synthetic `src_files` generators.

The north rule's input is an Iceberg table of source-code repository files
(repo, path, commit, lang, content). No such table ships with the sandbox,
so we synthesize it deterministically (no randomness, no external data):

1. `src_files_from_documents` — derives RDF payloads 1:1 from the driver's
   `documents` parquet table using ONLY JVM-side column expressions
   (concat/format_string), so the same derivation is expressible in the
   DuckDB oracle SQL and the full parse pipeline is value-checkable.
2. `fixture_corpus` — a small pandas-built corpus mirroring the reference's
   test fixtures (multival.ttl, multilang.ttl, customDataTypes.ttl,
   datetime/*.ttl, RDFDataset.trig, beatles.ttls, mini-ld.json … — see
   /root/reference/src/test/resources/) for golden pytest cases.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOC_NS = "http://example.org/doc/"
VOC_NS = "http://example.org/voc#"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def src_files_from_documents(spark: SparkSession, sf_dir: str, fmt: str = "N-Triples") -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) → src_files rows.

    One N-Triples (or Turtle) document per row; content is deterministic
    string assembly — every triple is independently derivable in SQL.
    `text` is embedded as a literal; the corpus is alphanumeric words, but
    we escape backslash/quote anyway to keep the invariant safe.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    esc = F.regexp_replace(F.regexp_replace(F.col("text"), r"\\", r"\\\\"), '"', '\\"')
    subj = F.concat(F.lit(f"<{DOC_NS}"), F.col("doc_id").cast("string"), F.lit(">"))
    if fmt == "N-Triples":
        content = F.concat(
            subj, F.lit(f" <{RDF_TYPE}> <{VOC_NS}Document> .\n"),
            subj, F.lit(f" <{VOC_NS}text> \""), esc, F.lit("\" .\n"),
            subj, F.lit(f" <{VOC_NS}lang> \""), F.col("lang"), F.lit("\" .\n"),
            subj, F.lit(f" <{VOC_NS}source> <{DOC_NS}src/"), F.col("source"), F.lit("> .\n"),
            subj, F.lit(f" <{VOC_NS}nchars> \""), F.col("n_chars").cast("string"),
            F.lit(f"\"^^<{XSD_NS}integer> .\n"),
        )
    elif fmt == "Turtle":
        content = F.concat(
            F.lit(f"@prefix v: <{VOC_NS}> .\n@prefix d: <{DOC_NS}> .\n"),
            F.lit("d:"), F.col("doc_id").cast("string"),
            F.lit(" a v:Document ;\n  v:text \""), esc, F.lit("\" ;\n"),
            F.lit("  v:summary \""), esc, F.lit("\"@"), F.col("lang"), F.lit(" ;\n"),
            F.lit("  v:lang \""), F.col("lang"), F.lit("\" ;\n"),
            F.lit("  v:source d:src/"), F.col("source"), F.lit(" ;\n"),
            F.lit("  v:nchars "), F.col("n_chars").cast("string"), F.lit(" .\n"),
        )
    else:
        raise ValueError(fmt)
    return docs.select(
        F.lit("org/docs").alias("repo"),
        F.concat(
            F.lit("data/doc_"), F.col("doc_id").cast("string"),
            F.lit(".nt" if fmt == "N-Triples" else ".ttl"),
        ).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.lit(fmt).alias("lang"),
        content.alias("content"),
    )


# --------------------------------------------------------------- fixtures
# Contents mirror the semantics of the reference's test fixtures; not
# copies — minimal documents exercising the same code paths.
FIXTURES = {
    # multival.ttl analogue (RDFProceduresTest multival cases)
    "data/multival.ttl": (
        "Turtle",
        """@prefix ex: <http://example.org/> .
ex:item1 ex:tag "a" , "b" , "a" ;
  ex:name "first"@en ;
  ex:name "premier"@fr ;
  ex:weight 10 ;
  ex:weight 12 .
""",
    ),
    # multilang.ttl analogue
    "data/multilang.ttl": (
        "Turtle",
        """@prefix ex: <http://example.org/> .
ex:doc ex:label "hello"@en ; ex:label "hola"@es ; ex:label "plain" .
""",
    ),
    # customDataTypes.ttl analogue
    "data/customdt.ttl": (
        "Turtle",
        """@prefix ex: <http://example.org/> .
@prefix my: <http://my.org/dt#> .
ex:car ex:power "320"^^my:horsepower ; ex:color "red" .
""",
    ),
    # datetime/datetime-simple.ttl analogue
    "data/datetime.ttl": (
        "Turtle",
        """@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:evt ex:at "2024-05-04T10:11:12"^^xsd:dateTime ;
  ex:on "2024-05-04"^^xsd:date ;
  ex:bad "not-a-date"^^xsd:dateTime .
""",
    ),
    # bnode fixture (deleteRDF/bNodes.ttl analogue)
    "data/bnodes.ttl": (
        "Turtle",
        """@prefix ex: <http://example.org/> .
ex:root ex:child [ ex:name "anon1" ] , [ ex:name "anon2" ] .
""",
    ),
    # RDF-star (rdfstar/beatles.ttls analogue)
    "data/star.ttls": (
        "Turtle-star",
        """@prefix ex: <http://example.org/> .
ex:paul ex:memberOf ex:beatles .
<< ex:paul ex:memberOf ex:beatles >> ex:from 1960 .
""",
    ),
    # quads (RDFDatasets/RDFDataset.trig analogue)
    "data/dataset.trig": (
        "TriG",
        """@prefix ex: <http://example.org/> .
GRAPH ex:g1 { ex:a ex:p ex:b . }
GRAPH ex:g2 { ex:a ex:p ex:c . ex:a ex:q "v" . }
ex:a ex:default "d" .
""",
    ),
    # mini-ld.json analogue (6 triples incl. datetime —
    # RDFProceduresTest.java:444-468)
    "data/mini-ld.json": (
        "JSON-LD",
        """{
  "@context": {"name": "http://xmlns.com/foaf/0.1/name",
    "born": {"@id": "http://example.org/born", "@type": "http://www.w3.org/2001/XMLSchema#dateTime"},
    "knows": {"@id": "http://xmlns.com/foaf/0.1/knows", "@type": "@id"},
    "Person": "http://xmlns.com/foaf/0.1/Person"},
  "@id": "http://me.example.com/me",
  "@type": "Person",
  "name": "JB",
  "born": "1977-10-14T00:00:00",
  "knows": ["http://me.example.com/other", "http://me.example.com/third"]
}""",
    ),
    # RDF/XML (fibo-fragment.rdf analogue)
    "data/frag.rdf": (
        "RDF/XML",
        """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://example.org/" xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#">
  <rdf:Description rdf:about="http://example.org/thing1">
    <rdf:type rdf:resource="http://example.org/Thing"/>
    <rdfs:label xml:lang="en">thing one</rdfs:label>
    <ex:size rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">5</ex:size>
    <ex:rel rdf:resource="http://example.org/thing2"/>
  </rdf:Description>
  <ex:Thing rdf:about="http://example.org/thing2">
    <ex:inner><ex:Part rdf:nodeID="p1"><ex:pname>inner part</ex:pname></ex:Part></ex:inner>
  </ex:Thing>
</rdf:RDF>
""",
    ),
    # N-Quads
    "data/quads.nq": (
        "N-Quads",
        """<http://example.org/x> <http://example.org/p> "1"^^<http://www.w3.org/2001/XMLSchema#integer> <http://example.org/g1> .
<http://example.org/x> <http://example.org/p> <http://example.org/y> .
""",
    ),
    # owl:sameAs linking fixture (entity canonicalization)
    "data/sameas.nt": (
        "N-Triples",
        """<http://a.org/e1> <http://www.w3.org/2002/07/owl#sameAs> <http://b.org/e9> .
<http://b.org/e9> <http://www.w3.org/2002/07/owl#sameAs> <http://c.org/e5> .
<http://d.org/e7> <http://www.w3.org/2002/07/owl#sameAs> <http://d.org/e8> .
<http://a.org/e1> <http://example.org/name> "entity one" .
<http://c.org/e5> <http://example.org/rank> "3"^^<http://www.w3.org/2001/XMLSchema#integer> .
""",
    ),
    # bad URI fixture (badUri.ttl analogue)
    "data/bad.ttl": (
        "Turtle",
        """@prefix ex: <http://example.org/> .
ex:ok ex:p "fine" .
ex:broken ex:q "unterminated
""",
    ),
}


def fixture_corpus(spark: SparkSession) -> DataFrame:
    rows = [
        {
            "repo": "org/fixtures",
            "path": path,
            "commit": "f" * 40,
            "lang": lang,
            "content": content,
        }
        for path, (lang, content) in sorted(FIXTURES.items())
    ]
    return spark.createDataFrame(pd.DataFrame(rows))
