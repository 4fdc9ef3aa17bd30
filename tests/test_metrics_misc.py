"""P/R metric, taxonomy similarity, compressed payloads, STRICT mode,
inference rels."""

import base64
import gzip

import pandas as pd
import pytest
from pyspark.sql import functions as F

from neosemantics_spark.config import ARRAY, KEEP, SHORTEN_STRICT, GraphConfig
from neosemantics_spark.metrics import triple_pr
from neosemantics_spark.operators.export import graph_to_triples
from neosemantics_spark.operators.inference import rels_with_inference, transitive_closure
from neosemantics_spark.operators.materialize import materialize, transform_triples
from neosemantics_spark.operators.similarity_taxonomy import Taxonomy
from neosemantics_spark.sources.datagen import fixture_corpus
from neosemantics_spark.sources.parse import extract_triples


def test_roundtrip_pr_is_one(spark):
    """The BASELINE headline: import→export P/R vs parsed triples = 1.0
    (>= the 0.95 gate) on the fixture corpus."""
    raw = extract_triples(fixture_corpus(spark)).cache()
    cfg = GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY)
    t = transform_triples(raw, cfg)
    tables = materialize(t, cfg)
    exported = graph_to_triples(tables, cfg).filter(F.col("sspo").isNull())
    expected = t.filter(F.col("sspo").isNull()).select(
        "subject", "predicate", "object", "is_literal", "graph"
    )
    pr = triple_pr(exported, expected)
    assert pr.precision == 1.0 and pr.recall == 1.0, pr


def test_pr_detects_loss(spark):
    raw = extract_triples(fixture_corpus(spark))
    full = raw.filter(F.col("parse_error").isNull())
    partial = full.limit(20)
    pr = triple_pr(partial, full)
    assert pr.precision == 1.0 and pr.recall < 1.0


def test_taxonomy_similarity(spark):
    edges = spark.createDataFrame(
        pd.DataFrame(
            [
                {"src": "Cat", "rel": "SCO", "dst": "Mammal"},
                {"src": "Dog", "rel": "SCO", "dst": "Mammal"},
                {"src": "Mammal", "rel": "SCO", "dst": "Animal"},
                {"src": "Lizard", "rel": "SCO", "dst": "Reptile"},
                {"src": "Reptile", "rel": "SCO", "dst": "Animal"},
            ]
        )
    )
    tax = Taxonomy(edges)
    assert tax.path_length("Cat", "Dog") == 2
    assert tax.path_sim("Cat", "Dog") == pytest.approx(1 / 3)
    assert tax.path_sim("Cat", "Cat") == 1.0
    # Wu-Palmer with 1-based depths: Animal=1, Mammal=2, Cat=3
    assert tax.wup_sim("Cat", "Dog") == pytest.approx(2 * 2 / (3 + 3))
    assert tax.wup_sim("Cat", "Lizard") == pytest.approx(2 * 1 / (3 + 3))
    df = tax.similarity_df(spark, [("Cat", "Dog"), ("Cat", "Lizard")]).toPandas()
    assert df.iloc[0]["wup_sim"] > df.iloc[1]["wup_sim"]


def test_compressed_payload(spark):
    nt = '<http://e/a> <http://e/p> "compressed" .\n'
    b64 = base64.b64encode(gzip.compress(nt.encode())).decode()
    src = spark.createDataFrame(
        pd.DataFrame(
            [
                {"repo": "r", "path": "data/x.nt.gz", "commit": "c" * 40,
                 "lang": None, "content": b64},
                {"repo": "r", "path": "data/bad.nt.gz", "commit": "c" * 40,
                 "lang": None, "content": "not-base64-gzip!!"},
            ]
        )
    )
    out = extract_triples(src).toPandas()
    ok = out[out.parse_error.isna()]
    assert len(ok) == 1 and ok.iloc[0]["object"] == "compressed"
    assert ok.iloc[0]["path"] == "data/x.nt"  # suffix stripped for sniffing
    assert len(out[out.parse_error.notna()]) == 1


def _archive_src(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            [
                {"repo": "r", "path": p, "commit": "c" * 40, "lang": None, "content": c}
                for p, c in rows
            ]
        )
    )


def test_archive_entry_sources(spark):
    """zip!entry / tgz!entry / bare .tar.gz / .tar.bz2 payloads
    (CommonProcedures.java:139-183; RDFProceduresTest.java:529-641)."""
    import bz2
    import io
    import tarfile
    import zipfile

    nt1 = '<http://e/a> <http://e/p> "one" .\n'
    nt2 = '<http://e/b> <http://e/p> "two" .\n'

    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w") as zf:
        zf.writestr("inner/one.nt", nt1)
        zf.writestr("inner/two.nt", nt2)
    zip_b64 = base64.b64encode(zbuf.getvalue()).decode()

    def tar_bytes(compress):
        tbuf = io.BytesIO()
        with tarfile.open(fileobj=tbuf, mode=f"w:{compress}") as tf:
            for name, data in (("one.nt", nt1), ("two.nt", nt2)):
                info = tarfile.TarInfo(name)
                info.size = len(data.encode())
                tf.addfile(info, io.BytesIO(data.encode()))
        return base64.b64encode(tbuf.getvalue()).decode()

    src = _archive_src(
        spark,
        [
            ("a.zip!inner/one.nt", zip_b64),          # single zip entry
            ("all.zip", zip_b64),                      # every zip entry
            ("a.tgz!one.nt", tar_bytes("gz")),         # single tgz entry
            ("all.tar.gz", tar_bytes("gz")),           # every tar.gz entry
            ("all.tar.bz2", tar_bytes("bz2")),         # every tar.bz2 entry
            ("plain.nt.bz2", base64.b64encode(bz2.compress(nt1.encode())).decode()),
        ],
    )
    out = extract_triples(src).toPandas()
    assert out.parse_error.isna().all(), out.parse_error.dropna().tolist()
    by_archive = out.path.map(lambda p: p.split("!")[0])
    got = out.groupby(by_archive).size().to_dict()
    assert got["a.zip"] == 1 and got["all.zip"] == 2
    assert got["a.tgz"] == 1 and got["all.tar.gz"] == 2 and got["all.tar.bz2"] == 2
    assert got["plain.nt"] == 1
    # entry-scoped logical paths
    assert set(out[out.path.str.startswith("all.zip")].path) == {
        "all.zip!inner/one.nt", "all.zip!inner/two.nt"
    }


def test_archive_corrupt_and_missing_entry_quarantined(spark):
    src = _archive_src(
        spark,
        [
            ("bad.zip", base64.b64encode(b"PK\x03\x04 truncated").decode()),
            ("a.zip!missing.nt", base64.b64encode(b"PK\x05\x06" + b"\x00" * 18).decode()),
            ("bad.tgz!x.nt", base64.b64encode(b"not a tarball").decode()),
        ],
    )
    out = extract_triples(src).toPandas()
    assert len(out) == 3
    assert out.parse_error.notna().all()


def test_shorten_strict_raises(spark):
    raw = extract_triples(fixture_corpus(spark))
    cfg = GraphConfig(handle_vocab_uris=SHORTEN_STRICT)
    with pytest.raises(ValueError, match="SHORTEN_STRICT"):
        transform_triples(raw, cfg, {"http://www.w3.org/2001/XMLSchema#": "xsd"})


def test_rels_with_inference(spark):
    spo = spark.createDataFrame(
        pd.DataFrame(
            [
                {"src": "knows", "rel": "SPO", "dst": "related"},
                {"src": "worksWith", "rel": "SPO", "dst": "knows"},
            ]
        )
    )
    closure = transitive_closure(spo, rel="SPO")
    edges = spark.createDataFrame(
        pd.DataFrame(
            [
                {"src": "a", "rel": "knows", "dst": "b"},
                {"src": "a", "rel": "worksWith", "dst": "c"},
                {"src": "a", "rel": "hates", "dst": "d"},
            ]
        )
    )
    got = rels_with_inference(edges, closure, "related").toPandas()
    assert sorted(got.dst) == ["b", "c"]


def test_micro_reasoner_categories_and_rels(spark):
    """nodesInCategory with a custom in-category rel, boolean
    inCategory/hasLabel, getRels with relDir
    (MicroReasoners.java:102-127,164-199,398-480)."""
    from neosemantics_spark.operators.inference import (
        get_rels,
        has_label_flags,
        in_category_flags,
        nodes_in_category,
        transitive_closure,
    )

    sco = spark.createDataFrame(
        pd.DataFrame(
            [
                {"src": "Cat", "rel": "SCO", "dst": "Mammal"},
                {"src": "Mammal", "rel": "SCO", "dst": "Animal"},
                {"src": "Lizard", "rel": "SCO", "dst": "Animal"},
            ]
        )
    )
    closure = transitive_closure(sco)
    edges = spark.createDataFrame(
        pd.DataFrame(
            [
                {"src": "felix", "rel": "IN_CAT", "dst": "Cat"},
                {"src": "rex", "rel": "IN_CAT", "dst": "Mammal"},
                {"src": "liz", "rel": "IN_CAT", "dst": "Lizard"},
                {"src": "felix", "rel": "other", "dst": "Animal"},
            ]
        )
    )
    # custom in-category rel + subcategory closure
    got = nodes_in_category(edges, closure, "Mammal", in_cat_rel="IN_CAT").toPandas()
    assert sorted(got.uri) == ["felix", "rex"]
    inds = spark.createDataFrame(pd.DataFrame({"uri": ["felix", "rex", "liz"]}))
    flags = in_category_flags(inds, edges, closure, "Mammal", in_cat_rel="IN_CAT").toPandas()
    assert dict(zip(flags.uri, flags.in_category)) == {
        "felix": True, "rex": True, "liz": False,
    }
    nodes = spark.createDataFrame(
        pd.DataFrame(
            [
                {"uri": "felix", "labels": ["Cat"]},
                {"uri": "liz", "labels": ["Lizard"]},
                {"uri": "x", "labels": []},
            ]
        )
    )
    hl = has_label_flags(nodes, closure, "Mammal").toPandas()
    assert dict(zip(hl.uri, hl.has_label)) == {"felix": True, "liz": False, "x": False}
    # getRels with direction
    spo = spark.createDataFrame(
        pd.DataFrame([{"src": "IN_CAT", "rel": "SPO", "dst": "related"}])
    )
    spo_clo = transitive_closure(spo, rel="SPO")
    out = get_rels(edges, spo_clo, "related", node_uri="felix", rel_dir=">").toPandas()
    assert out.dst.tolist() == ["Cat"] and out.direction.tolist() == [">"]
    both = get_rels(edges, spo_clo, "related", node_uri="Cat", rel_dir="").toPandas()
    assert both.direction.tolist() == ["<"]
    none_in = get_rels(edges, spo_clo, "related", node_uri="felix", rel_dir="<").toPandas()
    assert len(none_in) == 0


def test_entry_contract_queries_all_have_oracles():
    """Driver contract: every queries() entry has a DuckDB oracle (the
    strong correctness gate) and no oracle is orphaned."""
    import __spark_entry__ as e

    q = set(e.queries().keys())
    o = set(e.oracle_sql().keys())
    assert o <= q, f"orphaned oracles: {o - q}"
    assert q == o, f"oracle-less queries: {q - o}"


def test_taxonomy_path_explain_search(spark):
    """pathsim.path / .explain / .search analogues over a small SCO tree."""
    import pandas as pd

    from neosemantics_spark.operators.similarity_taxonomy import Taxonomy

    edges = spark.createDataFrame(
        pd.DataFrame(
            [
                {"src": "cat", "rel": "SCO", "dst": "mammal"},
                {"src": "dog", "rel": "SCO", "dst": "mammal"},
                {"src": "mammal", "rel": "SCO", "dst": "animal"},
                {"src": "bird", "rel": "SCO", "dst": "animal"},
            ]
        )
    )
    t = Taxonomy(edges)
    assert t.path("cat", "dog") == ["cat", "mammal", "dog"]
    assert t.path("cat", "bird") == ["cat", "mammal", "animal", "bird"]
    assert t.path("cat", "cat") == ["cat"]
    ex = t.explain("cat", "dog")
    assert ex["lca"] == "mammal" and ex["path_length"] == 2
    assert abs(ex["path_sim"] - 1 / 3) < 1e-9
    s = t.search(spark, "cat", measure="path").toPandas()
    assert list(s.node)[0] == "mammal"  # distance 1: the parent
    # distance-2 tie (animal, dog) breaks lexicographically; bird is last
    assert list(s.node)[1:3] == ["animal", "dog"] and list(s.node)[3] == "bird"
    assert set(s.node) == {"dog", "mammal", "animal", "bird"}
    s2 = t.search(spark, "cat", threshold_length=1).toPandas()
    assert set(s2.node) == {"mammal"}
