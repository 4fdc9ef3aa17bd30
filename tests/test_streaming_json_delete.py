"""Streaming ingest, JSON-as-tree import, delete semantics."""

import pandas as pd

from neosemantics_spark.operators.delete import apply_delete
from neosemantics_spark.sources.json_tree import import_json_as_tree
from neosemantics_spark.sources.parse import extract_triples
from neosemantics_spark.streaming.stream import run_stream_to_parquet, stream_triples


def _src(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            [
                {"repo": "r", "path": p, "commit": "c" * 40, "lang": lang, "content": content}
                for p, lang, content in rows
            ]
        )
    )


def test_streaming_triples(spark, tmp_path):
    src_dir, out_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _src(
        spark,
        [
            ("a.nt", "N-Triples", '<http://e/a> <http://e/p> "1" .\n'),
            ("b.nt", "N-Triples", '<http://e/b> <http://e/p> "2" .\n<http://e/b> <http://e/q> <http://e/a> .\n'),
        ],
    ).write.parquet(src_dir)
    q = run_stream_to_parquet(stream_triples(spark, src_dir), out_dir, ckpt, once=True)
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 3
    # incremental: drop one more file, rerun availableNow → only the delta
    _src(spark, [("c.nt", "N-Triples", '<http://e/c> <http://e/p> "3" .\n')]).write.mode(
        "append"
    ).parquet(src_dir)
    q2 = run_stream_to_parquet(stream_triples(spark, src_dir), out_dir, ckpt, once=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 4


def test_json_as_tree(spark):
    doc = '{"name": "proj", "stars": 5, "owner": {"login": "ab", "admin": true}, "tags": ["x", "y"]}'
    src = _src(spark, [("d.json", "JSON", doc)])
    t = import_json_as_tree(src).toPandas()
    assert set(t[t.parse_error.isna()].predicate) == {
        "http://example.org/json#name",
        "http://example.org/json#stars",
        "http://example.org/json#owner",
        "http://example.org/json#login",
        "http://example.org/json#admin",
        "http://example.org/json#tags",
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
    }
    tags = t[t.predicate == "http://example.org/json#tags"]
    assert sorted(tags.object) == ["x", "y"]
    owner_edge = t[t.predicate == "http://example.org/json#owner"]
    assert owner_edge.iloc[0]["object"].startswith("bnode://")
    # deterministic across runs
    t2 = import_json_as_tree(src).toPandas()
    assert sorted(t.fillna("").apply(tuple, axis=1)) == sorted(t2.fillna("").apply(tuple, axis=1))


def test_apply_delete(spark):
    data = _src(
        spark,
        [
            (
                "d.ttl",
                "Turtle",
                """@prefix ex: <http://example.org/> .
ex:a ex:p "1" , "2" ; ex:q ex:b .
ex:root ex:child [ ex:name "anon" ] .
""",
            )
        ],
    )
    triples = extract_triples(data).cache()
    dels = _src(
        spark,
        [
            (
                "del.ttl",
                "Turtle",
                """@prefix ex: <http://example.org/> .
ex:a ex:p "2" ; ex:q ex:b .
ex:missing ex:p "zzz" .
ex:root ex:child [ ex:name "anon" ] .
""",
            )
        ],
    )
    res = apply_delete(triples, extract_triples(dels))
    assert res.triples_deleted == 2  # "2" literal + the q edge
    # bnode-addressed rows refused + 1 no-match
    assert res.not_deleted == 3
    left = res.remaining.toPandas()
    assert '1' in set(left.object) and '2' not in set(left[left.predicate == "http://example.org/p"].object)
