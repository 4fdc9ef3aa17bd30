"""Self-tests of the benchmark: generator, output check and metric names.

    python -m pytest kgbench/tests -q

Run from the repository root. The output-check test starts a small local
Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH)
sys.path[:0] = [REPO, BENCH]

import gen  # noqa: E402
import run  # noqa: E402
from spans import OpRecord, Span  # noqa: E402

SMALL = {
    "full_import": dict(n_files=30, ents_per_file=6),
    "entity_linking": dict(n_clusters=6, mentions_per_cluster=(5, 20), hub_fanout=20),
    "incremental_ingest": dict(n_base=6, batch_files=2, n_batches=3, ents_per_file=6),
}


def small_corpus(workload: str, seed: int) -> gen.Corpus:
    return gen.CORPORA[workload](seed, **SMALL[workload])


@pytest.mark.parametrize("workload", sorted(gen.CORPORA))
def test_generator_is_deterministic_per_seed(workload):
    a, b = small_corpus(workload, 7), small_corpus(workload, 7)
    assert [f.row() for f in a.files] == [f.row() for f in b.files]
    assert gen.manifest(workload, a) == gen.manifest(workload, b)
    c = small_corpus(workload, 8)
    assert [f.row() for f in a.files] != [f.row() for f in c.files]


@pytest.mark.parametrize("workload", sorted(gen.CORPORA))
def test_documents_parse_to_the_emitted_statements(workload):
    from neosemantics_spark.sources.parse import parse_document, statements_to_rows

    corpus = small_corpus(workload, 3)
    fmts = set()
    for f in corpus.files:
        if f.malformed:
            with pytest.raises(Exception):
                parse_document(f.fmt, f.content)
            continue
        rows = [
            (r["subject"], r["predicate"], r["object"], r["is_literal"],
             r["datatype"] if r["is_literal"] else None)
            for r in statements_to_rows(parse_document(f.fmt, f.content), f.repo, f.path, f.commit)
        ]
        if f.fmt in ("Turtle", "N-Triples"):
            assert rows == f.stmts  # statement order feeds last-wins
        else:
            assert sorted(rows) == sorted(f.stmts)
        fmts.add(f.fmt)
    if workload == "full_import":
        assert fmts == {"Turtle", "N-Triples", "JSON-LD", "RDF/XML"}
        assert any(f.malformed for f in corpus.files)


def test_manifest_sees_a_dropped_edge_and_a_dropped_violation():
    corpus = small_corpus("full_import", 4)
    good = [f for f in corpus.files if not f.malformed]
    comp = gen.components(st for f in good for st in f.stmts)
    g = gen.Graph(comp)
    for f in good:
        g.add(f)
    lines = g.export_lines()
    assert gen.set_hash(lines[1:]) != gen.set_hash(lines)
    # drop one wrong-class worksFor edge: one edge and one violation fewer
    before = g.counts()["edges"], g.violations()
    s, p = next(
        (s, p) for (s, p), objs in g.out.items()
        if p == gen.WORKS_FOR and any(gen.ORG not in g.labels.get(o, ()) for o in objs)
    )
    o = next(o for o in g.out[(s, p)] if gen.ORG not in g.labels.get(o, ()))
    g.out[(s, p)].discard(o)
    assert (g.counts()["edges"], g.violations()) == (before[0] - 1, before[1] - 1)


def test_compare_reports_every_mismatch():
    from workloads import compare

    want = {"edges": 10, "violations": 3, "export_hash": 99}
    assert compare(dict(want), want) == []
    got = compare({**want, "edges": 9, "violations": 2}, want)
    assert len(got) == 2 and any("edges" in x for x in got)


@pytest.fixture(scope="module")
def spark_env(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("kgbench"))
    saved = dict(os.environ)
    env = run.pin_environment(tmp)
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    from neosemantics_spark.session import get_spark

    spark = get_spark("kgbench-tests", cpus=min(2, env["cpus"]))
    yield spark, tmp
    run.stop_spark(spark)
    os.environ.clear()
    os.environ.update(saved)


def _drop_one_row(spark, path: str, fmt: str) -> None:
    df = spark.read.format(fmt).load(path)
    rows = df.collect()[1:]
    tmp = path + ".perturbed"
    spark.createDataFrame(rows, df.schema).write.format(fmt).save(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


def test_perturbed_outputs_fail_the_check(spark_env):
    from spans import NullTracer
    from workloads import FullImport

    spark, tmp = spark_env
    corpus = small_corpus("full_import", 5)
    wl = FullImport(spark, tmp, corpus, gen.manifest("full_import", corpus))
    wl.write_input()
    c = wl.op(0, NullTracer())
    assert wl.op_ok(c)
    assert wl.check() == []
    out = c["_out"]
    for sub, fmt, key in (
        ("edges", "parquet", "edges"),
        ("violations", "parquet", "violations"),
        ("export", "text", "export_lines"),
    ):
        _drop_one_row(spark, os.path.join(out, sub), fmt)
        assert any(f.startswith(key) for f in wl.check()), sub


def test_every_benchmark_metric_is_printed():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(gen.CORPORA)

    # per-layer metrics from synthetic records carry every per_layer name
    spans = [
        Span(0, "op", "op", 0.0, 10.0),
        Span(1, "parse", "parse", 0.0, 2.0, parent=0),
        Span(2, "materialize", "materialize", 2.0, 6.0, parent=0),
        Span(3, "materialize.write", "materialize", 3.0, 5.0, parent=2),
    ]
    recs = [
        OpRecord(30.0, False),
        OpRecord(10.0, True, 0.0, {"parse.triples": 5}, spans, jobs={"parse": [2, 8]}),
        OpRecord(9.0, False),
    ]
    m = run.per_layer_metrics(recs)
    assert set(m) == set(run.PER_LAYER)
    assert m["parse.busy_s"] == 2.0 and m["materialize.write_s"] == 2.0
    assert m["glue.self_s"] == 4.0 and m["trace.overhead_s"] == 1.0
    assert m["parse.jobs"] == 2 and m["parse.tasks"] == 8 and m["parse.triples"] == 5


def test_run_without_the_package_fails_without_a_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "kgbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", "full_import", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
