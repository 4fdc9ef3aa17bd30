"""SHACL golden-verdict tests — set-equality of validation results on
(focus_node, property_shape, result_path), mirroring the reference harness
(SHACLValidationProceduresTest.java:1705-1713)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from neosemantics_spark.config import ARRAY, KEEP, GraphConfig
from neosemantics_spark.operators.materialize import materialize, transform_triples
from neosemantics_spark.rdf.terms import SH
from neosemantics_spark.sources.datagen import FIXTURES
from neosemantics_spark.sources.parse import extract_triples
from neosemantics_spark.validation.shacl import ShaclValidator, compile_shapes

DATA = """@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:p1 a ex:Person ; ex:name "Alice" ; ex:age "30"^^xsd:integer ; ex:knows ex:p2 .
ex:p2 a ex:Person ; ex:age "thirty" ; ex:knows ex:npc .
ex:p3 a ex:Person ; ex:name "Bob" ; ex:name "Bobby" ; ex:name "B3" .
ex:npc a ex:Robot ; ex:serial "x1" .
"""

SHAPES = """@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:PersonShape a sh:NodeShape ;
  sh:targetClass ex:Person ;
  sh:property [ sh:path ex:name ; sh:minCount 1 ; sh:maxCount 2 ; sh:datatype xsd:string ] ;
  sh:property [ sh:path ex:age ; sh:datatype xsd:integer ; sh:maxInclusive 120 ] ;
  sh:property [ sh:path ex:knows ; sh:class ex:Person ] .
ex:RobotShape a sh:NodeShape ;
  sh:targetClass ex:Robot ;
  sh:closed true ;
  sh:ignoredProperties ( ex:serial ) ;
  sh:property [ sh:path ex:model ; sh:minCount 0 ] .
"""

EX = "http://example.org/"


@pytest.fixture(scope="module")
def tables(spark):
    src = spark.createDataFrame(
        pd.DataFrame(
            [{"repo": "r", "path": "d.ttl", "commit": "c" * 40, "lang": "Turtle", "content": DATA}]
        )
    )
    cfg = GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY)
    t = transform_triples(extract_triples(src), cfg)
    return materialize(t, cfg)


def test_shacl_verdicts(spark, tables):
    shapes = compile_shapes(SHAPES)
    assert len(shapes.props) == 4
    assert len(shapes.nodes) == 1 and shapes.nodes[0].closed
    v = ShaclValidator(tables)
    res = v.validate(shapes).toPandas()
    got = sorted(
        (r.focus_node, r.property_shape.split("#")[-1], (r.result_path or "").split("/")[-1])
        for r in res.itertuples()
    )
    expected = sorted(
        [
            (EX + "p2", "MinCountConstraintComponent", "name"),
            (EX + "p3", "MaxCountConstraintComponent", "name"),
            (EX + "p2", "DatatypeConstraintComponent", "age"),
            (EX + "p2", "MaxInclusiveConstraintComponent", "age"),
            (EX + "p2", "ClassConstraintComponent", "knows"),
        ]
    )
    assert got == expected, got
    # severity defaults to sh:Violation
    assert set(res.severity) == {SH + "Violation"}


def test_shacl_node_set_scope(spark, tables):
    """validateSet analogue (ValidationProcedures.java:139-153)."""
    shapes = compile_shapes(SHAPES)
    v = ShaclValidator(tables)
    only_p3 = spark.createDataFrame(pd.DataFrame({"uri": [EX + "p3"]}))
    res = v.validate(shapes, node_set=only_p3).toPandas()
    assert set(res.focus_node) == {EX + "p3"}
    empty = spark.createDataFrame(pd.DataFrame({"uri": [EX + "nobody"]}))
    assert v.validate(shapes, node_set=empty).count() == 0


def test_shacl_closed_shape(spark, tables):
    """Closed shape: add an off-shape property to a Robot and expect a
    ClosedConstraintComponent violation naming it."""
    shapes = compile_shapes(SHAPES)
    data2 = DATA + 'ex:npc ex:rogue "v" .\n'
    import pandas as pd

    src = spark.createDataFrame(
        pd.DataFrame(
            [{"repo": "r", "path": "d.ttl", "commit": "c" * 40, "lang": "Turtle", "content": data2}]
        )
    )
    from neosemantics_spark.operators.materialize import materialize, transform_triples
    from neosemantics_spark.sources.parse import extract_triples
    from neosemantics_spark.config import ARRAY, KEEP, GraphConfig

    cfg = GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY)
    tb = materialize(transform_triples(extract_triples(src), cfg), cfg)
    res = ShaclValidator(tb).validate(shapes).toPandas()
    closed = res[res.property_shape.str.endswith("ClosedConstraintComponent")]
    assert list(closed.focus_node) == [EX + "npc"]
    assert list(closed.offending_value) == [EX + "rogue"]


def test_shacl_validate_delta_matches_scoped_validate(spark, tables):
    """validateTransaction analogue: validate_delta over a delta node set
    must produce exactly the node-set-scoped validate() verdicts (the
    label-index shape skipping is an optimization, never a semantic
    change — ValidatorConfig.java:147-171)."""
    shapes = compile_shapes(SHAPES)
    v = ShaclValidator(tables)
    delta = spark.createDataFrame(pd.DataFrame({"uri": [EX + "p2"]}))
    got = sorted(
        (r.focus_node, r.property_shape.split("#")[-1])
        for r in v.validate_delta(shapes, delta).toPandas().itertuples()
    )
    want = sorted(
        (r.focus_node, r.property_shape.split("#")[-1])
        for r in v.validate(shapes, node_set=delta).toPandas().itertuples()
    )
    assert got == want and len(got) == 4, got


def test_shacl_validate_delta_skips_untouched_shapes(spark, tables):
    """A delta touching only Robot nodes must not run Person constraints
    (trigger-label index, ValidatorConfig.java:100-113); and an
    off-universe delta runs nothing at all."""
    shapes = compile_shapes(SHAPES)
    v = ShaclValidator(tables)
    robot_delta = spark.createDataFrame(pd.DataFrame({"uri": [EX + "npc"]}))
    assert v.validate_delta(shapes, robot_delta).count() == 0
    ghost = spark.createDataFrame(pd.DataFrame({"uri": [EX + "nobody"]}))
    assert v.validate_delta(shapes, ghost).count() == 0


def test_shacl_target_query_forbidden_fns(spark, tables):
    """A hostile shapes doc using reflect()/java_method() in
    sh:targetQuery is rejected at compile-validate time."""
    hostile = """@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ;
  sh:targetQuery "reflect('java.lang.System', 'getenv', uri) IS NOT NULL" ;
  sh:property [ sh:path ex:name ; sh:minCount 1 ] .
"""
    shapes = compile_shapes(hostile)
    v = ShaclValidator(tables)
    with pytest.raises(ValueError, match="Forbidden function"):
        v.validate(shapes).count()


def test_shapes_store_roundtrip(spark, tables, tmp_path):
    """n10s.validation.shacl.import.inline / listShapes / dropShapes
    analogue (ValidationProcedures.java:57-117): import persists doc +
    constraint listing; compiled() revalidates identically; drop clears."""
    from neosemantics_spark.validation.store import ShapesStore

    store = ShapesStore(spark, str(tmp_path / "ckpt"))
    assert store.compiled() is None and store.list_shapes().empty
    listing = store.import_shapes(SHAPES)
    assert len(listing) >= 6  # minCount/maxCount/datatype x2/maxInclusive/class/closed...
    params = set(listing.param)
    assert {"min_count", "max_count", "datatype", "max_inclusive", "class_constraint", "closed"} <= params
    # Person name minCount 1 AND Robot model minCount 0 both list
    assert set(listing[listing.param == "min_count"].target) == {EX + "Person", EX + "Robot"}
    # stored shapes validate exactly like freshly compiled ones
    v = ShaclValidator(tables)
    got = sorted(
        (r.focus_node, r.property_shape.split("#")[-1])
        for r in v.validate(store.compiled()).toPandas().itertuples()
    )
    want = sorted(
        (r.focus_node, r.property_shape.split("#")[-1])
        for r in v.validate(compile_shapes(SHAPES)).toPandas().itertuples()
    )
    assert got == want
    # listShapes re-read from disk matches the returned listing
    again = store.list_shapes()

    def canon(df):
        return sorted(tuple("" if v is None else str(v) for v in row) for row in df.values.tolist())

    assert canon(again) == canon(listing)
    store.drop_shapes()
    assert store.compiled() is None and store.list_shapes().empty
    # a malformed doc is rejected BEFORE anything is persisted
    store.import_shapes(SHAPES)
    with pytest.raises(Exception):
        store.import_shapes("@prefix sh: <oops")
    assert store.compiled() is not None  # previous shapes intact


def test_view_checks(spark, tables):
    """viewCypher analogue: one record per compiled check; explain=True
    attaches the optimized plan text."""
    shapes = compile_shapes(SHAPES)
    v = ShaclValidator(tables)
    recs = v.view_checks(shapes)
    # PersonShape: name (min+max+datatype), age (datatype+maxIncl), knows
    # (class x2) + datatype rel-check...; RobotShape closed
    assert len(recs) >= 8
    assert {r["shape_id"] for r in recs} == {EX + "PersonShape", EX + "RobotShape"}
    with_plans = v.view_checks(shapes, explain=True)
    assert all("Aggregate" in r["plan"] or "Join" in r["plan"] or "Filter" in r["plan"]
               for r in with_plans)


QUAD_SHAPES = """@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:AShape a sh:NodeShape ;
  sh:targetQuery "uri = 'http://example.org/a'" ;
  sh:property [ sh:path ex:p ; sh:maxCount 1 ] ;
  sh:property [ sh:path ex:q ; sh:minCount 2 ] .
"""


def test_shacl_counts_over_quads(spark):
    """Count constraints on a node that lives in several named graphs
    (data/dataset.trig). ex:a has one node row per graph: the default
    graph (ex:default "d"), g1 (edge ex:p -> ex:b) and g2 (edge
    ex:p -> ex:c, ex:q "v"). Each (uri, graph) row is one focus row, and
    the facts join it on uri alone, so each of the three counts ex:a's
    facts over all its graphs:
      ex:p maxCount 1: 2 edges (g1 + g2) on each row -> 3 results of "2"
      ex:q minCount 2: 1 value (g2) on each row -> 3 results of "1"
    (Counted per graph, ex:p would be 0/1/1 and ex:q 0/0/1.)"""
    lang, content = FIXTURES["data/dataset.trig"]
    src = spark.createDataFrame(
        pd.DataFrame(
            [{"repo": "r", "path": "d.trig", "commit": "c" * 40, "lang": lang, "content": content}]
        )
    )
    cfg = GraphConfig(handle_vocab_uris=KEEP)
    tb = materialize(transform_triples(extract_triples(src), cfg), cfg)
    focus = tb.nodes.filter(F.col("uri") == EX + "a").toPandas()
    assert sorted(g or "" for g in focus.graph) == ["", EX + "g1", EX + "g2"]
    res = ShaclValidator(tb).validate(compile_shapes(QUAD_SHAPES)).toPandas()
    got = sorted(
        (r.focus_node, r.property_shape.split("#")[-1], r.result_path, r.offending_value)
        for r in res.itertuples()
    )
    assert got == sorted(
        [(EX + "a", "MaxCountConstraintComponent", EX + "p", "2")] * 3
        + [(EX + "a", "MinCountConstraintComponent", EX + "q", "1")] * 3
    ), got
