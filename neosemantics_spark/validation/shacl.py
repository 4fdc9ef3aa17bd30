"""SHACL validation as one DataFrame plan over the graph tables.

Reference pipeline (/root/reference/src/main/java/n10s/validation/):
shapes doc → 3 SPARQL extraction queries (SHACLValidator.java:59-180) →
constraint records → one compiled Cypher violation query per constraint
(SHACLValidator.java:1219-1533) → UNION batches (ValidatorConfig.java:115-145).

Here: the shapes doc is parsed driver-side with our own Turtle parser into
constraint records (the `ValidatorConfig` analogue), which flatten into a
small constraint table, `CompiledShapes.checks`: one row per (shape,
target, path, component, params). `ShaclValidator` evaluates the whole
table in one plan whose shape depends on which kinds of check occur, never
on how many (a query per constraint is the shape Spark handles worst):

- focus rows: `nodes` × the table, which travels as one literal array
  (broadcast with the tasks) exploded on target-label membership; each
  distinct sh:targetQuery adds one filtered subset;
- facts: one pass over `node_props` filtered to the constrained props and
  one over `edges` filtered to the constrained rels, with one left join
  for the far end's labels when a sh:class check needs them;
- one left join of focus rows to facts on (uri, path), then one grouped
  aggregation per (focus node, check): the count (0 for a node without
  facts), the hasValue hit and the offending values, each decided by one
  CASE on the check kind (value checks: datatype, in, pattern, lengths,
  ranges, class/nodeKind on a literal; edge checks: class, in over IRIs,
  nodeKind literal, datatype "used as relationship"; focus checks:
  min/maxCount, hasValue, sh:not, class of the focus node);
- closed shapes and sh:disjoint add one join each.

A node-set or delta scope is one filter on the nodes, below the join and
the aggregation.

Result schema follows ValidatorConfig.java:21-23 / ValidationResult.java:
(focus_node, node_type, shape_id, property_shape, offending_value,
 result_path, severity, result_message).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Dict, List, NamedTuple, Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..operators.materialize import GraphTables
from ..rdf.terms import RDF_FIRST, RDF_NIL, RDF_REST, RDF_TYPE, SH, XSD, BNode, IRI, Literal
from ..rdf.turtle import parse_turtle

SH_VIOLATION = SH + "Violation"

RESULT_SCHEMA = StructType(
    [
        StructField("focus_node", StringType()),
        StructField("node_type", StringType()),
        StructField("shape_id", StringType()),
        StructField("property_shape", StringType()),
        StructField("offending_value", StringType()),
        StructField("result_path", StringType()),
        StructField("severity", StringType()),
        StructField("result_message", StringType()),
    ]
)


@dataclass
class PropertyConstraint:
    """One property-shape row — the IR#1 record of SHACLValidator.java
    (constraint record per property shape, :969-1165)."""

    shape_id: str
    target_class: Optional[str]
    path: str
    inverse: bool = False
    target_query: Optional[str] = None
    min_count: Optional[int] = None
    max_count: Optional[int] = None
    datatype: Optional[str] = None
    class_constraint: Optional[str] = None
    node_kind: Optional[str] = None
    has_value_uri: Optional[str] = None
    has_value_literal: Optional[str] = None
    in_literals: Optional[List[str]] = None
    in_uris: Optional[List[str]] = None
    pattern: Optional[str] = None
    min_length: Optional[int] = None
    max_length: Optional[int] = None
    min_inclusive: Optional[float] = None
    max_inclusive: Optional[float] = None
    min_exclusive: Optional[float] = None
    max_exclusive: Optional[float] = None
    disjoint_path: Optional[str] = None
    severity: str = SH_VIOLATION
    message: Optional[str] = None


@dataclass
class NodeConstraint:
    """Closed-shape / class-level constraints (SHACLValidator.java:125-180)."""

    shape_id: str
    target_class: Optional[str]
    closed: bool = False
    target_query: Optional[str] = None
    ignored_props: List[str] = field(default_factory=list)
    allowed_props: List[str] = field(default_factory=list)
    not_class: Optional[str] = None
    required_class: Optional[str] = None
    severity: str = SH_VIOLATION


class Check(NamedTuple):
    """One row of the compiled constraint table. `kind` names the rule
    that decides a violation (see ShaclValidator._plan); `arg`/`args` hold
    its parameter (an IRI for the kinds in _IRI_ARG/_IRI_ARGS)."""

    shape_id: str
    target_class: Optional[str]
    target_query: Optional[str]
    path: Optional[str]  # None for node-level checks
    inverse: bool  # read edges object→subject
    kind: str
    component: str
    num: Optional[float] = None
    arg: Optional[str] = None
    args: Optional[List[str]] = None
    severity: str = SH_VIOLATION
    message: str = ""


# check kinds by the rows they read; focus kinds decide once per focus node
_READS_VALUES = ("datatype", "literal", "in", "pattern", "min_length", "max_length",
                 "min_inclusive", "max_inclusive", "min_exclusive", "max_exclusive",
                 "min_count", "max_count", "has_value")
_READS_EDGES = ("relationship", "class", "in_iri", "min_count", "max_count", "has_edge")
_FOCUS_RULES = ("min_count", "max_count", "has_value", "has_edge", "has_label",
                "not_class", "required_class")
_IRI_ARG = ("class", "has_edge", "has_label", "not_class", "required_class", "disjoint")
_IRI_ARGS = ("in_iri", "closed")

_XSD_CAST = {
    XSD + "integer": "long", XSD + "long": "long", XSD + "int": "long",
    XSD + "decimal": "double", XSD + "double": "double", XSD + "float": "double",
    XSD + "boolean": "boolean", XSD + "dateTime": "timestamp", XSD + "date": "date",
}


def _property_checks(c: PropertyConstraint) -> List[Check]:
    out: List[Check] = []

    def add(kind, component, message, inverse=False, **kw) -> None:
        out.append(Check(
            c.shape_id, c.target_class, c.target_query, c.path, inverse, kind,
            component + "ConstraintComponent", severity=c.severity,
            message=c.message or message, **kw,
        ))

    # cardinality = #values + #out-rels (inverse → in-rels)
    # (SHACLValidator.java:1418-1487)
    if c.min_count is not None:
        add("min_count", "MinCount", f"minCount {c.min_count}", c.inverse, num=c.min_count)
    if c.max_count is not None:
        add("max_count", "MaxCount", f"maxCount {c.max_count}", c.inverse, num=c.max_count)
    if c.datatype is not None:
        add("datatype", "Datatype", f"datatype {c.datatype}", arg=_XSD_CAST.get(c.datatype))
        # property used as relationship (SHACLValidator.java:1234-1256)
        add("relationship", "Datatype", "property used as relationship")
    if c.class_constraint is not None:
        # object must bear the class label (J6 anti-join family,
        # SHACLValidator.java:1332-1354); a literal value violates too
        add("class", "Class", f"class {c.class_constraint}", c.inverse, arg=c.class_constraint)
        add("literal", "Class", "literal where resource expected")
    if c.node_kind is not None:
        if c.node_kind.endswith("Literal"):
            add("relationship", "NodeKind", "expected literal")
        else:  # sh:IRI / sh:BlankNodeOrIRI: must not be a stored property
            add("literal", "NodeKind", "expected IRI")
    if c.has_value_uri is not None:
        kind = "has_label" if c.path == RDF_TYPE else "has_edge"
        add(kind, "HasValue", f"missing required value {c.has_value_uri}", arg=c.has_value_uri)
    if c.has_value_literal is not None:
        add("has_value", "HasValue", f"missing required value {c.has_value_literal}",
            arg=c.has_value_literal)
    if c.in_literals is not None:
        add("in", "In", "value not in enumeration", args=c.in_literals)
    if c.in_uris is not None:
        add("in_iri", "In", "value not in enumeration", args=c.in_uris)
    if c.pattern is not None:
        add("pattern", "Pattern", f"pattern {c.pattern}", arg=c.pattern)
    for kind, component in (
        ("min_length", "MinLength"), ("max_length", "MaxLength"),
        ("min_inclusive", "MinInclusive"), ("max_inclusive", "MaxInclusive"),
        ("min_exclusive", "MinExclusive"), ("max_exclusive", "MaxExclusive"),
    ):
        v = getattr(c, kind)
        if v is not None:
            add(kind, component, f"{component[0].lower()}{component[1:]} {v}", num=v)
    if c.disjoint_path is not None:
        # value sets of two props must not overlap (SHACLValidator.java:1446-1479)
        add("disjoint", "Disjoint", f"disjoint {c.disjoint_path}", arg=c.disjoint_path)
    return out


def _node_checks(c: NodeConstraint) -> List[Check]:
    specs = [
        (c.closed, "closed", "Closed", "closed shape violation", None),
        (c.not_class, "not_class", "Not", f"must not be a {c.not_class}", c.not_class),
        (c.required_class, "required_class", "Class", f"must also be a {c.required_class}",
         c.required_class),
    ]
    return [
        Check(c.shape_id, c.target_class, c.target_query, None, False, kind,
              component + "ConstraintComponent", arg=arg, severity=c.severity, message=msg,
              args=c.allowed_props + c.ignored_props if kind == "closed" else None)
        for on, kind, component, msg, arg in specs if on
    ]


@dataclass
class CompiledShapes:
    props: List[PropertyConstraint]
    nodes: List[NodeConstraint]

    @property
    def checks(self) -> List[Check]:
        """The constraint table: one row per check the validator runs."""
        return [k for c in self.props for k in _property_checks(c)] + [
            k for c in self.nodes for k in _node_checks(c)
        ]


def _term_key(t) -> str:
    if isinstance(t, IRI):
        return t.value
    if isinstance(t, BNode):
        return "_:" + t.value
    if isinstance(t, Literal):
        return t.lexical
    return str(t)


def compile_shapes(shapes_doc: str) -> CompiledShapes:
    """Parse a Turtle shapes document and extract constraint records —
    the driver-side analogue of the 3 SPARQL queries
    (SHACLValidator.java:59-123 property shapes, :125-151 closed shapes,
    :154-180 class constraints)."""
    stmts = parse_turtle(shapes_doc)
    spo: Dict[str, Dict[str, List]] = {}
    for s in stmts:
        sk = _term_key(s.s)
        spo.setdefault(sk, {}).setdefault(_term_key(s.p), []).append(s.o)

    def one(subj: str, pred: str):
        vals = spo.get(subj, {}).get(pred)
        return vals[0] if vals else None

    def rdf_list(head) -> List:
        out = []
        cur = head
        while cur is not None and not (isinstance(cur, IRI) and cur.value == RDF_NIL):
            ck = _term_key(cur)
            first = one(ck, RDF_FIRST)
            if first is not None:
                out.append(first)
            cur = one(ck, RDF_REST)
        return out

    props: List[PropertyConstraint] = []
    node_cons: List[NodeConstraint] = []
    for subj, pmap in spo.items():
        types = [_term_key(o) for o in pmap.get(RDF_TYPE, [])]
        is_shape = (SH + "NodeShape") in types or (SH + "property") in pmap
        if not is_shape:
            continue
        tc = one(subj, SH + "targetClass")
        # implicit class target: shape that is itself an rdfs/owl Class
        if tc is None and any(t.endswith("Class") for t in types):
            tc = IRI(subj)
        # sh:targetQuery extension point (SHACLValidator.java:885-895
        # validates a Cypher WHERE fragment; the Spark-native analogue is
        # a SQL predicate over the focus-node columns — SURVEY §7 known-
        # hard 6 sanctions this re-scoping)
        tq = one(subj, SH + "targetQuery")
        target_query = tq.lexical if isinstance(tq, Literal) else None
        if tc is None and target_query is None:
            continue
        target = _term_key(tc) if tc is not None else None
        sev_n = one(subj, SH + "severity")
        node_sev = _term_key(sev_n) if sev_n else SH_VIOLATION
        closed_v = one(subj, SH + "closed")
        ignored = [
            _term_key(x) for x in rdf_list(one(subj, SH + "ignoredProperties"))
        ]
        not_v = one(subj, SH + "not")
        required = one(subj, SH + "class")
        allowed: List[str] = []
        for ps in pmap.get(SH + "property", []):
            pk = _term_key(ps)
            path = one(pk, SH + "path")
            inverse = False
            if path is not None and isinstance(path, BNode):
                inv = one(_term_key(path), SH + "inversePath")
                if inv is not None:
                    path = inv
                    inverse = True
            if path is None:
                continue
            path_iri = _term_key(path)
            if not inverse:
                allowed.append(path_iri)
            c = PropertyConstraint(
                shape_id=subj, target_class=target, path=path_iri,
                inverse=inverse, target_query=target_query,
            )

            def num(p, conv=float):
                v = one(pk, SH + p)
                return conv(v.lexical) if isinstance(v, Literal) else None

            c.min_count = num("minCount", int)
            c.max_count = num("maxCount", int)
            dt = one(pk, SH + "datatype")
            c.datatype = _term_key(dt) if dt else None
            cls = one(pk, SH + "class")
            c.class_constraint = _term_key(cls) if cls else None
            nk = one(pk, SH + "nodeKind")
            c.node_kind = _term_key(nk) if nk else None
            hv = one(pk, SH + "hasValue")
            if isinstance(hv, Literal):
                c.has_value_literal = hv.lexical
            elif hv is not None:
                c.has_value_uri = _term_key(hv)
            inlist = rdf_list(one(pk, SH + "in"))
            if inlist:
                lits = [x.lexical for x in inlist if isinstance(x, Literal)]
                uris = [_term_key(x) for x in inlist if not isinstance(x, Literal)]
                c.in_literals = lits or None
                c.in_uris = uris or None
            pat = one(pk, SH + "pattern")
            c.pattern = pat.lexical if isinstance(pat, Literal) else None
            c.min_length = num("minLength", int)
            c.max_length = num("maxLength", int)
            c.min_inclusive = num("minInclusive")
            c.max_inclusive = num("maxInclusive")
            c.min_exclusive = num("minExclusive")
            c.max_exclusive = num("maxExclusive")
            dis = one(pk, SH + "disjoint")
            c.disjoint_path = _term_key(dis) if dis else None
            sev = one(pk, SH + "severity")
            c.severity = _term_key(sev) if sev else SH_VIOLATION
            msg = one(pk, SH + "message")
            c.message = msg.lexical if isinstance(msg, Literal) else None
            props.append(c)
        if closed_v is not None or not_v is not None or required is not None:
            node_cons.append(
                NodeConstraint(
                    shape_id=subj,
                    target_class=target,
                    target_query=target_query,
                    closed=isinstance(closed_v, Literal) and closed_v.lexical == "true",
                    ignored_props=ignored,
                    allowed_props=allowed,
                    not_class=_term_key(not_v) if not_v else None,
                    required_class=_term_key(required) if required else None,
                    severity=node_sev,
                )
            )
    return CompiledShapes(props=props, nodes=node_cons)


# ---------------------------------------------------------------- runtime
# the literal constraint table's struct fields
_TABLE = (
    ("cid", "int"), ("shape", "string"), ("tgt", "string"), ("ntype", "string"),
    ("kind", "string"), ("comp", "string"), ("path", "string"), ("rpath", "string"),
    ("inv", "boolean"), ("rv", "boolean"), ("re", "boolean"), ("num", "double"),
    ("arg", "string"), ("raw", "string"), ("args", "array<string>"),
    ("sev", "string"), ("msg", "string"),
)

Scope = Union[None, List[str], DataFrame]


def _scoped(df: DataFrame, scope: Scope, col: str = "uri") -> DataFrame:
    # a literal delta list also prunes the fact scans (parquet row groups
    # are skipped); a semi-join scope prunes at the focus join
    return df.filter(F.col(col).isin(scope)) if isinstance(scope, list) else df


def _literal_table(rows: List[dict]) -> Column:
    """Constraint rows as one constant array<struct> (folded to a single
    literal, so it ships with every task like a broadcast)."""
    return F.array(*[
        F.struct(*[F.lit(r[k]).cast(t).alias(k) for k, t in _TABLE]) for r in rows
    ])


def _rule(cases: Dict[str, Column], key: str = "c.kind") -> Column:
    """CASE key WHEN ...: the violation condition of each check kind
    (NULL, i.e. no violation, for the kinds not listed)."""
    rule = F
    for k, cond in cases.items():
        rule = rule.when(F.col(key) == k, cond)
    return rule


def _fact_rule() -> Column:
    """Whether one value (`val`, stored type `vtype`) or one edge's far
    end (`val`, its labels `olabels`) violates the check in `c`."""
    val, num, arg = F.col("val"), F.col("c.num"), F.col("c.arg")
    as_num = F.expr("try_cast(val as double)")
    cast_failed = _rule(
        {t: F.expr(f"try_cast(val as {t})").isNull() for t in sorted(set(_XSD_CAST.values()))},
        key="c.arg",
    )
    return _rule({
        # no cast type: string-ish expected, any non-string stored type violates
        "datatype": F.when(arg.isNull(), ~F.col("vtype").isin("STRING"))
        .otherwise(cast_failed & val.isNotNull()),
        "literal": F.lit(True),
        "in": ~F.array_contains("c.args", val),
        "pattern": ~F.expr("val rlike c.arg"),
        "min_length": F.length(val) < num,
        "max_length": F.length(val) > num,
        "min_inclusive": as_num.isNull() | (as_num < num),
        "max_inclusive": as_num.isNull() | (as_num > num),
        "min_exclusive": as_num.isNull() | (as_num <= num),
        "max_exclusive": as_num.isNull() | (as_num >= num),
        "relationship": F.lit(True),
        "class": F.coalesce(~F.array_contains("olabels", arg), F.lit(True)),
        "in_iri": ~F.array_contains("c.args", val),
    })


def _result(df: DataFrame, offending: Column) -> DataFrame:
    return df.select(
        F.col("uri").alias("focus_node"),
        F.col("c.ntype").alias("node_type"),
        F.col("c.shape").alias("shape_id"),
        F.col("c.comp").alias("property_shape"),
        offending.cast("string").alias("offending_value"),
        F.col("c.rpath").alias("result_path"),
        F.col("c.sev").alias("severity"),
        F.col("c.msg").alias("result_message"),
    )


class ShaclValidator:
    """Runtime: constraint table + graph tables → results DF.

    Labels may be stored transformed (SHORTEN/IGNORE); pass `iri_map` to
    translate shape IRIs into stored form (the reference compiles the
    translated names straight into Cypher — SHACLValidator.java:1219+)."""

    def __init__(self, tables: GraphTables, iri_map=None):
        self.t = tables
        self.m = iri_map or (lambda x: x)

    # SQL functions a sh:targetQuery may NOT call: these escape the
    # declarative sandbox into arbitrary JVM invocation. The reference
    # EXPLAIN-validates its Cypher fragment (SHACLValidator.java:885-895);
    # Spark SQL needs an explicit denylist on the ANALYZED tree because
    # reflect()/java_method() are legal expressions.
    _FORBIDDEN_FNS = ("reflect", "java_method")

    def _target_query(self, q: str) -> Column:
        """The sh:targetQuery extension point: a SQL predicate over the
        focus columns (uri, labels), validated before use exactly like the
        reference validates its Cypher fragment (SHACLValidator.java:885-895)."""
        try:
            focus = self.t.nodes.select("uri", "labels").filter(F.expr(q))
            focus.schema  # force analysis — rejects bad columns/syntax
        except Exception as e:  # noqa: BLE001
            raise ValueError(
                f'Invalid SQL expression: "{q}". The SQL fragment in a '
                "sh:targetQuery element should form a valid query when "
                "embedded in the following template: "
                '"SELECT * FROM nodes(uri, labels) WHERE <your sql>"'
            ) from e
        analyzed = focus._jdf.queryExecution().analyzed().toString().lower()
        for fn in self._FORBIDDEN_FNS:
            if fn + "(" in analyzed:
                raise ValueError(
                    f'Forbidden function "{fn}" in sh:targetQuery "{q}": '
                    "shapes documents may only use pure SQL predicates "
                    "over (uri, labels)."
                )
        return F.expr(q)

    def _rows(self, checks: List[Check]) -> List[dict]:
        """The constraint table with shape IRIs in stored form."""
        m, rows = self.m, []
        for i, c in enumerate(checks):
            rows.append({
                "cid": i, "shape": c.shape_id,
                "tgt": m(c.target_class) if c.target_class is not None else None,
                "tq": None if c.target_class is not None else c.target_query,
                "ntype": c.target_class if c.target_class is not None
                else "query:" + (c.target_query or ""),
                "kind": c.kind, "comp": SH + c.component,
                "path": m(c.path) if c.path is not None else None, "rpath": c.path,
                "inv": c.inverse, "rv": c.kind in _READS_VALUES, "re": c.kind in _READS_EDGES,
                "num": c.num, "arg": m(c.arg) if c.kind in _IRI_ARG else c.arg, "raw": c.arg,
                "args": sorted({m(a) for a in c.args}) if c.kind in _IRI_ARGS else c.args,
                "sev": c.severity, "msg": c.message,
            })
        return rows

    def _focus(self, rows: List[dict], scope: Scope) -> DataFrame:
        """Focus rows (uri, graph, labels, c): one per (node, check `c`
        targeting it). Target-class checks explode on label membership;
        each distinct sh:targetQuery filters its own subset. `scope`
        restricts the nodes first: a literal uri list (an In predicate
        that reaches the scan) or a DataFrame[uri] (semi-join) — the
        validateSet/delta scoping of SHACLValidator.java:922-936, below
        every join and aggregation."""
        nodes = _scoped(self.t.nodes.select("uri", "graph", "labels"), scope)
        if isinstance(scope, DataFrame):
            nodes = nodes.join(scope.select("uri"), "uri", "left_semi")
        by_class = [r for r in rows if r["tq"] is None]
        parts = []
        if by_class:
            table = F.filter(
                _literal_table(by_class), lambda c: F.array_contains("labels", c["tgt"])
            )
            parts.append(nodes.select("*", F.explode(table).alias("c")))
        for q in sorted({r["tq"] for r in rows if r["tq"] is not None}):
            table = _literal_table([r for r in rows if r["tq"] == q])
            parts.append(nodes.filter(self._target_query(q)).select("*", F.explode(table).alias("c")))
        return reduce(DataFrame.unionByName, parts)

    def _props(self, paths, scope: Scope) -> DataFrame:
        """(fu, fpath, val, vtype): one row per stored value of `paths`."""
        p = _scoped(self.t.node_props.filter(F.col("prop").isin(sorted(paths))), scope)
        return p.select(
            F.col("uri").alias("fu"), F.col("prop").alias("fpath"),
            F.explode("values").alias("val"), F.col("value_type").alias("vtype"),
        )

    def _facts(self, rows: List[dict], scope: Scope) -> DataFrame:
        """The value and edge rows the checks read, keyed by the focus
        side (fu, fpath): values of the constrained props, and out-edges
        (in-edges where `finv`) of the constrained rels with the far end's
        labels when a sh:class check needs them."""
        none = F.lit(None).cast("array<string>")
        # the value part is there even when empty (`prop IN ()` folds away)
        parts = [self._props({r["path"] for r in rows if r["rv"]}, scope).withColumns(
            {"edge": F.lit(False), "finv": F.lit(False), "olabels": none}
        )]
        edges = []
        for inv, near, far in ((False, "src", "dst"), (True, "dst", "src")):
            rels = {r["path"] for r in rows if r["re"] and r["inv"] == inv}
            if rels:
                e = _scoped(self.t.edges.filter(F.col("rel").isin(sorted(rels))), scope, near)
                edges.append(e.select(
                    F.col(near).alias("fu"), F.col("rel").alias("fpath"), F.col(far).alias("val"),
                    F.lit(None).cast("string").alias("vtype"), F.lit(True).alias("edge"),
                    F.lit(inv).alias("finv"),
                ))
        if edges:
            e = reduce(DataFrame.unionByName, edges)
            if any(r["kind"] == "class" for r in rows):
                labels = self.t.nodes.select(F.col("uri").alias("val"), F.col("labels").alias("olabels"))
                parts.append(e.join(labels, "val", "left"))
            else:
                parts.append(e.withColumn("olabels", none))
        return reduce(DataFrame.unionByName, parts)

    def _plan(self, shapes: CompiledShapes, scope: Scope) -> DataFrame:
        rows = self._rows(shapes.checks)
        out: List[DataFrame] = []
        main = [r for r in rows if r["kind"] not in ("closed", "disjoint")]
        if main:
            # one pass: every focus row left-joins the facts its check reads,
            # then one aggregation per (focus, check) counts them (0 when
            # none) and keeps the offending ones
            reads = F.when(
                F.col("edge"), F.col("c.re") & (F.col("c.inv") == F.col("finv"))
            ).otherwise(F.col("c.rv"))
            on = (F.col("uri") == F.col("fu")) & (F.col("c.path") == F.col("fpath")) & reads
            focus = self._focus(main, scope).join(self._facts(main, scope), on, "left")
            focus = focus.groupBy("uri", "graph", "labels", "c").agg(
                F.count("fu").alias("n"),
                F.max((F.col("val") == F.col("c.arg")).cast("int")).alias("hit"),
                F.collect_list(F.when(_fact_rule(), F.col("val"))).alias("bad"),
            )
            n, hit = F.col("n"), F.coalesce(F.col("hit"), F.lit(0)) > 0
            labeled = F.array_contains("labels", F.col("c.arg"))
            violated = _rule({
                "min_count": n < F.col("c.num"),
                "max_count": n > F.col("c.num"),
                "has_value": ~hit,
                "has_edge": ~hit,
                "has_label": ~labeled,
                "not_class": labeled,
                "required_class": ~labeled,
            })
            counted = F.col("c.kind").isin("min_count", "max_count")
            offending = F.when(
                F.col("c.kind").isin(*_FOCUS_RULES),
                F.when(violated, F.array(F.when(counted, n.cast("string")).otherwise(F.col("c.raw"))))
                .otherwise(F.array()),
            ).otherwise(F.col("bad"))
            out.append(_result(focus.select("uri", "c", F.explode(offending).alias("off")), F.col("off")))
        closed = [r for r in rows if r["kind"] == "closed"]
        if closed:
            used = self.t.node_props.select("uri", F.col("prop").alias("used")).unionByName(
                self.t.edges.select(F.col("src").alias("uri"), F.col("rel").alias("used"))
            )
            bad = self._focus(closed, scope).join(_scoped(used, scope), "uri").filter(
                (F.size("c.args") == 0) | ~F.array_contains("c.args", F.col("used"))
            )
            out.append(_result(bad, F.col("used")))
        disjoint = [r for r in rows if r["kind"] == "disjoint"]
        if disjoint:
            mine = self._props({r["path"] for r in disjoint}, scope)
            theirs = self._props({r["arg"] for r in disjoint}, scope).select(
                F.col("fu").alias("tu"), F.col("fpath").alias("tpath"), F.col("val").alias("tval")
            )
            bad = (
                self._focus(disjoint, scope)
                .join(mine, (F.col("uri") == F.col("fu")) & (F.col("c.path") == F.col("fpath")))
                .join(theirs, (F.col("uri") == F.col("tu")) & (F.col("c.arg") == F.col("tpath"))
                      & (F.col("val") == F.col("tval")))
            )
            out.append(_result(bad, F.col("val")))
        if not out:
            return self.t.nodes.sparkSession.createDataFrame([], RESULT_SCHEMA)
        return reduce(DataFrame.unionByName, out)

    def view_checks(self, shapes: CompiledShapes, explain: bool = False) -> List[dict]:
        """n10s.validation.shacl.viewCypher analogue
        (ValidationProcedures.java:118-126 — the reference prints each
        compiled Cypher violation query): one record per constraint-table
        row; with explain=True each carries the Catalyst-OPTIMIZED plan of
        the one validation plan they all run in — the thing to eyeball
        when asking 'does this constraint prune before it aggregates?'."""
        plan = (
            self.validate(shapes)._jdf.queryExecution().optimizedPlan().toString()
            if explain else None
        )
        return [
            {
                "shape_id": c.shape_id,
                "target": c.target_class or ("query:" + (c.target_query or "")),
                "path": c.path,
                "component": SH + c.component,
                "check_idx": i,
                **({"plan": plan} if explain else {}),
            }
            for i, c in enumerate(shapes.checks)
        ]

    def validate(self, shapes: CompiledShapes, node_set: Optional[DataFrame] = None) -> DataFrame:
        """Full-graph validation (ValidationProcedures.java:128-136); pass
        `node_set` (DataFrame[uri]) for the validateSet variant (:139-153).
        The node set semi-joins the focus nodes, below every aggregation,
        so validating 100 nodes of a huge graph never pays full-graph
        cardinality or closed-shape aggregation."""
        return self._plan(shapes, node_set)

    def validate_delta(
        self,
        shapes: CompiledShapes,
        delta_nodes: DataFrame,
        pushdown_threshold: int = 10_000,
    ) -> DataFrame:
        """validateTransaction analogue (ValidationProcedures.java:23-55,
        155-170): validate ONLY the nodes touched by a delta — e.g.
        `touched_nodes(checkpoint, run_id)` after an incremental run.

        The reference indexes constraints by trigger label
        (ValidatorConfig.java:100-113,147-171) so a transaction touching no
        Person node skips every Person shape; here the focus explode on
        target label does the same inside the plan. A delta of at most
        `pushdown_threshold` uris is collected once (metadata-sized: 10k
        uris ≈ 1 MB) and scopes every scan as a literal In predicate;
        a larger one scopes the focus nodes by semi-join."""
        delta_nodes = delta_nodes.select("uri")
        uris = [r["uri"] for r in delta_nodes.limit(pushdown_threshold + 1).collect()]
        return self._plan(shapes, uris if len(uris) <= pushdown_threshold else delta_nodes)


def touched_nodes(checkpoint, run_id: str) -> DataFrame:
    """Nodes touched by one incremental run: subjects plus resource
    objects of the run's triples (adding an edge touches both endpoints —
    the trigger-node set of ValidationProcedures.java:155-170). Reads only
    the run's partition (triples/run_id=<id>) — partition-pruned scan."""
    t = checkpoint.all_triples().filter(F.col("run_id") == run_id)
    subj = t.select(F.col("subject").alias("uri"))
    obj = t.filter(~F.col("is_literal")).select(F.col("object").alias("uri"))
    return subj.unionByName(obj).distinct()
