"""Deterministic namespace→prefix assignment (the `_NsPrefDef` analogue).

The reference stores prefixes on a singleton node and generates `ns0, ns1…`
in statement-arrival order with a write-lock for concurrent importers
(/root/reference/src/main/java/n10s/utils/NsPrefixMap.java:94-113,214-246).
Arrival order is not reproducible on a distributed engine, so we assign
generated prefixes by SORTED ORDER over the distinct namespaces present in
the data: one distributed `distinct` aggregation, then a driver-side sort
of the (tiny, metadata-sized) namespace set — no coordination, stable
run-to-run (SURVEY.md §4 "deterministic prefix resolution").
"""

from __future__ import annotations

import json
import re
from typing import Callable, Dict, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import PREFIX_SEPARATOR, STANDARD_PREFIXES

# rdf4j-style local-name boundary: last '#' or '/'
NS_SPLIT_RE = r"^(.*[#/])([^#/]*)$"


def namespace_of(col):
    return F.regexp_extract(col, NS_SPLIT_RE, 1)


def local_name_of(col):
    return F.regexp_extract(col, NS_SPLIT_RE, 2)


def collect_namespaces(triples: DataFrame) -> List[str]:
    """Distinct namespaces of predicates + rdf:type objects + datatypes —
    the set the reference learns during import. Distributed agg, tiny result."""
    is_type = (
        F.col("predicate") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    ) & ~F.col("is_literal")
    # one scan: the three namespaces of a row, NULL where they do not apply
    ns = F.explode(
        F.array(
            namespace_of("predicate"),
            F.when(F.col("datatype").isNotNull(), namespace_of("datatype")),
            F.when(is_type, namespace_of("object")),
        )
    )
    rows = triples.select(ns.alias("ns")).filter(F.col("ns") != "").distinct().collect()
    return sorted(r["ns"] for r in rows)


def build_prefix_map(namespaces: List[str], extra: Optional[Dict[str, str]] = None) -> Dict[str, str]:
    """namespace → prefix. Standard namespaces keep their well-known
    prefixes (NsPrefixMap.java:16-30); the rest get ns0, ns1… in sorted
    namespace order."""
    ns_to_prefix: Dict[str, str] = {v: k for k, v in STANDARD_PREFIXES.items()}
    if extra:
        for pfx, ns in extra.items():
            ns_to_prefix[ns] = pfx
    i = 0
    for ns in sorted(set(namespaces)):
        if ns not in ns_to_prefix:
            ns_to_prefix[ns] = f"ns{i}"
            i += 1
    return ns_to_prefix


def validate_namespaces(triples: DataFrame, ns_to_prefix: Dict[str, str]) -> None:
    """SHORTEN_STRICT: any namespace in use but absent from the prefix map
    raises (NsPrefixMap.java:109-112 throws on undefined prefixes)."""
    unknown = [ns for ns in collect_namespaces(triples) if ns not in ns_to_prefix]
    if unknown:
        raise ValueError(
            f"SHORTEN_STRICT: undefined namespace prefixes for {sorted(unknown)[:10]}"
        )


def map_literal(d: Dict[str, str]) -> Column:
    """A constant map<string,string> column built from ONE string literal:
    its plan is the same size for 10 entries or 1,000, and the optimizer
    folds it into a map literal (no per-row JSON parsing)."""
    return F.from_json(F.lit(json.dumps(d, sort_keys=True)), "map<string,string>")


def shorten_expr(col: Column, ns_to_prefix: Dict[str, str]) -> Column:
    """IRI column → 'prefix__local': one constant-map lookup of the IRI's
    namespace (the `NsPrefixMap` lookup of handleIRI,
    RDFToLPGStatementProcessor.java:223-269). JVM-side, no Python. Unknown
    namespace: keep the full IRI (SHORTEN_STRICT raises at plan-build time
    via validate_namespaces)."""
    if not ns_to_prefix:
        return col
    # a missing key (or a NULL IRI) gives NULL, ANSI mode included
    m = map_literal({ns: p + PREFIX_SEPARATOR for ns, p in ns_to_prefix.items()})
    pfx = F.element_at(m, namespace_of(col))
    return F.coalesce(F.concat(pfx, local_name_of(col)), col)


def shorten_iri(ns_to_prefix: Dict[str, str]) -> Callable[[str], str]:
    """The driver-side twin of `shorten_expr` for one IRI (a SHACL shape's
    class or path, say): the same namespace split and the same exact map
    lookup, so it yields the form the transforms stored. Unknown
    namespace: the full IRI."""
    split = re.compile(NS_SPLIT_RE)

    def shorten(iri: str) -> str:
        m = split.match(iri)
        pfx = ns_to_prefix.get(m.group(1)) if m else None
        return iri if pfx is None else pfx + PREFIX_SEPARATOR + m.group(2)

    return shorten


def expand_short_form(col: Column, prefix_to_ns: Optional[Dict[str, str]]) -> Column:
    """'prefix__local' → full IRI (fullUriFromShortForm,
    rdf/RDFProcedures.java:349-365). The value's prefix is the greatest
    'prefix__' key it starts with — among keys that all prefix one value,
    the longest — looked up once in a constant map. Values without a known
    prefix (and NULL) pass through unchanged."""
    if not prefix_to_ns:
        return col
    m = map_literal({p + PREFIX_SEPARATOR: ns for p, ns in prefix_to_ns.items()})
    key = F.array_max(F.filter(F.map_keys(m), lambda k: col.startswith(k)))
    return F.coalesce(
        F.concat(F.element_at(m, key), col.substr(F.length(key) + 1, F.length(col))), col
    )
