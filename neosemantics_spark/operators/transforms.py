"""Per-statement transforms T1–T10 (SURVEY.md §2.2) as pure column exprs.

Everything here is JVM-side (`pyspark.sql.functions` only — no Python in
the hot path): filters push down to the parquet scan of a cached triples
table, casts stay inside whole-stage codegen.

Reference semantics: /root/reference/src/main/java/n10s/RDFToLPGStatementProcessor.java
(getObjectValue :101-172, handleIRI :223-269, filters :401-404/:104-114).
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import (
    IGNORE,
    KEEP,
    MAP,
    SHORTEN,
    SHORTEN_STRICT,
    GraphConfig,
)
from ..rdf.terms import RDF_LANGSTRING, XSD
from .prefixes import local_name_of, map_literal, shorten_expr

WKT_DT = "http://www.opengis.net/ont/geosparql#wktLiteral"

_LONG_TYPES = [
    XSD + t
    for t in (
        "integer", "long", "int", "short", "byte",
        "nonNegativeInteger", "positiveInteger", "negativeInteger",
        "nonPositiveInteger", "unsignedLong", "unsignedInt",
        "unsignedShort", "unsignedByte",
    )
]
_DOUBLE_TYPES = [XSD + t for t in ("decimal", "double", "float")]
_KNOWN_TYPES = set(
    _LONG_TYPES
    + _DOUBLE_TYPES
    + [
        XSD + "string", RDF_LANGSTRING, XSD + "boolean",
        XSD + "dateTime", XSD + "date", WKT_DT,
    ]
)


# ------------------------------------------------------------------ T1/T2
def filter_predicates(triples: DataFrame, cfg: GraphConfig) -> DataFrame:
    """T1 predicate exclusion (RDFToLPGStatementProcessor.java:401-404).
    `isin` over a small literal list → pushed-down In filter."""
    if not cfg.predicate_exclusion_list:
        return triples
    return triples.filter(~F.col("predicate").isin(cfg.predicate_exclusion_list))


def filter_language(triples: DataFrame, cfg: GraphConfig) -> DataFrame:
    """T2 language filter (RDFToLPGStatementProcessor.java:104-114):
    a literal with a lang tag ≠ filter is dropped; untagged literals and
    non-literals pass."""
    if cfg.language_filter is None:
        return triples
    return triples.filter(
        ~F.col("is_literal")
        | F.col("lang").isNull()
        | (F.col("lang") == cfg.language_filter)
    )


# ------------------------------------------------------------------ T3–T5
def is_custom_datatype(cfg: GraphConfig) -> Column:
    """A literal's datatype is custom (not one the typed columns handle)
    and, when customDataTypePropList is set, its predicate is listed
    (RDFToLPGStatementProcessor.java:155-171,189-198)."""
    dt = F.col("datatype")
    is_custom = dt.isNotNull() & ~dt.isin(list(_KNOWN_TYPES))
    if cfg.custom_data_type_prop_list:
        is_custom = is_custom & F.col("predicate").isin(cfg.custom_data_type_prop_list)
    return is_custom


def literal_value_expr(cfg: GraphConfig) -> Column:
    """T3/T4/T5: canonical string form of a literal object, mirroring
    getObjectValue (RDFToLPGStatementProcessor.java:101-172):
    - langString: value, or value@lang when keepLangTag (:107-110)
    - custom datatype: value^^<short dt> when keepCustomDataTypes and the
      predicate qualifies (:155-171,189-198), else bare value
    - everything else: lexical form (numeric canonicalization happens in
      the typed columns, not here — the reference stores natives; our
      `props` map stores canonical strings + typed views carry natives).
    """
    v = F.col("object")
    dt = F.col("datatype")
    lang_tagged = (dt == RDF_LANGSTRING) & F.col("lang").isNotNull()
    out = v
    if cfg.keep_lang_tag:
        out = F.when(lang_tagged, F.concat(v, F.lit("@"), F.col("lang"))).otherwise(out)
    if cfg.keep_custom_data_types:
        out = F.when(is_custom_datatype(cfg), F.concat(v, F.lit("^^"), dt)).otherwise(out)
    return out


def typed_value_columns() -> Dict[str, Column]:
    """T3 datatype cast: `value_type` + native typed columns, by name.
    Pure `cast`/`to_timestamp`/`to_date` (try_ semantics → NULL on failure,
    matching the reference's parse-fallback-to-string behavior,
    utils/DateUtils.java:21-89)."""
    dt = F.col("datatype")
    v = F.col("object")
    is_lit = F.col("is_literal")
    is_long, is_double = dt.isin(_LONG_TYPES), dt.isin(_DOUBLE_TYPES)
    value_long = F.when(is_lit & is_long, F.expr("try_cast(object as long)"))
    value_double = F.when(is_lit & is_double, F.expr("try_cast(object as double)"))
    value_bool = F.when(is_lit & (dt == XSD + "boolean"), F.expr("try_cast(object as boolean)"))
    # Spark's timestamp cast accepts ISO-8601 incl. 'T', fractions, Z and
    # offsets — mirrors the reference's 3-stage fallback parse
    # (utils/DateUtils.java:21-54); failure → NULL → degrade to string.
    value_ts = F.when(
        is_lit & (dt == XSD + "dateTime"), F.expr("try_cast(object as timestamp)")
    )
    value_date = F.when(is_lit & (dt == XSD + "date"), F.expr("try_cast(substring(object,1,10) as date)"))
    # WKT point → struct (Spark has no point type; SURVEY.md §1.6)
    wkt = F.regexp_extract(v, r"Point\(([-\d.]+)\s+([-\d.]+)\s*([-\d.]+)?\)", 1)
    value_point = F.when(
        is_lit & (dt == WKT_DT),
        F.struct(
            F.regexp_extract(v, r"Point\(([-\d.eE+]+)\s", 1).cast("double").alias("x"),
            F.regexp_extract(v, r"Point\([-\d.eE+]+\s+([-\d.eE+]+)", 1).cast("double").alias("y"),
            F.regexp_extract(v, r"Point\([-\d.eE+]+\s+[-\d.eE+]+\s+([-\d.eE+]+)", 1)
            .cast("double")
            .alias("z"),
            F.lit("cartesian").alias("crs"),
        ),
    )
    value_type = (
        F.when(~is_lit, F.lit(None).cast("string"))
        .when(is_long & value_long.isNotNull(), "LONG")
        .when(is_double & value_double.isNotNull(), "DOUBLE")
        .when((dt == XSD + "boolean") & value_bool.isNotNull(), "BOOLEAN")
        .when((dt == XSD + "dateTime") & value_ts.isNotNull(), "DATETIME")
        .when((dt == XSD + "date") & value_date.isNotNull(), "DATE")
        .when((dt == WKT_DT) & (wkt != ""), "POINT")
        .when(dt.isNull() | dt.isin([XSD + "string", RDF_LANGSTRING]), "STRING")
        .otherwise("STRING")  # unparseable typed literal degrades to string
    )
    return {
        "value_long": value_long,
        "value_double": value_double,
        "value_bool": value_bool,
        "value_ts": value_ts,
        "value_date": value_date,
        "value_point": value_point,
        "value_type": value_type,
    }


def with_typed_values(triples: DataFrame) -> DataFrame:
    """Adds the `typed_value_columns` in one projection."""
    return triples.withColumns(typed_value_columns())


# ------------------------------------------------------------------ T6
def iri_transform_exprs(
    col: Column,
    cfg: GraphConfig,
    ns_to_prefix: Optional[Dict[str, str]] = None,
    kinds: Sequence[str] = ("prop",),
    mapping: Optional[Dict[str, str]] = None,
) -> Dict[str, Column]:
    """T6 handleIRI (RDFToLPGStatementProcessor.java:223-269): kind →
    transformed `col`, all kinds built on one namespace/local-name
    extraction and one prefix or mapping lookup.

    kind ∈ {'prop','rel','label'} — only IGNORE+applyNeo4jNaming cares
    (:240-257: UPPERCASE rels, Capitalised labels, camelCase props).
    MAP mode: user mapping dict hit else IGNORE fallback (:260-269).
    """
    mode = cfg.handle_vocab_uris
    if mode == KEEP:
        return {k: col for k in kinds}
    if mode in (SHORTEN, SHORTEN_STRICT):
        short = shorten_expr(col, ns_to_prefix or {})
        return {k: short for k in kinds}
    if mode not in (IGNORE, MAP):
        raise ValueError(f"unknown handleVocabUris mode {mode}")
    # IGNORE / MAP share the local-name fallback
    local = local_name_of(col)
    local = F.when(local == "", col).otherwise(local)
    mapped = F.element_at(map_literal(mapping), col) if mode == MAP and mapping else None
    out = {}
    for kind in kinds:
        name = local
        if cfg.apply_neo4j_naming:
            if kind == "rel":
                name = F.upper(local)
            elif kind == "label":
                name = F.concat(F.upper(local.substr(1, 1)), local.substr(2, 10_000))
            else:
                name = F.concat(F.lower(local.substr(1, 1)), local.substr(2, 10_000))
        out[kind] = name if mapped is None else F.coalesce(mapped, name)
    return out


# ------------------------------------------------------------------ rows
def split_star_rows(triples: DataFrame):
    """T10: (regular triples, rdf-star rel-prop rows).

    A star row (sspo non-null, literal object) becomes a property on the
    edge identified by sspo (RDFToLPGStatementProcessor.java:406-424)."""
    regular = triples.filter(F.col("sspo").isNull() & F.col("subject").isNotNull())
    star = triples.filter(F.col("sspo").isNotNull() & F.col("is_literal"))
    return regular, star


def dedup_statements(triples: DataFrame) -> DataFrame:
    """A4 statement set-dedup (RDFToLPGStatementProcessor.java:54,292-294) —
    but keeping the FIRST occurrence in canonical order so stmt-order
    semantics (OVERWRITE last-wins) stay deterministic."""
    order = F.struct("repo", "path", "commit", "stmt_idx")
    return (
        triples.groupBy(
            "subject", "predicate", "object", "is_literal", "datatype", "lang", "graph"
        )
        .agg(
            F.min(order).alias("_ord"),
            F.first("sspo", ignorenulls=True).alias("sspo"),
        )
        .select(
            "subject", "predicate", "object", "is_literal", "datatype", "lang", "graph",
            "sspo",
            F.col("_ord.repo").alias("repo"),
            F.col("_ord.path").alias("path"),
            F.col("_ord.commit").alias("commit"),
            F.col("_ord.stmt_idx").alias("stmt_idx"),
        )
    )
