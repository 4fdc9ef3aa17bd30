"""Scalar function surface — the n10s user-function family (T11–T14) as
column expressions (zero Python; reference:
/root/reference/src/main/java/n10s/rdf/RDFProcedures.java:224-381,
aux/AuxProcedures.java:17-58; regexes graphconfig/Params.java:21-31).
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.prefixes import NS_SPLIT_RE, expand_short_form, shorten_expr
from ..rdf.terms import XSD

# the reference's three literal-string patterns (Params.java:21-31):
#   "value^^pfx__local" (shortened custom dt), "value^^<iri>", "value@lang"
_DT_SHORT_RE = r"^(.*)\^\^([a-zA-Z0-9]+__[^^]+)$"
_DT_FULL_RE = r"^(.*)\^\^((?:<[^>]+>)|(?:https?://[^^]+))$"
_LANG_RE = r"^(.*)@([a-zA-Z]+(?:-[a-zA-Z0-9]+)*)$"


def get_iri_local_name(col: Column) -> Column:
    """n10s.rdf.getIRILocalName (RDFProcedures.java:276-282)."""
    return F.regexp_extract(col, NS_SPLIT_RE, 2)


def get_iri_namespace(col: Column) -> Column:
    """n10s.rdf.getIRINamespace (RDFProcedures.java:284-290)."""
    return F.regexp_extract(col, NS_SPLIT_RE, 1)


def is_iri(col: Column) -> Column:
    return col.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://") | col.startswith("urn:")


def get_datatype(col: Column) -> Column:
    """n10s.rdf.getDataType: declared dt from 'v^^dt' strings, else
    inferred xsd type (RDFProcedures.java:224-258)."""
    short_dt = F.regexp_extract(col, _DT_SHORT_RE, 2)
    full_dt = F.regexp_replace(F.regexp_extract(col, _DT_FULL_RE, 2), r"[<>]", "")
    return (
        F.when(short_dt != "", short_dt)
        .when(full_dt != "", full_dt)
        .when(col.rlike(_LANG_RE), F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"))
        .otherwise(F.lit(XSD + "string"))
    )


def get_value(col: Column) -> Column:
    """n10s.rdf.getValue: strip ^^dt / @lang decorations
    (RDFProcedures.java:260-274)."""
    v1 = F.regexp_extract(col, _DT_SHORT_RE, 1)
    v2 = F.regexp_extract(col, _DT_FULL_RE, 1)
    v3 = F.regexp_extract(col, _LANG_RE, 1)
    return F.when(v1 != "", v1).when(v2 != "", v2).when(v3 != "", v3).otherwise(col)


def get_lang_tag(col: Column) -> Column:
    """n10s.rdf.getLangTag (RDFProcedures.java:311-325)."""
    t = F.regexp_extract(col, _LANG_RE, 2)
    return F.when(t != "", t)


def has_lang_tag(col: Column, lang: str) -> Column:
    """n10s.rdf.hasLangTag (RDFProcedures.java:327-347)."""
    return get_lang_tag(col) == lang


def get_lang_value(col: Column, lang: str) -> Column:
    """n10s.rdf.getLangValue: the value iff tagged with `lang`
    (RDFProcedures.java:292-309)."""
    return F.when(has_lang_tag(col, lang), get_value(col))


def short_form_from_full_uri(col: Column, ns_to_prefix: Dict[str, str]) -> Column:
    """n10s.rdf.shortFormFromFullUri (RDFProcedures.java:367-381)."""
    return shorten_expr(col, ns_to_prefix)


def full_uri_from_short_form(col: Column, ns_to_prefix: Dict[str, str]) -> Column:
    """n10s.rdf.fullUriFromShortForm (RDFProcedures.java:349-365)."""
    return expand_short_form(col, {p: ns for ns, p in ns_to_prefix.items()})


def dt_check(expected_xsd: str, col: Column) -> Column:
    """n10s.aux.dt.check analogue (AuxProcedures.java:17-58): does the
    value's runtime-castable type match the expected XSD type?"""
    local = expected_xsd.rsplit("#", 1)[-1]
    casts = {
        "integer": "bigint", "long": "bigint", "int": "bigint",
        "decimal": "double", "double": "double", "float": "double",
        "boolean": "boolean", "dateTime": "timestamp", "date": "date",
        "string": "string",
    }
    t = casts.get(local)
    if t is None:
        return F.lit(False)
    if t == "string":
        return F.lit(True)
    return F.when(col.isNull(), F.lit(True)).otherwise(col.try_cast(t).isNotNull())
