"""Value expressions: template strings -> Catalyst Column trees.

The runtime value model mirrors the reference's pattern engine
(pattern.py:43-120) columnar-ly:

* a segment expands to a scalar Column or an ARRAY Column (multi-valued
  results from split/parser transformers);
* segment concatenation is a cross-product (pattern.py:43-47), compiled to
  `concat` / `transform` / `flatten(transform(transform))` chains — all
  whole-stage-codegen-able JVM expressions;
* a missing value is a NULL that propagates through `concat` and is dropped
  at emission, matching "MissingValueWarning -> skip property";
* the final wrap step re-parses lang/datatype suffixes from the *result
  value* (pattern.py:49-65) with JVM regexes and produces the flat term
  struct `(k, v, dt, lg)`.

Every call into a `Column` method or `F.*` function is a py4j round trip,
so the builders here make one call where the tree allows it: a term
struct is one `named_struct`, and the namespace map for runtime CURIE
expansion is one SQL expression built once per compile (`namespace_map`,
held by the compile context).  SQL text goes through two helpers,
`sql_string` for literals and `sql_ident` for identifiers.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Any, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from rdf_mapper_spark.template import (
    DATATYPE_RX_JAVA,
    LANGSTRING_RX_JAVA,
    ParsedTemplate,
    Static,
    VarExpansion,
)

XSD = "http://www.w3.org/2001/XMLSchema#"

TERM_FIELDS = ("k", "v", "dt", "lg")

#: Spark simple dtypes -> implied xsd datatype for bare column references
#: (JSON-typed inputs produce typed literals, e.g. graphs fixture int 42).
_DTYPE_XSD = {
    "bigint": XSD + "integer",
    "int": XSD + "integer",
    "smallint": XSD + "integer",
    "tinyint": XSD + "integer",
    "double": XSD + "double",
    "float": XSD + "double",
    "boolean": XSD + "boolean",
    "date": XSD + "date",
    "timestamp": XSD + "dateTime",
    "timestamp_ntz": XSD + "dateTime",
    "decimal": XSD + "decimal",
}


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal that parses back to exactly ``s``.

    Quote and backslash are backslash-escaped.  ``$`` becomes ``\\u0024``:
    the SQL parser substitutes ``${name}`` in the raw text before lexing
    (an unknown name becomes ""), and an escape is not raw text.  Control
    characters are ``\\uXXXX`` escapes; everything else, astral code
    points included, is written as is."""
    out = []
    for ch in s:
        if ch in "'\\":
            out.append("\\" + ch)
        elif ch == "$" or ch < " ":
            out.append(f"\\u{ord(ch):04x}")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


#: a typed NULL in SQL text
_NULL_STRING = "CAST(NULL AS STRING)"


def _string_field(x: Any) -> Column:
    if isinstance(x, Column):
        return x.cast("string")
    if x is None:
        return F.expr(_NULL_STRING)
    return F.lit(x) if isinstance(x, str) else F.lit(x).cast("string")


def term_struct(k: Any, v: Any, dt: Any = None, lg: Any = None) -> Column:
    """The flat term struct ``(k, v, dt, lg)`` as one ``named_struct``;
    each field is a Column (cast to string) or a Python constant.  A term
    of string/None constants is one SQL expression."""
    fields = (k, v, dt, lg)
    if all(x is None or isinstance(x, str) for x in fields):
        return F.expr("named_struct({})".format(", ".join(
            f"{sql_string(name)}, "
            + (_NULL_STRING if x is None else sql_string(x))
            for name, x in zip(TERM_FIELDS, fields))))
    args: list[Column] = []
    for name, x in zip(TERM_FIELDS, fields):
        args.extend((F.lit(name), _string_field(x)))
    return F.named_struct(*args)


def iri_term(v: Any) -> Column:
    return term_struct("iri", v)


def bnode_term(v: Any) -> Column:
    return term_struct("bnode", v)


@dataclass
class ValueExpr:
    """A compiled template value.

    col       the Column; if is_array, an array of the element type
    is_array  multi-valued (explodes to several triples)
    form      'native' (raw value) | 'term' (term struct, final)
    dtype     Spark simple dtype of the native element, when known
    datatype  statically-assigned xsd datatype (typed transformer output)
    """

    col: Column
    is_array: bool = False
    form: str = "native"
    dtype: Optional[str] = None
    datatype: Optional[str] = None

    def map_elements(self, fn) -> "ValueExpr":
        if self.is_array:
            return replace(self, col=F.transform(self.col, fn))
        return replace(self, col=fn(self.col))


def lexical_column(col: Column, dtype: str | None) -> Column:
    """Canonical lexical form of a native value (rdflib Literal parity)."""
    if dtype in ("timestamp", "timestamp_ntz"):
        return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss")
    if dtype == "boolean":
        return F.when(col, "true").otherwise("false")
    return col.cast("string")


def to_string(ve: ValueExpr) -> ValueExpr:
    """Coerce a value expr to string(s) for concatenation (pattern.py:67-73)."""
    if ve.form == "term":
        out = ve.map_elements(lambda c: c["v"])
    else:
        out = ve.map_elements(lambda c: lexical_column(c, ve.dtype))
    return replace(out, form="native", dtype="string", datatype=ve.datatype)


def concat_cross_product(parts: list[ValueExpr]) -> ValueExpr:
    """Cross-product concatenation of scalar/array string segments."""
    acc: ValueExpr | None = None
    for part in parts:
        p = to_string(part)
        if acc is None:
            acc = p
            continue
        # NB single-parameter lambdas only: pyspark's higher-order-function
        # bridge binds one lambda variable per python parameter, so default
        # arguments would capture spurious lambda vars.
        if not acc.is_array and not p.is_array:
            acc = ValueExpr(F.concat(acc.col, p.col), False, "native", "string")
        elif acc.is_array and not p.is_array:
            append_scalar = _suffix_fn(p.col)
            acc = ValueExpr(F.transform(acc.col, append_scalar),
                            True, "native", "string")
        elif not acc.is_array and p.is_array:
            prepend_scalar = _prefix_fn(acc.col)
            acc = ValueExpr(F.transform(p.col, prepend_scalar),
                            True, "native", "string")
        else:
            pc = p.col
            acc = ValueExpr(
                F.flatten(F.transform(acc.col, _cross_fn(pc))),
                True, "native", "string",
            )
    assert acc is not None
    return acc


def _suffix_fn(suffix: Column):
    return lambda a: F.concat(a, suffix)


def _prefix_fn(prefix: Column):
    return lambda b: F.concat(prefix, b)


def _cross_fn(arr: Column):
    def outer(a: Column) -> Column:
        return F.transform(arr, _prefix_fn(a))

    return outer


def namespace_map(namespaces: dict[str, str]) -> Optional[Column]:
    """The spec namespaces as one ``map(prefix, base, ...)`` literal
    Column (None when there are none).  Built once per compile and held
    by the compile context."""
    if not namespaces:
        return None
    pairs = ", ".join(f"{sql_string(p)}, {sql_string(base)}"
                      for p, base in namespaces.items())
    return F.expr(f"map({pairs})")


def runtime_curie_expand(col: Column, ns_map: Optional[Column]) -> Column:
    """Expand a (possibly) CURIE string against the spec namespaces, JVM-side.

    Compile-time constant folding handles the common case; this covers
    datatype suffixes carrying a templated/non-constant CURIE
    (pattern.py:13-19, 58-60).  ``ns_map`` is ``namespace_map``'s Column.
    """
    curie_rx = r"(?U)^([_A-Za-z][\w\-\.]*):([\w\-\.]+)$"
    prefix = F.regexp_extract(col, curie_rx, 1)
    local = F.regexp_extract(col, curie_rx, 2)
    if ns_map is not None:
        expanded = F.concat(ns_map[prefix], local)
    else:
        expanded = F.lit(None).cast("string")
    return F.when(
        col.rlike(curie_rx) & expanded.isNotNull(), expanded
    ).otherwise(col)


def wrap_native_string(col: Column, pattern_type: str | None,
                       ns_map: Optional[Column]) -> Column:
    """Runtime lang/datatype re-parse of a result string (pattern.py:49-65).

    Returns a term struct, or NULL when a langstring/datatype-shaped template
    produced a value that no longer matches (bug-fix #61/#62 semantics).
    """
    lang_body = F.regexp_extract(col, LANGSTRING_RX_JAVA, 1)
    lang_tag = F.regexp_extract(col, LANGSTRING_RX_JAVA, 2)
    dt_body = F.regexp_extract(col, DATATYPE_RX_JAVA, 1)
    dt_raw = F.regexp_extract(col, DATATYPE_RX_JAVA, 2)
    dt_iri = runtime_curie_expand(dt_raw, ns_map)
    null_term = F.lit(None).cast(
        "struct<k:string,v:string,dt:string,lg:string>"
    )
    return (
        F.when(col.isNull(), null_term)
        .when(col.rlike(LANGSTRING_RX_JAVA),
              term_struct("literal", lang_body, None, lang_tag))
        .when(col.rlike(DATATYPE_RX_JAVA),
              term_struct("literal", dt_body, dt_iri, None))
        .otherwise(
            null_term if pattern_type in ("langstring", "datatype")
            else term_struct("literal", col, None, None)
        )
    )


def to_terms(ve: ValueExpr, pattern_type: str | None,
             ns_map: Optional[Column],
             suffix_free: bool = False) -> ValueExpr:
    """Finalize a value expr to term struct(s).

    ``suffix_free=True`` asserts (statically proven by the caller via
    _template_safety) that no producible value can match the lang-tag or
    datatype suffix regexes — the wrap_native_string re-parse is then the
    identity plain-literal branch and its 6 regex evaluations per value
    are skipped."""
    if ve.form == "term":
        return ve

    static_dt = ve.datatype or _DTYPE_XSD.get((ve.dtype or "").split("(")[0])
    if static_dt:
        dtype = ve.dtype

        def typed(c: Column) -> Column:  # single param: pyspark HOF bridge
            return F.when(
                c.isNotNull(),
                term_struct("literal", lexical_column(c, dtype), static_dt,
                            None),
            )

        out = ve.map_elements(typed)
        return replace(out, form="term")

    if suffix_free and pattern_type is None:
        # neither suffix regex can match -> wrap_native_string always takes
        # the plain-literal branch; NULL maps to a NULL struct exactly as
        # the when(col.isNull(), null_term) head branch does
        out = ve.map_elements(
            lambda c: F.when(
                c.isNotNull(),
                term_struct("literal", c.cast("string"), None, None))
        )
        return replace(out, form="term")

    out = ve.map_elements(
        lambda c: wrap_native_string(c.cast("string"), pattern_type, ns_map)
    )
    return replace(out, form="term")


def drop_null_terms(ve: ValueExpr) -> ValueExpr:
    """Remove null / null-valued elements from an array-valued term expr."""
    assert ve.form == "term"
    if ve.is_array:
        return replace(
            ve, col=F.filter(ve.col, lambda t: t.isNotNull() & t["v"].isNotNull())
        )
    return ve


def simple_dtype(df_dtype: str) -> str:
    return df_dtype.lower()
