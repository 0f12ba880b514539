"""The transformer library, compiled to Column expressions.

Catalyst-native wherever the semantics allow (T1-T3, T7-T11, T13, T15-T16 of
SURVEY.md §2.5), sha1-base32hex minting included; Arrow-vectorized pandas
UDFs only for fuzzy date coercion and the python-`expr` fallback — never
row-at-a-time Python. User plugins register through
`register`/`register_udf`, the Spark counterpart of the reference registry
(function.py:19-31).
"""

from __future__ import annotations

from dataclasses import replace
from typing import Any, Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from rdf_mapper_spark import pyfuncs
from rdf_mapper_spark.compiler import guards
from rdf_mapper_spark.compiler.values import XSD, ValueExpr, term_struct

_TYPED_STRUCT = StructType(
    [StructField("v", StringType()), StructField("dt", StringType())]
)


# ---------------------------------------------------------------------------
# sha1-base32hex minting, JVM-side
# ---------------------------------------------------------------------------
def sha1_b32hex_col(concatenated: Column) -> Column:
    """base32hex(sha1(utf8(s))) in Catalyst: pyfuncs.sha1_b32hex over
    pre-concatenated key material, with no Python worker.

    Each 5-hex-digit slice of the 40-digit sha1 hex is 20 bits, i.e. exactly
    4 base-32 digits, and ``conv``'s digit alphabet 0-9A-V is RFC 4648
    base32hex; 160 bits make 32 digits, so there is no padding. NULL in,
    NULL out."""
    hexdigest = F.sha1(concatenated)
    return F.concat(*[
        F.lpad(F.conv(F.substring(hexdigest, 1 + 5 * i, 5), 16, 32), 4, "0")
        for i in range(8)
    ])


# ---------------------------------------------------------------------------
# Vectorized UDFs (Arrow batches; the only Python in the executor hot path)
# ---------------------------------------------------------------------------
def _dated(fn: Callable) -> Callable[[pd.Series], pd.DataFrame]:
    def convert(s: pd.Series) -> pd.DataFrame:
        out_v, out_dt = [], []
        for x in s:
            r = fn(x)
            if r is None:
                out_v.append(None)
                out_dt.append(None)
            else:
                out_v.append(r[0])
                out_dt.append(r[1])
        return pd.DataFrame({"v": out_v, "dt": out_dt})

    return convert


_as_date_udf = F.pandas_udf(_dated(pyfuncs.as_date), _TYPED_STRUCT)
_as_datetime_udf = F.pandas_udf(_dated(pyfuncs.as_datetime), _TYPED_STRUCT)
_as_date_or_dt_udf = F.pandas_udf(_dated(pyfuncs.as_date_or_datetime), _TYPED_STRUCT)


def _pyexpr_udf(expression: str):
    @F.pandas_udf(_TYPED_STRUCT)
    def run(s: pd.Series) -> pd.DataFrame:
        out_v, out_dt = [], []
        for x in s:
            try:
                r = pyfuncs.py_expr(x, expression)
            except Exception:
                r = None
            if r is None:
                out_v.append(None)
                out_dt.append(None)
            elif isinstance(r, bool):
                out_v.append("true" if r else "false")
                out_dt.append(XSD + "boolean")
            elif isinstance(r, int):
                out_v.append(str(r))
                out_dt.append(XSD + "integer")
            elif isinstance(r, float):
                out_v.append(repr(r))
                out_dt.append(XSD + "double")
            else:
                out_v.append(str(r))
                out_dt.append(None)
        return pd.DataFrame({"v": out_v, "dt": out_dt})

    return run


# ---------------------------------------------------------------------------
# Helpers
# ---------------------------------------------------------------------------
def normalize_col(col: Column) -> Column:
    """IRI-safe normalize (template_support.py:89-97), JVM-side."""
    collapsed = F.regexp_replace(F.trim(col), r"(?U)[^\w\-]+", "_")
    return F.regexp_replace(F.regexp_replace(collapsed, r"_$", ""), r"^_", "")


def _string_arg(a: Any) -> Column:
    return a if isinstance(a, Column) else F.lit(str(a))


def _typed_struct_to_term(c: Column) -> Column:
    return F.when(
        c.isNotNull() & c["v"].isNotNull(),
        term_struct("literal", c["v"], c["dt"], None),
    )


class EmbeddedFanout:
    """Marker: pipeline ends in map_to/smap_to -> resource-level explode plan."""

    def __init__(self, rsname: str, shielded: bool, source: ValueExpr,
                 prior_fns: int) -> None:
        self.rsname = rsname
        self.shielded = shielded
        self.source = source
        self.prior_fns = prior_fns


# registry for user plugins: name -> compile fn(ve, args, cctx) -> ValueExpr
_REGISTRY: dict[str, Callable] = {}


def register(name: str, compile_fn: Callable) -> None:
    """Register a Column-level transformer: fn(ValueExpr, args, cctx) -> ValueExpr."""
    _REGISTRY[name] = compile_fn


def registered_transformers() -> tuple:
    """The registered transformers, as part of a compiled mapping's plan
    cache key: registering one (again) misses every earlier compile."""
    return tuple(sorted(_REGISTRY.items(), key=lambda kv: kv[0]))


def register_udf(name: str, pyfn: Callable, return_type) -> None:
    """Register a scalar Python transformer as a vectorized pandas UDF.

    ``pyfn(value, *args) -> result`` is applied elementwise per Arrow batch;
    list/dict-returning parsers should declare ArrayType(StructType(...)) and
    feed map_to (the reference's plugin-parser pattern,
    examples/hse/templates/crop-parser.py:56)."""

    def compile_fn(ve: ValueExpr, args: list[Any], cctx) -> ValueExpr:
        lit_args = [a for a in args]

        @F.pandas_udf(return_type)
        def run(s: pd.Series) -> pd.Series:
            return s.map(lambda x: None if x is None else pyfn(x, *lit_args))

        # Python UDFs run ahead of any CASE, on every row of the frame;
        # the rows the scope does not fire on pass NULL (never calls pyfn)
        rows = cctx.scope.rows
        col = ve.col if rows is None else F.when(rows, ve.col)
        is_arr = isinstance(return_type, ArrayType)
        return ValueExpr(run(col), is_array=ve.is_array or is_arr,
                         form="native", dtype=None)

    register(name, compile_fn)


# ---------------------------------------------------------------------------
# Built-in transformer compilation
# ---------------------------------------------------------------------------
def apply_function(name: str, raw_args: list[tuple[str, str]], ve: ValueExpr,
                   cctx) -> ValueExpr | EmbeddedFanout:
    """Compile one pipeline step onto ``ve``. ``cctx`` is a CompileCtx."""
    args = [cctx.resolve_arg(kind, val) for kind, val in raw_args]

    if name in _REGISTRY:
        return _REGISTRY[name](ve, args, cctx)

    def elementwise(fn: Callable[[Column], Column],
                    dtype: str | None = None,
                    datatype: str | None = None) -> ValueExpr:
        out = ve.map_elements(fn)
        return replace(out, dtype=dtype or out.dtype, datatype=datatype,
                       form="native")

    # try_cast, not cast: under ANSI a malformed number ("x") fails the
    # whole job, where the reference skips that row's property (NULL here)
    if name == "asInt":
        # int(float(s)) truncation incl. negatives (function.py:68-69);
        # '' casts to NULL which matches noneOrEmpty -> None
        return elementwise(
            lambda c: c.try_cast("double").try_cast("bigint"),
            dtype="bigint", datatype=XSD + "integer",
        )
    if name == "asDecimal":
        return elementwise(
            lambda c: c.try_cast("double"), dtype="double",
            datatype=XSD + "decimal",
        )
    if name == "asBoolean":
        truthy = [str(a).lower() for a in args] if args else \
            ["yes", "true", "ok", "1", "1.0"]

        def boolfn(c: Column) -> Column:
            return F.coalesce(
                F.lower(c.cast("string")).isin(truthy), F.lit(False)
            )

        return elementwise(boolfn, dtype="boolean", datatype=XSD + "boolean")
    if name in ("asDate", "asDateTime", "asDatetime", "asDateOrDatetime"):
        udf = {
            "asDate": _as_date_udf,
            "asDateTime": _as_datetime_udf,
            "asDatetime": _as_datetime_udf,
            "asDateOrDatetime": _as_date_or_dt_udf,
        }[name]
        if ve.is_array:
            raise ValueError(f"{name} over multi-values: explode first")
        typed = udf(ve.col.cast("string"))
        return ValueExpr(_typed_struct_to_term(typed), is_array=False,
                         form="term")
    if name == "trim":
        return elementwise(lambda c: F.trim(c.cast("string")), dtype="string")
    if name == "toLower":
        return elementwise(lambda c: F.lower(c.cast("string")), dtype="string")
    if name == "toUpper":
        return elementwise(lambda c: F.upper(c.cast("string")), dtype="string")
    if name == "slug":
        def slugfn(c: Column) -> Column:
            dashed = F.regexp_replace(F.trim(F.lower(c.cast("string"))),
                                      r"\s+", "-")
            return F.translate(dashed, "%/[]", "____")

        return elementwise(slugfn, dtype="string")
    if name == "splitComma":
        if ve.is_array:
            raise ValueError("splitComma over multi-values: unsupported")
        return ValueExpr(F.split(ve.col.cast("string"), r"\s*,\s*"),
                         is_array=True, form="native", dtype="string")
    if name == "split":
        if ve.is_array:
            raise ValueError("split over multi-values: unsupported")
        return ValueExpr(F.split(ve.col.cast("string"), str(args[0])),
                         is_array=True, form="native", dtype="string")
    if name == "expr":
        expression = str(args[0])
        compiled = guards.try_compile_value_expr(expression, ve)
        if compiled is not None:
            return compiled
        if ve.is_array:
            raise ValueError("expr over multi-values: unsupported fallback")
        cctx.warnings.append(f"expr({expression!r}): python-eval fallback UDF")
        typed = _pyexpr_udf(expression)(ve.col)
        return ValueExpr(_typed_struct_to_term(typed), form="term")
    if name == "hash":
        # value skipped when falsy, args appended (function.py:165-171)
        val = F.when(
            ve.col.cast("string").isNull() | (ve.col.cast("string") == ""),
            F.lit(""),
        ).otherwise(ve.col.cast("string"))
        parts = [val] + [_string_arg(a) for a in args]
        if ve.is_array:
            raise ValueError("hash over multi-values: explode first")
        return ValueExpr(sha1_b32hex_col(F.concat(*parts)), form="native",
                         dtype="string")
    if name == "now":
        # pinned per-run timestamp: deterministic re-execution / resume;
        # the compile holds for this run only, so it is never cached
        cctx.volatile.append("now")
        return ValueExpr(F.lit(cctx.run_timestamp), form="native",
                         dtype="string", datatype=XSD + "dateTime")
    if name == "to_entries":
        return _to_entries(ve)
    if name == "map_by":
        return _map_by(ve, str(args[0]), cctx)
    if name in ("map_to", "smap_to"):
        return EmbeddedFanout(str(args[0]), name == "smap_to", ve, 0)
    if name == "autoCV":
        from rdf_mapper_spark.compiler import resources

        return resources.compile_autocv(ve, args, cctx)
    if name == "reconcile":
        from rdf_mapper_spark.compiler import resources

        return resources.compile_reconcile(ve, args, cctx)
    raise ValueError(f"unknown transformer function: {name}")


def _to_entries(ve: ValueExpr) -> ValueExpr:
    """dict -> [{$key,$value}] (function.py:176-179) over map or struct cols.

    JSON objects land in Spark as StructType (spark.read.json), so both
    shapes must work: MapType via map_entries, StructType by unrolling the
    fields at compile time (the schema is static — this is a constant-width
    array literal, no shuffle).  Struct values are cast to string to give
    the entry array a common element type; $-prefixed keys are engine
    pseudo-fields and are dropped in both shapes.
    """
    col = ve.col
    if ve.dtype is not None and ve.dtype.startswith("struct<"):
        names = [n for n in _struct_field_names(ve.dtype)
                 if not n.startswith("$")]
        entries = F.array(*[
            F.struct(
                F.lit(n).alias("$key"),
                col[n].cast("string").alias("$value"),
            )
            for n in names
        ])
        return ValueExpr(entries, is_array=True, form="native")
    entries = F.filter(
        F.map_entries(col),
        lambda e: ~F.startswith(e["key"], F.lit("$")),
    )
    renamed = F.transform(
        entries,
        lambda e: F.struct(e["key"].alias("$key"), e["value"].alias("$value")),
    )
    return ValueExpr(renamed, is_array=True, form="native")


def _struct_field_names(dtype: str) -> list[str]:
    """Field names from a simple-dtype string ``struct<a:string,b:...>``
    (top-level commas only — nested generics don't split)."""
    body = dtype[len("struct<"):-1]
    names: list[str] = []
    depth = 0
    token = ""
    for ch in body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            names.append(token.split(":", 1)[0].strip())
            token = ""
            continue
        token += ch
    if token.strip():
        names.append(token.split(":", 1)[0].strip())
    return names


def _map_by(ve: ValueExpr, mapping_name: str, cctx) -> ValueExpr:
    """Tiny-dict lookup -> chained CASE over compile-time-expanded targets.

    Each mapped value is itself a template (URI / lang forms re-expanded,
    template_support.py:460-474); targets are constant-folded on the driver.
    A missing key raises per-row in the reference (ValueError propagates to
    template_processor.log_error, so it increments error_count); here the
    CASE falls through to NULL which drops the triple AND the miss is
    registered as an error plan so MapperEngine.count_errors() /
    --abort-on-error see it.
    """
    from rdf_mapper_spark import pyeval

    mapping = cctx.spec.mappings.get(mapping_name)
    if not mapping:
        raise ValueError(f"unknown mapping {mapping_name}")
    state = pyeval.EvalState(cctx.spec)
    whens: list[tuple[str, Column]] = []
    for key, target in mapping.items():
        terms = pyeval.value_expand(target, dict(cctx.constants), state)
        if not terms:
            continue
        t = terms[0]
        whens.append((key, term_struct(t.kind, t.value, t.datatype, t.lang)))

    def casefn(c: Column) -> Column:
        out = None
        sc = c.cast("string")
        for key, termcol in whens:
            cond = sc == key
            out = F.when(cond, termcol) if out is None else out.when(cond, termcol)
        if out is None:
            return F.lit(None).cast("struct<k:string,v:string,dt:string,lg:string>")
        return out

    keys = [k for k, _ in whens]
    src = ve.col
    if ve.is_array:
        miss = F.exists(
            src,
            lambda c: c.isNotNull() & (
                ~c.cast("string").isin(keys) if keys else F.lit(True)
            ),
        )
    else:
        miss = src.isNotNull() & (
            ~src.cast("string").isin(keys) if keys else F.lit(True)
        )
    rid = cctx.constants.get("$resourceID", "?")
    cctx.error_plans.append(
        (f"{rid}.map_by({mapping_name}):no-mapping", cctx.rows().where(miss))
    )

    out = ve.map_elements(casefn)
    return replace(out, form="term")
