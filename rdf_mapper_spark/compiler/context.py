"""Compile-time context: variable -> Column/constant resolution.

The reference carries a per-row ChainMap (template_state.py:26-37); here the
layers become, at compile time:
  * input DataFrame columns            -> Column references
  * engine pseudo-columns ($row, $file, $listIndex, $parentID, $this fields)
  * spec globals/builtins ($datasetBase, $baseURI, ...) -> folded constants
A variable that resolves nowhere raises MissingVar, which the resource
compiler turns into "skip this property" (pattern.py:129-135 semantics).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_mapper_spark.compiler.values import (
    ValueExpr,
    namespace_map,
    simple_dtype,
    sql_ident,
)
from rdf_mapper_spark.spec import MappingSpec
from rdf_mapper_spark.terms import Term


class MissingVar(Exception):
    """Variable not found in schema or constants -> property never fires."""


@dataclass
class Backlink:
    """A resolvable <::name> target: either a constant Term (one_offs) or the
    subject columns of a resource already compiled for the same row."""

    kind_col: Optional[Column] = None
    value_col: Optional[Column] = None
    const: Optional[Term] = None


@dataclass
class AutoCVUse:
    """One autoCV(...) call site, collected for the side aggregation that
    emits concept + scheme quads from distinct labels (R9, the engine's only
    cross-row aggregation besides final dedup)."""

    cv_name: str
    cv_type: Optional[str]
    label_col: Column
    source_df: DataFrame
    graph: Optional[str]


@dataclass
class CompileCtx:
    spec: MappingSpec
    df: DataFrame
    constants: dict[str, Any]
    columns: dict[str, tuple[Column, str]]  # name -> (col, simple dtype)
    backlinks: dict[str, Backlink] = field(default_factory=dict)
    autocv_uses: list[AutoCVUse] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)
    # (label, DataFrame of offending rows) for required-property violations
    # (F4/K6): counted lazily by MapperEngine.count_errors()
    error_plans: list = field(default_factory=list)
    # driver-side constant quads produced during compilation (reconcile
    # proxy concepts + rec:possibleMatch annotations); dictionary-sized by
    # construction, emitted by the engine as one quads_from_rows plan
    side_quad_rows: list[tuple] = field(default_factory=list)
    run_timestamp: str = field(
        default_factory=lambda: _dt.datetime.now().isoformat()
    )
    shielded: bool = False  # smap_to scope: constants invisible
    # digest for <hash(...)> IRI minting: "sha1-b32hex" (reference parity,
    # template_support.py sha1/base32hex) or "md5hex" (DuckDB-oracle-
    # checkable engine option; same determinism/idempotence guarantees)
    hash_digest: str = "sha1-b32hex"
    # run-wide reconcile verdict cache, (endpoint, keytype, filters) ->
    # {key: (match_id, possible)} — mirrors the reference's per-run
    # TemplateState cache (template_state.py:71-78): one API call per
    # distinct key across ALL call sites.  Shared through child().
    reconcile_cache: dict = field(default_factory=dict)
    # huge-dictionary reconcile lookups register (key_col, resolved_df,
    # alias) here; _compile_resource_body left-broadcast-joins them onto
    # the emission frame.  Shared only with children over the SAME
    # DataFrame (column-name resolution must target the frame the body
    # will join); `joinable` marks contexts where that application is
    # guaranteed to happen.
    pending_joins: list = field(default_factory=list)
    joinable: bool = False
    # JVM constants built once per compile (the namespace map); shared
    # through child(), so they live exactly as long as this compile
    jvm_consts: dict = field(default_factory=dict)

    @property
    def namespaces(self) -> dict[str, str]:
        return self.spec.namespaces

    @property
    def ns_map(self) -> Optional[Column]:
        """`namespace_map` of the spec, built on first use."""
        if "ns_map" not in self.jvm_consts:
            self.jvm_consts["ns_map"] = namespace_map(self.namespaces)
        return self.jvm_consts["ns_map"]

    def has_var(self, name: str) -> bool:
        if name in self.columns:
            return True
        return (not self.shielded) and name in self.constants

    def resolve(self, name: str) -> ValueExpr:
        if name in self.columns:
            col, dtype = self.columns[name]
            return ValueExpr(col, is_array=False, form="native", dtype=dtype)
        if not self.shielded and name in self.constants:
            v = self.constants[name]
            if isinstance(v, bool):
                dtype = "boolean"
            elif isinstance(v, int):
                dtype = "bigint"
            elif isinstance(v, float):
                dtype = "double"
            else:
                dtype = "string"
            return ValueExpr(F.lit(v), dtype=dtype)
        raise MissingVar(name)

    def resolve_arg(self, kind: str, value: str) -> Any:
        """Resolve a transformer-call argument (function.py:39-44): quoted
        literals stay literal; bare refs resolve from context, falling back
        to their own text."""
        if kind == "lit":
            return value
        if value in self.columns:
            return self.columns[value][0]
        if not self.shielded and value in self.constants:
            return self.constants[value]
        return value

    def child(self, df: DataFrame, columns: dict[str, tuple[Column, str]],
              extra_constants: dict[str, Any] | None = None,
              shielded: bool = False) -> "CompileCtx":
        consts = {} if shielded else dict(self.constants)
        if extra_constants:
            consts.update(extra_constants)
        same_df = df is self.df
        out = CompileCtx(
            spec=self.spec, df=df, constants=consts, columns=columns,
            backlinks=self.backlinks, autocv_uses=self.autocv_uses,
            warnings=self.warnings, error_plans=self.error_plans,
            side_quad_rows=self.side_quad_rows,
            run_timestamp=self.run_timestamp, shielded=shielded,
            hash_digest=self.hash_digest,
            reconcile_cache=self.reconcile_cache,
            pending_joins=self.pending_joins if same_df else [],
            joinable=self.joinable and same_df,
            jvm_consts=self.jvm_consts,
        )
        return out


def quoted_col(name: str) -> Column:
    """Column reference robust to dots/colons/spaces in the name."""
    return F.col(sql_ident(name))


def df_columns(df: DataFrame) -> dict[str, tuple[Column, str]]:
    return {
        name: (quoted_col(name), simple_dtype(dtype))
        for name, dtype in df.dtypes
    }
