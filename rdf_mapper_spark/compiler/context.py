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
from typing import Any, Callable, Optional

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


class Frame:
    """A frame of the spec lineage as a recipe: the steps that derive it
    from the input rows it is bound to.  A compiled mapping keeps recipes,
    never DataFrames, so it pins no plan and serves every input of its
    schema."""

    __slots__ = ("parent", "step")

    def __init__(self, parent: Optional["Frame"] = None,
                 step: Optional[Callable[[DataFrame], DataFrame]] = None
                 ) -> None:
        self.parent = parent
        self.step = step

    def then(self, step: Callable[[DataFrame], DataFrame]) -> "Frame":
        return Frame(self, step)

    def where(self, cond: Optional[Column]) -> "Frame":
        """The rows of this frame where ``cond`` holds (None: all)."""
        if cond is None:
            return self
        return self.then(lambda df: df.where(cond))

    def bind(self, df: DataFrame, memo: Optional[dict] = None) -> DataFrame:
        """This frame over the input ``df``; ``memo`` holds the frames
        already bound over the same input, so shared steps run once."""
        if self.parent is None:
            return df
        if memo is not None and self in memo:
            return memo[self]
        out = self.step(self.parent.bind(df, memo))
        if memo is not None:
            memo[self] = out
        return out


@dataclass
class Scope:
    """The rows one resource instantiation fires on, in the spec's single
    quad lineage (resources.Lineage).  ``level`` counts the map_to
    explodes above those rows (0: input rows); ``fired`` names the
    boolean lineage column that flags them and ``rows`` is the same flag
    as a Column over the context's frame (both None: every row of the
    frame fires).  ``subject`` names the subject column (None for a
    literal resource), ``subject_col`` is that subject over the context's
    frame (NULL on the rows that do not fire) and ``kind`` is its term
    kind."""

    level: int = 0
    fired: Optional[str] = None
    rows: Optional[Column] = None
    subject: Optional[str] = None
    subject_col: Optional[Column] = None
    kind: str = "iri"


@dataclass
class CompileCtx:
    spec: MappingSpec
    # the rows this context compiles over, as a recipe over the input
    frame: Frame
    # the input the compile is prepared over: its schema types the
    # frames, and only a compile that reads data (reconcile lookups)
    # reads its rows
    data: DataFrame
    constants: dict[str, Any]
    # name -> (col, simple dtype); col None: the input column of that name
    columns: dict[str, tuple[Optional[Column], str]]
    backlinks: dict[str, Backlink] = field(default_factory=dict)
    # the spec's quad lineage (resources.Lineage) every resource emits
    # into, and the rows this context's resource fires on
    lineage: Any = None
    scope: Scope = field(default_factory=Scope)
    warnings: list[str] = field(default_factory=list)
    # (label, Frame of offending rows) for required-property violations
    # and map_by misses (F4/K6): counted by MapperEngine.count_errors()
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
    # alias) here; the lineage left-broadcast-joins them onto the frame of
    # their level.  Shared only with children over the SAME frame
    # (column-name resolution must target the frame the lineage will
    # join); `joinable` marks contexts where that application is
    # guaranteed to happen.
    pending_joins: list = field(default_factory=list)
    joinable: bool = False
    # JVM constants built once per compile (the namespace map); shared
    # through child(), so they live exactly as long as this compile
    jvm_consts: dict = field(default_factory=dict)
    # why this compile holds only for its own input or its own moment
    # (it read data or the clock); a non-empty list keeps the compiled
    # mapping out of the plan cache.  Shared through child()
    volatile: list[str] = field(default_factory=list)

    @property
    def namespaces(self) -> dict[str, str]:
        return self.spec.namespaces

    @property
    def ns_map(self) -> Optional[Column]:
        """`namespace_map` of the spec, built on first use."""
        if "ns_map" not in self.jvm_consts:
            self.jvm_consts["ns_map"] = namespace_map(self.namespaces)
        return self.jvm_consts["ns_map"]

    def rows(self) -> Frame:
        """The frame's rows this context's resource fires on."""
        return self.frame.where(self.scope.rows)

    def has_var(self, name: str) -> bool:
        if name in self.columns:
            return True
        return (not self.shielded) and name in self.constants

    def resolve(self, name: str) -> ValueExpr:
        if name in self.columns:
            col, dtype = self.columns[name]
            return ValueExpr(self._input_col(name) if col is None else col,
                             is_array=False, form="native", dtype=dtype)
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
            return self.resolve(value).col
        if not self.shielded and value in self.constants:
            return self.constants[value]
        return value

    def _input_col(self, name: str) -> Column:
        """The input column ``name``, built on first use per compile."""
        key = ("col", name)
        if key not in self.jvm_consts:
            self.jvm_consts[key] = quoted_col(name)
        return self.jvm_consts[key]

    def child(self, frame: Frame,
              columns: dict[str, tuple[Optional[Column], str]],
              extra_constants: dict[str, Any] | None = None,
              shielded: bool = False,
              scope: Optional[Scope] = None) -> "CompileCtx":
        consts = {} if shielded else dict(self.constants)
        if extra_constants:
            consts.update(extra_constants)
        same_frame = frame is self.frame
        out = CompileCtx(
            spec=self.spec, frame=frame, data=self.data, constants=consts,
            columns=columns,
            backlinks=self.backlinks, lineage=self.lineage,
            scope=self.scope if scope is None else scope,
            warnings=self.warnings, error_plans=self.error_plans,
            side_quad_rows=self.side_quad_rows,
            run_timestamp=self.run_timestamp, shielded=shielded,
            hash_digest=self.hash_digest,
            reconcile_cache=self.reconcile_cache,
            pending_joins=self.pending_joins if same_frame else [],
            joinable=self.joinable and same_frame,
            jvm_consts=self.jvm_consts, volatile=self.volatile,
        )
        return out


def quoted_col(name: str) -> Column:
    """Column reference robust to dots/colons/spaces in the name."""
    return F.col(sql_ident(name))


def df_columns(df: DataFrame) -> dict[str, tuple[Optional[Column], str]]:
    """The input columns by name; the Column is None and is built on
    first resolve, so unreferenced columns cost no py4j traffic."""
    return {name: (None, simple_dtype(dtype)) for name, dtype in df.dtypes}
