"""MapperEngine: mapping spec + input DataFrame -> deduplicated quad DataFrame.

Lifecycle (SURVEY.md §3.4): prepare once per (spec, input schema), bind
per frame.

    YAML spec --driver--> models
      --prepare (once per spec + schema, kept in plan_cache)-->
      PreparedMapping: one lineage per spec as Columns and SQL text —
      filters, every resource's fired flag and subject, then its terms,
      computed only where it fires (codegen exprs, sha1 minting included;
      date pandas UDFs, which run on every row), one posexplode_outer per
      map_to level and one explode of a per-row quad array (vocabulary and
      autoCV quads are per-row constants gated on the fired flags); error
      and @graphAdd frames as recipes; the reconcile side quads
      --bind (every apply: every file, micro-batch and KG step)-->
      scan -> filters (pushed down) -> projections -> generate
      -> salted dropDuplicates (RDF set semantics)

A compile that reads data (reconcile lookups) or the clock (``now``)
holds for one call only: it is prepared on every apply and never kept.

One-offs are constant-folded on the driver (pyeval) once per engine and
unioned on as a local relation at bind — they are row-independent by
construction (reference processes one_offs once before any row,
template_processor.py:29-33).  Their quads are the engine's own (a
``now`` or ``<uuid>`` one-off differs per engine), never part of a kept
compile; the one-off subjects a compile refers to (``<::name>``) are in
its key.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_mapper_spark import plan_cache, pyeval
from rdf_mapper_spark.compiler.context import (
    Backlink,
    CompileCtx,
    Frame,
    df_columns,
)
from rdf_mapper_spark.compiler.functions import registered_transformers
from rdf_mapper_spark.compiler.resources import Lineage, compile_resource
from rdf_mapper_spark.quads import (
    dedup_quads,
    empty_quads,
    quads_from_rows,
    union_quads,
)
from rdf_mapper_spark.sources import with_row_ordinal
from rdf_mapper_spark.spec import DEFAULT_GRAPH, MappingSpec


@dataclass
class PreparedMapping:
    """A spec compiled for one input schema: every part of the result that
    does not depend on the rows.  It holds Columns, SQL text and frame
    recipes, never a DataFrame.

    ``lineage``: the quad plan (None: no resource emits from rows);
    ``errors``: (label, offending rows) per error condition; ``graphs``:
    the rows of each row-templated @graphAdd resource, as the distinct
    ``g``; ``preserved``: the constant @graphAdd graphs; ``rows``: the
    driver-side constant quads; ``volatile``: why the compile holds for
    one call only (it read data or the clock), empty when it may be
    kept."""

    lineage: Optional[Lineage]
    errors: list[tuple[str, Frame]]
    graphs: list[Frame]
    preserved: frozenset[str]
    warnings: list[str]
    rows: list[tuple]
    volatile: list[str]

    def bind(self, df: DataFrame,
             extra_rows: list[tuple] = ()) -> Optional[DataFrame]:
        """The quads (not deduplicated) over ``df``, an input with its
        ``$file`` / ``$row`` columns, plus ``extra_rows`` (the caller's
        one-off quads); None when nothing emits."""
        plans = [] if self.lineage is None else [self.lineage.bind(df)]
        rows = self.rows + list(extra_rows)
        if rows:
            plans.append(quads_from_rows(df.sparkSession, rows))
        return union_quads(plans) if plans else None

    @staticmethod
    def bind_frames(frames: list[Frame], df: DataFrame) -> list[DataFrame]:
        """``frames`` over ``df``, each shared step bound once."""
        memo: dict = {}
        return [frame.bind(df, memo) for frame in frames]


def _digest(value: Any) -> str:
    return hashlib.sha1(json.dumps(value, sort_keys=True, default=repr)
                        .encode()).hexdigest()


def spec_digest(spec: MappingSpec) -> str:
    """Everything of ``spec`` the compiler reads (imports resolved), as
    one digest."""
    def dump(models) -> list:
        return [m.model.model_dump(by_alias=True) for m in models]

    return _digest({
        "auto_declare": spec.auto_declare,
        "context": spec.context,
        "namespaces": spec.namespaces,
        "mappings": spec.mappings,
        "resources": dump(spec.resources),
        "one_offs": dump(spec.one_offs),
        "embedded": dump(spec.embedded.values()),
        "properties": dump(spec.prop_defs.values()),
    })


class MapperEngine:
    def __init__(self, spec: MappingSpec,
                 alias_map: dict[str, str] | None = None,
                 dedup_salt: int = 0,
                 reconcile_transport=None,
                 hash_digest: str = "sha1-b32hex") -> None:
        self.spec = spec
        self.alias_map = alias_map or {}
        self.dedup_salt = dedup_salt
        # <hash(...)> digest: sha1-b32hex (reference parity) or md5hex
        # (value-checkable against DuckDB; see CompileCtx.hash_digest)
        self.hash_digest = hash_digest
        # injectable OpenRefine transport (rdf_mapper_spark.reconcile);
        # None -> stdlib HTTP POST when a $reconciliationAPI is configured
        self.reconcile_transport = reconcile_transport
        self.warnings: list[str] = []
        self.preserved_graphs: set[str] = set()
        # (compiled mapping, prepared input) of the latest apply(), whose
        # errors count_errors() counts
        self._bound: Optional[tuple[PreparedMapping, DataFrame]] = None
        # the same for every apply() with row-templated @graphAdd
        # resources, folded into the preserved set by
        # resolve_preserved_graphs()
        self._graph_inputs: list[tuple[PreparedMapping, DataFrame]] = []
        # fold one-offs once on the driver
        self._oneoff_state = pyeval.EvalState(spec)
        base_ctx = {**spec.context, "$file": None, "$row": None,
                    "$graph": DEFAULT_GRAPH}
        for one_off in spec.one_offs:
            pyeval.process_resource(one_off, base_ctx, self._oneoff_state)
        self.preserved_graphs |= self._oneoff_state.preserved_graphs
        self._oneoff_rows = [q.as_row() for q in self._oneoff_state.quads]
        # the folded one-off subjects a compile may refer to: part of the
        # plan-cache key, so a one-off minted per engine (<uuid>, now)
        # never serves another engine's compile
        self._oneoff_digest = _digest(sorted(
            (name, repr(term))
            for name, term in self._oneoff_state.backlinks.items()))

    # ------------------------------------------------------------------
    def apply(self, df: DataFrame, file_name: str = "file",
              row_order_col: str | None = None,
              dedup: bool = True) -> DataFrame:
        """Apply the mapping; returns the quad DataFrame.

        The spec is compiled once per input schema (`prepare`) and kept in
        the plan cache; every call binds that compile to its own frame.
        Every resource emits from one lineage over ``df``, so the input is
        read once; only the driver-side constant quads (one-offs,
        reconcile side quads) are unioned onto it."""
        prepared = self._prepare(df, file_name, row_order_col)
        spark = prepared.sparkSession
        key = self._key(prepared)
        mapping = plan_cache.lookup(spark, key)
        if mapping is None:
            mapping = self.prepare(prepared)
            if not mapping.volatile:
                plan_cache.store(spark, key, mapping)
        self.warnings.extend(mapping.warnings)
        self.preserved_graphs |= mapping.preserved
        self._bound = (mapping, prepared)
        if mapping.graphs:
            self._graph_inputs.append(self._bound)
        out = mapping.bind(prepared, self._oneoff_rows)
        if out is None:
            return empty_quads(spark)
        return dedup_quads(out, salt=self.dedup_salt) if dedup else out

    def prepare(self, prepared: DataFrame) -> "PreparedMapping":
        """Compile the spec for the schema of ``prepared`` (the input with
        its ``$file`` / ``$row`` columns).  Only a compile that reads data
        (reconcile lookups) reads its rows; it and a compile that reads the
        clock (``now``) come back marked ``volatile``."""
        constants: dict[str, Any] = dict(self.spec.context)
        constants.setdefault("$graph", DEFAULT_GRAPH)
        constants["__alias_map__"] = self.alias_map
        if self.reconcile_transport is not None:
            constants["__reconcile_transport__"] = self.reconcile_transport
        lineage = Lineage()
        cctx = CompileCtx(
            spec=self.spec,
            frame=Frame(),
            data=prepared,
            constants=constants,
            columns=df_columns(prepared),
            hash_digest=self.hash_digest,
            lineage=lineage,
        )
        # one-off subjects are backref targets (<::name>)
        for name, term in self._oneoff_state.backlinks.items():
            if hasattr(term, "kind"):
                cctx.backlinks[name] = Backlink(const=term)

        # a spec's only resource filters the scan itself (pushdown);
        # several resources flag their rows in one shared projection.
        # perfbench's specs all have one resource: the shared path is
        # not benchmarked
        alone = sum(rs.pattern is None for rs in self.spec.resources) == 1
        graphs: list[Frame] = []
        preserved: set[str] = set()
        for rs in self.spec.resources:
            compiled = compile_resource(rs, cctx, alone)
            if compiled is None or not (rs.graph and rs.preserved_graph):
                continue
            rctx, graph = compiled
            if isinstance(graph, Column):
                # row-templated @graphAdd: graph IRIs are per-row columns —
                # resolve_preserved_graphs() folds the distinct g of the
                # rows the resource fires on (reference folds per row while
                # emitting, template_processor.py:72-97)
                g = graph.alias("g")
                graphs.append(rctx.rows().then(
                    lambda df, g=g: df.select(g).distinct()))
            else:
                preserved.add(graph)
        # reconcile proxy concepts + possibleMatch annotations; the
        # one-off quads are the engine's own, unioned on at bind
        return PreparedMapping(
            lineage=lineage.finish(), errors=list(cctx.error_plans),
            graphs=graphs, preserved=frozenset(preserved),
            warnings=list(cctx.warnings), rows=list(cctx.side_quad_rows),
            volatile=list(cctx.volatile))

    def _key(self, prepared: DataFrame) -> tuple:
        """The plan-cache key of this engine's compile over ``prepared``:
        everything `prepare` reads apart from the rows.  The alias map is
        not in it: only reconcile reads it, and a reconcile compile is
        marked ``volatile`` and never kept."""
        return ("mapping", spec_digest(self.spec), prepared.schema.json(),
                self.hash_digest, self._oneoff_digest,
                registered_transformers())

    def resolve_preserved_graphs(self) -> set[str]:
        """The full preserved-graph set for the update/delete sinks.

        Constant @graphAdd graphs fold on the driver during apply(); for
        row-templated @graphAdd the per-resource distinct output graphs are
        computed here (dictionary-sized by construction — one row per
        distinct graph IRI).  Matches the reference, which accumulates
        graph IRIs per emitted row (template_processor.py:72-97)."""
        out = set(self.preserved_graphs)
        for mapping, prepared in self._graph_inputs:
            for plan in mapping.bind_frames(mapping.graphs, prepared):
                out |= {r.g for r in plan.collect() if r.g is not None}
        return out

    def count_errors(self) -> dict[str, int]:
        """Row-error accounting (reference K6, template_processor.py:35-37):
        per-label counts of rows whose processing would raise in the
        reference — required-property violations (template_support.py:
        394-395) and map_by mapping misses (ValueError propagates to
        log_error, template_processor.py:52-55) — from the most recent
        apply().  Guard eval failures deliberately do NOT count: the
        reference catches them inside process_resource_spec and only logs
        (template_support.py:219-222), so they never reach error_count."""
        if self._bound is None:
            return {}
        mapping, prepared = self._bound
        labels = [label for label, _ in mapping.errors]
        plans = mapping.bind_frames([f for _, f in mapping.errors], prepared)
        return {label: df.count() for label, df in zip(labels, plans)}

    def check_abort_on_error(self) -> None:
        """Reference --abort-on-error: process everything, then fail if any
        row errored (mapper.py:49-50, template_processor.py:121-124)."""
        counts = self.count_errors()
        total = sum(counts.values())
        if total > 0:
            raise RuntimeError(
                f"Aborting due to {total} errors: {counts}"
            )

    # ------------------------------------------------------------------
    def _prepare(self, df: DataFrame, file_name: str,
                 row_order_col: str | None) -> DataFrame:
        """Attach the $file / $row pseudo-columns.

        Tests may pre-supply them. At web scale the mapping should key
        subject identity on content columns (url / content hashes) instead
        of ordinals — see SURVEY.md §7.4(2); with_row_ordinal documents the
        scalable two-phase ordinal when ordinals are genuinely required.
        """
        out = df
        if "$file" not in out.columns:
            out = out.withColumn("$file", F.lit(file_name))
        if "$row" not in out.columns and self._needs_row_ordinal():
            out = with_row_ordinal(out, order_col=row_order_col,
                                   out_col="$row")
        return out

    def _needs_row_ordinal(self) -> bool:
        """$row / default <row> subjects require the ordinal column; specs
        keyed on content columns skip the ordinal work entirely."""
        blobs = []
        for rs in list(self.spec.resources) + list(self.spec.embedded.values()):
            blobs.append(str(rs.model.model_dump()))
            if rs.prop_template("@id") is None and rs.pattern is None:
                return True
        text = " ".join(blobs)
        return "<row>" in text or "$row" in text
