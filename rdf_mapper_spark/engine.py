"""MapperEngine: mapping spec + input DataFrame -> deduplicated quad DataFrame.

Lifecycle (SURVEY.md §3.4):

    YAML spec --driver--> models --compile--> one lineage per spec
      -> scan -> filters (pushed down) -> projections: every resource's
      fired flag and subject, then its terms, computed only where it fires
      (codegen exprs, sha1 minting included; date pandas UDFs, which run
      on every row) -> [posexplode_outer per map_to level]
      -> one explode of a per-row quad array (vocabulary and autoCV quads
      are per-row constants gated on the fired flags)
      -> salted dropDuplicates (RDF set semantics)

One-offs are constant-folded on the driver (pyeval) and unioned on as a
local relation — they are row-independent by construction (reference
processes one_offs once before any row, template_processor.py:29-33).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_mapper_spark import pyeval
from rdf_mapper_spark.compiler.context import Backlink, CompileCtx, df_columns
from rdf_mapper_spark.compiler.resources import Lineage, compile_resource
from rdf_mapper_spark.quads import (
    dedup_quads,
    empty_quads,
    quads_from_rows,
    union_quads,
)
from rdf_mapper_spark.sources import with_row_ordinal
from rdf_mapper_spark.spec import DEFAULT_GRAPH, MappingSpec


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
        # row-templated @graphAdd resources: lazy distinct-g plans folded
        # into the preserved set by resolve_preserved_graphs()
        self._preserved_graph_plans: list[DataFrame] = []
        # fold one-offs once on the driver
        self._oneoff_state = pyeval.EvalState(spec)
        base_ctx = {**spec.context, "$file": None, "$row": None,
                    "$graph": DEFAULT_GRAPH}
        for one_off in spec.one_offs:
            pyeval.process_resource(one_off, base_ctx, self._oneoff_state)
        self.preserved_graphs |= self._oneoff_state.preserved_graphs

    # ------------------------------------------------------------------
    def apply(self, df: DataFrame, file_name: str = "file",
              row_order_col: str | None = None,
              dedup: bool = True) -> DataFrame:
        """Compile + apply the mapping; returns the quad DataFrame.

        Every resource of the spec emits from one lineage over ``df``, so
        the input is read once; only the driver-side constant quads
        (one-offs, reconcile side quads) are unioned onto it."""
        spark = df.sparkSession
        prepared = self._prepare(df, file_name, row_order_col)
        constants: dict[str, Any] = dict(self.spec.context)
        constants.setdefault("$graph", DEFAULT_GRAPH)
        constants["__alias_map__"] = self.alias_map
        if self.reconcile_transport is not None:
            constants["__reconcile_transport__"] = self.reconcile_transport
        lineage = Lineage(prepared)
        cctx = CompileCtx(
            spec=self.spec,
            df=prepared,
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
                self._preserved_graph_plans.append(
                    rctx.rows_df().select(graph.alias("g")).distinct())
            else:
                self.preserved_graphs.add(graph)
        plans: list[DataFrame] = []
        quads = lineage.build()
        if quads is not None:
            plans.append(quads)
        if cctx.side_quad_rows:
            # reconcile proxy concepts + possibleMatch annotations
            plans.append(quads_from_rows(spark, list(cctx.side_quad_rows)))
        if self._oneoff_state.quads:
            rows = [q.as_row() for q in self._oneoff_state.quads]
            plans.append(quads_from_rows(spark, rows))
        self.warnings.extend(cctx.warnings)
        self.error_plans = list(cctx.error_plans)
        if not plans:
            return empty_quads(spark)
        out = union_quads(plans)
        return dedup_quads(out, salt=self.dedup_salt) if dedup else out

    def resolve_preserved_graphs(self) -> set[str]:
        """The full preserved-graph set for the update/delete sinks.

        Constant @graphAdd graphs fold on the driver during apply(); for
        row-templated @graphAdd the per-resource distinct output graphs are
        computed here (dictionary-sized by construction — one row per
        distinct graph IRI).  Matches the reference, which accumulates
        graph IRIs per emitted row (template_processor.py:72-97)."""
        out = set(self.preserved_graphs)
        for plan in self._preserved_graph_plans:
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
        return {label: df.count() for label, df in
                getattr(self, "error_plans", [])}

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
