"""Resource templates -> one quad lineage per spec.

Every resource of a spec emits from one projection + ONE `explode` over
the input (`Lineage`): each resource adds its fired flag and subject,
then its term columns (computed only on the rows it fires on, so its
filter still guards them), and every quad is a CASE over those names in
one per-row array, so the input is scanned once and a resource with 20
properties costs no extra pass.  map_to/smap_to fan-outs are one
more level of the same lineage (a `posexplode_outer` over the zipped
sources); auto-declared vocabulary and autoCV concept/scheme quads are
per-row constants gated on the rows that fire, which the final set-dedup
collapses.

Plan building is py4j traffic (one round trip per `Column` method or `F.*`
call), so the emission side is SQL text: the projection names every input
column, and the quad array over those names is one `selectExpr`.

Reference semantics: template_support.py:205-396 (process_resource_spec /
process_property_value), 431-604 (map_to/smap_to/map_by/reconcile/autoCV).
"""

from __future__ import annotations

import hashlib
from dataclasses import replace
from functools import reduce
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_mapper_spark import pyeval
from rdf_mapper_spark.compiler import guards
from rdf_mapper_spark.compiler.context import (
    Backlink,
    CompileCtx,
    Frame,
    MissingVar,
    Scope,
)
from rdf_mapper_spark.compiler.functions import (
    EmbeddedFanout,
    apply_function,
    normalize_col,
    sha1_b32hex_col,
)
from rdf_mapper_spark.compiler.values import (
    XSD,
    ValueExpr,
    concat_cross_product,
    drop_null_terms,
    iri_term,
    runtime_curie_expand,
    sql_ident,
    sql_string,
    term_struct,
    to_terms,
)
from rdf_mapper_spark.quads import QUAD_FIELDS
from rdf_mapper_spark.pyfuncs import normalize as py_normalize
from rdf_mapper_spark.spec import (
    OWL_CLASS,
    RDF_PROPERTY,
    RDF_TYPE,
    RDFS_COMMENT,
    RDFS_LABEL,
    SKOS,
    MappingSpec,
    ResourceDef,
    ResourceSpec,
    expand_curie,
)
from rdf_mapper_spark.reconcile import (
    REC_LABEL,
    REC_MATCH,
    REC_POSSIBLE_MATCH,
    REC_SCORE,
)
from rdf_mapper_spark.template import (
    DATATYPE_RX,
    Static,
    VarExpansion,
    parse_template,
)

import re

_SCHEME_RX = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
_ABS_URI_JAVA = r"^(https?|file|urn)://.*"
_HASH_FORM_RX = re.compile(r"hash\s?\(([^)]*)\)$")
_COMMA_RX = re.compile(r"\s*,\s*")

TERM_NULL = "struct<k:string,v:string,dt:string,lg:string>"

#: dtypes whose canonical lexical form (lexical_column) provably contains
#: no term-syntax marker ('@', '^', '<', '>') and no character outside
#: [0-9A-Za-z .:+-] — digits, sign/exponent, 'true'/'false', ISO dates.
_SAFE_LEX_DTYPES = {
    "bigint", "int", "smallint", "tinyint", "double", "float",
    "boolean", "date", "timestamp", "timestamp_ntz", "decimal",
}

#: any character a CURIE (prefix:local, both parts [\w\-.]) cannot contain;
#: mirrors the Java (?U) pattern via Python's unicode \w
_CURIE_BREAK_RX = re.compile(r"[^\w\-.:]", re.UNICODE)


def _lexically_safe(ve: ValueExpr) -> bool:
    if ve.form == "term":
        return False
    return (ve.dtype or "").split("(")[0] in _SAFE_LEX_DTYPES


def _template_safety(pt, parts: list,
                     cctx: "CompileCtx") -> tuple[bool, bool, list]:
    """Static term-syntax analysis of an expanded template: can the final
    string possibly contain '@' (lang-tag marker) / '^' (datatype
    marker)?  Decidable from literal segments (exact text) and variable
    segments whose post-pipeline dtype has a safe lexical space; any
    string-typed/unknown segment forces 'possible'.  Also returns the
    aligned (segment, part) pairs' static texts for CURIE/absolutize
    decisions (None for variable segments).

    Folding the runtime lang/datatype/CURIE re-parse away when it is
    statically a no-op changes nothing semantically — the regexes could
    never match — but shrinks the minting expression tree ~10x, which
    pays in plan analysis, codegen and per-row regex work (guide §1.2
    step 2: per-task work, after the distributed shape is right)."""
    can_at = can_caret = False
    statics: list = []
    for seg, ve in zip(pt.segments, parts):
        text = None
        if isinstance(seg, Static):
            text = seg.text
        elif (not seg.fns and seg.var
              and seg.var not in cctx.columns
              and not cctx.shielded
              and isinstance(cctx.constants.get(seg.var), str)):
            # an un-piped spec global (e.g. {$datasetBase}) folds to a
            # string literal — its exact text is known at compile time
            text = cctx.constants[seg.var]
        if text is not None:
            statics.append(text)
            can_at = can_at or ("@" in text)
            can_caret = can_caret or ("^" in text)
        else:
            statics.append(None)
            if not _lexically_safe(ve):
                can_at = can_caret = True
    return can_at, can_caret, statics


# ---------------------------------------------------------------------------
# Template value compilation (value_expand, template_support.py:182-202)
# ---------------------------------------------------------------------------
def compile_pattern(template: str, cctx: CompileCtx) -> ValueExpr | EmbeddedFanout:
    pt = parse_template(template)
    parts: list[ValueExpr] = []
    single = pt.is_single_expansion
    for seg in pt.segments:
        if isinstance(seg, Static):
            parts.append(ValueExpr(F.lit(seg.text), dtype="string"))
            continue
        ve = _compile_expansion(seg, cctx)
        if isinstance(ve, EmbeddedFanout):
            if not single:
                raise ValueError(
                    f"map_to must be the whole template: {template!r}"
                )
            return ve
        parts.append(ve)
    if single:
        result = parts[0]
    else:
        result = concat_cross_product(parts)
    # NB: null elements of array results are NOT filtered here (that would
    # need an interpreted higher-order filter); emission paths drop nulls
    # after their (codegen'd) explode instead
    can_at, can_caret, _ = _template_safety(pt, parts, cctx)
    return to_terms(result, pt.pattern_type, cctx.ns_map,
                    suffix_free=not can_at and not can_caret)


def _compile_expansion(seg: VarExpansion, cctx: CompileCtx) -> ValueExpr | EmbeddedFanout:
    if seg.var:
        ve = cctx.resolve(seg.var)  # raises MissingVar -> property skipped
    else:
        ve = ValueExpr(F.lit(None).cast("string"), dtype="string")
    for i, fn in enumerate(seg.fns):
        out = apply_function(fn.name, list(fn.args), ve, cctx)
        if isinstance(out, EmbeddedFanout):
            if i != len(seg.fns) - 1:
                raise ValueError("map_to must be the last pipeline step")
            return out
        ve = out
    return ve


def compile_value(template: str, cctx: CompileCtx) -> ValueExpr | EmbeddedFanout:
    """value_expand: URI forms / backrefs / literal patterns."""
    if (
        template.startswith("<")
        and template.endswith(">")
        and not DATATYPE_RX.fullmatch(template)
    ):
        if template.startswith("<::"):
            bl = cctx.backlinks.get(template[3:-1])
            if bl is None:
                return ValueExpr(
                    F.lit(None).cast(TERM_NULL), form="term"
                )
            if bl.const is not None:
                return ValueExpr(
                    term_struct(bl.const.kind, bl.const.value), form="term"
                )
            return ValueExpr(
                term_struct(bl.kind_col, bl.value_col), form="term"
            )
        uris = compile_uri(template, cctx)
        out = uris.map_elements(lambda c: F.when(c.isNotNull(), iri_term(c)))
        return replace(out, form="term")
    return compile_pattern(template, cctx)


def _pattern_strings(template: str, cctx: CompileCtx,
                     with_meta: bool = False):
    """Light-weight pattern expansion to STRING values (pattern_expand,
    template_support.py:103-111): like compile_pattern but yields lexical
    strings — lang/datatype suffixes are stripped to their value part and
    no term structs / datatype-CURIE machinery enter the expression tree.
    Used for URI templates, where the full wrap would roughly double the
    per-row regex work in subject minting (the hottest expression).

    ``with_meta=True`` additionally returns (suffix_free, statics) —
    the static term-syntax analysis (_template_safety) the IRI pipeline
    uses to fold the CURIE/absolutize stages away."""
    from rdf_mapper_spark.template import (
        LANGSTRING_RX_JAVA as LANG_RX,
        DATATYPE_RX_JAVA as DT_RX,
    )

    pt = parse_template(template)
    parts: list[ValueExpr] = []
    for seg in pt.segments:
        if isinstance(seg, Static):
            parts.append(ValueExpr(F.lit(seg.text), dtype="string"))
            continue
        ve = _compile_expansion(seg, cctx)
        if isinstance(ve, EmbeddedFanout):
            raise ValueError("map_to not allowed inside URI templates")
        parts.append(ve)
    can_at, can_caret, statics = _template_safety(pt, parts, cctx)
    suffix_free = not can_at and not can_caret

    def ret(out: ValueExpr):
        return (out, suffix_free, statics) if with_meta else out

    ve = parts[0] if pt.is_single_expansion else concat_cross_product(parts)
    if ve.form == "term":
        out = ve.map_elements(lambda t: t["v"])
        # a term-form segment carries arbitrary strings — not analyzable
        return ((replace(out, form="native", dtype="string"),
                 False, statics) if with_meta
                else replace(out, form="native", dtype="string"))
    from rdf_mapper_spark.compiler.values import _DTYPE_XSD, lexical_column

    if ve.datatype is not None or _DTYPE_XSD.get(
        (ve.dtype or "").split("(")[0]
    ):
        dtype = ve.dtype
        out = ve.map_elements(lambda c: lexical_column(c, dtype))
        return ret(replace(out, form="native", dtype="string"))

    if suffix_free:
        # neither the '@lang' nor the '^^<dt>' suffix regex can match any
        # producible value (statically proven): the strip chain is the
        # identity, so skip its 4 regex evaluations per row and the
        # ~30-node when-tree per template
        out = ve.map_elements(lambda c: c.cast("string"))
        return ret(replace(out, form="native", dtype="string"))

    drop_unsuffixed = pt.pattern_type in ("langstring", "datatype")

    def strip(c: Column) -> Column:
        s = c.cast("string")
        return (
            F.when(s.isNull(), F.lit(None).cast("string"))
            .when(s.rlike(LANG_RX), F.regexp_extract(s, LANG_RX, 1))
            .when(s.rlike(DT_RX), F.regexp_extract(s, DT_RX, 1))
            .otherwise(F.lit(None).cast("string") if drop_unsuffixed else s)
        )

    out = ve.map_elements(strip)
    return ret(replace(out, form="native", dtype="string"))


# ---------------------------------------------------------------------------
# IRI minting (uri_expand, template_support.py:113-178)
# ---------------------------------------------------------------------------
def _absolutize(ve: ValueExpr, cctx: CompileCtx) -> ValueExpr:
    """Resolve relative refs against {datasetBase}/data/{resourceID}/ with
    urljoin semantics (reference _make_full_iri, template_support.py:176-178
    and the repo's own pyeval oracle): path-absolute refs ('/x') resolve
    against the base AUTHORITY, and leading dot segments ('../', './')
    collapse against the constant base — both precomputed on the driver, so
    the per-row expression stays a cheap when-chain of prefix tests."""
    from urllib.parse import urljoin, urlsplit

    base = (
        f"{cctx.constants.get('$datasetBase')}/data/"
        f"{cctx.constants.get('$resourceID')}/"
    )
    parts = urlsplit(base)
    authority = (f"{parts.scheme}://{parts.netloc}"
                 if parts.scheme and parts.netloc else None)
    big = 1 << 30  # "rest of string" for substring

    def absol(c: Column) -> Column:
        w = F.when(c.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:"), c)
        if authority:
            w = w.when(c.startswith("/"), F.concat(F.lit(authority), c))
        for k in (3, 2, 1):  # up to 3 levels of ../ (base has 2 segments)
            pre = "../" * k
            w = w.when(
                c.startswith(pre),
                F.concat(F.lit(urljoin(base, pre)),
                         F.substring(c, len(pre) + 1, big)),
            )
        w = w.when(c.startswith("./"),
                   F.concat(F.lit(base), F.substring(c, 3, big)))
        return w.otherwise(F.concat(F.lit(base), c))

    return ve.map_elements(absol)


def _default_data_uri(cctx: CompileCtx) -> ValueExpr:
    v = (
        f"{cctx.constants.get('$datasetBase')}/data/"
        f"{cctx.constants.get('$resourceID')}"
    )
    return ValueExpr(F.lit(v), dtype="string")


def compile_uri(pattern: str, cctx: CompileCtx,
                declare: bool = True) -> ValueExpr:
    """Compile a URI template to (array of) absolute-IRI string column(s)."""
    if pattern.startswith("<") and pattern.endswith(">"):
        ref = pattern[1:-1]
        if ref == "uuid":
            # nondeterministic by definition (U4); excluded from goldens
            uid = F.expr("uuid()")
            return _absolutize(ValueExpr(uid, dtype="string"), cctx)
        if ref == "row":
            return _compile_row_uri(cctx)
        if ref == "parent":
            return _compile_parent_uri(cctx)
        hm = _HASH_FORM_RX.fullmatch(ref)
        if hm:
            parts: list[Column] = []
            for p in _COMMA_RX.split(hm.group(1)):
                if p.startswith("'") and p.endswith("'"):
                    parts.append(F.lit(p[1:-1]))
                else:
                    try:
                        pv = cctx.resolve(p)
                        # str(state.get(p)): None renders as "None"
                        parts.append(
                            F.coalesce(pv.col.cast("string"), F.lit("None"))
                        )
                    except MissingVar:
                        parts.append(F.lit("None"))
            if cctx.hash_digest == "md5hex":
                digest = F.md5(F.concat(*parts))
            else:
                digest = sha1_b32hex_col(F.concat(*parts))
            # a hex/base32hex digest can't carry a scheme, a leading '/'
            # or dot segments: the absolutize when-chain always lands in
            # its otherwise branch — emit that branch directly
            base = (
                f"{cctx.constants.get('$datasetBase')}/data/"
                f"{cctx.constants.get('$resourceID')}/"
            )
            return ValueExpr(F.concat(F.lit(base), digest), dtype="string")
        # templated IRI (absolute, CURIE, or relative after expansion)
        strs, suffix_free, statics = _pattern_strings(ref, cctx,
                                                      with_meta=True)
        # a literal scheme head ('http://x/') that holds a character no
        # CURIE can contain and neither '@' nor '^' survives the suffix
        # strip whole: the strip only cuts a '@lang' / '^^<dt>' starting
        # after it.  Every value keeps that scheme and that character, so
        # CURIE expansion and absolutize below are exact identities
        head = statics[0] if statics else None
        scheme_headed = (
            head is not None and _SCHEME_RX.match(head) is not None
            and _CURIE_BREAK_RX.search(head) is not None
            and "@" not in head and "^" not in head
        )
        # CURIE expansion is also the identity when (a) no namespaces are
        # declared, or (b) a literal segment carries a character the
        # anchored CURIE pattern can never contain (e.g. '/') and no
        # suffix strip could have removed that segment — fold it away
        curie_identity = scheme_headed or (not cctx.namespaces) or (
            suffix_free and any(
                t is not None and _CURIE_BREAK_RX.search(t)
                for t in statics)
        )
        if curie_identity:
            expanded = strs
        else:
            expanded = strs.map_elements(
                lambda c: runtime_curie_expand(c, cctx.ns_map)
            )
        # the absolutize when-chain is the identity when the value
        # provably starts with a literal scheme prefix
        if scheme_headed or (curie_identity and suffix_free
                             and head is not None and _SCHEME_RX.match(head)):
            out = replace(expanded, form="native", dtype="string")
        else:
            out = _absolutize(
                replace(expanded, form="native", dtype="string"), cctx)
        # an EMPTY expansion falls back to {base}/data/{resourceID}
        # (template_support.py:163-164) — it does not drop the row
        default = (
            f"{cctx.constants.get('$datasetBase')}/data/"
            f"{cctx.constants.get('$resourceID')}"
        )
        if out.is_array:
            compact = F.array_compact(out.col)
            col = F.when(F.size(compact) > 0, compact).otherwise(
                F.array(F.lit(default))
            )
            return replace(out, col=col)
        return replace(out, col=F.coalesce(out.col, F.lit(default)))
    # bare name -> def namespace (+ auto-declared rdf:Property)
    _id = f"{cctx.constants.get('$datasetBase')}/def/{py_normalize(pattern)}"
    if declare and cctx.spec.auto_declare:
        _register_vocab(cctx, "prop", pattern, _id, None, RDF_PROPERTY)
    return ValueExpr(F.lit(_id), dtype="string")


def _compile_row_uri(cctx: CompileCtx) -> ValueExpr:
    if not cctx.has_var("$row"):
        return _default_data_uri(cctx)
    row = cctx.resolve("$row").col.cast("string")
    file_ve = cctx.resolve("$file") if cctx.has_var("$file") else None
    if file_ve is None:
        return _default_data_uri(cctx)
    fname = normalize_col(file_ve.col.cast("string"))
    ref = F.concat(fname, F.lit("-"), row)
    if cctx.has_var("$listIndex"):
        li = cctx.resolve("$listIndex").col.cast("string")
        ref = F.concat(li, F.lit("/"), ref)
    return _absolutize(ValueExpr(ref, dtype="string"), cctx)


def _compile_parent_uri(cctx: CompileCtx) -> ValueExpr:
    if not cctx.has_var("$parentID"):
        return _default_data_uri(cctx)
    parent = cctx.resolve("$parentID").col.cast("string")
    ref = F.concat(parent, F.lit("/"),
                   F.lit(str(cctx.constants.get("$resourceID"))))
    if cctx.has_var("$listIndex"):
        li = cctx.resolve("$listIndex").col.cast("string")
        ref = F.concat(ref, F.lit("/"), li)
    return _absolutize(ValueExpr(ref, dtype="string"), cctx)


# ---------------------------------------------------------------------------
# Row-level guards (requires / unless / guard -> one filter Column)
# ---------------------------------------------------------------------------
def filters_condition(rs: ResourceSpec, cctx: CompileCtx) -> Optional[Column]:
    conds: list[Column] = []
    if rs.guard:
        conds.append(guards.compile_guard(rs.guard, cctx))
    if rs.requires:
        for key, expected in rs.requires.items():
            if not cctx.has_var(key):
                conds.append(F.lit(expected is not None and False))
                continue
            col = cctx.resolve(key).col
            # bare comparisons: a NULL result drops the row in Filter, which
            # already matches reference semantics — and stays pushable into
            # the parquet scan (EqualTo/In/IsNotNull row-group skipping)
            if expected is None:
                conds.append(col.isNotNull() & (col.cast("string") != ""))
            elif isinstance(expected, list):
                conds.append(col.isin(expected))
            else:
                conds.append(col == F.lit(expected))
    if rs.unless:
        for key, blocked in rs.unless.items():
            if not cctx.has_var(key):
                # absent column == no value (reference state.get -> None,
                # template_support.py:249-259): unless-null is SATISFIED
                # (keep), a scalar never equals None (keep); only a blocked
                # LIST containing null can match the absent value
                if isinstance(blocked, list):
                    conds.append(F.lit(None not in blocked))
                else:
                    conds.append(F.lit(True))
                continue
            raw = cctx.resolve(key)
            col = raw.col
            if raw.dtype == "string":
                col = F.when(F.trim(col) == "", None).otherwise(col)
            if blocked is None:
                conds.append(col.isNull())
            elif isinstance(blocked, list):
                nn = [b for b in blocked if b is not None]
                keep = (F.coalesce(~col.isin(nn), F.lit(True)) if nn
                        else F.lit(True))
                if None in blocked:  # `value in unless_value` matches null
                    keep = col.isNotNull() & keep
                conds.append(keep)
            else:
                conds.append(F.coalesce(col != F.lit(blocked), F.lit(True)))
    if not conds:
        return None
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


# ---------------------------------------------------------------------------
# Vocabulary auto-declaration (template_support.py:398-424)
# ---------------------------------------------------------------------------
def _register_vocab(cctx: CompileCtx, kind: str, name: str, _id: str,
                    comment: str | None, type_iri: str) -> None:
    """Declare ``_id`` (an owl:Class / rdf:Property) on the rows the
    resource of ``cctx`` fires on.

    The quads are constants in the resource's constant ``@graph`` (NULL,
    the default graph, otherwise).  A row-templated graph also gets NULL:
    the reference declares in the graph of the first row that fires,
    which depends on row order.  Each (key, graph) is emitted once, gated
    on the OR of the fired flags of every resource that declares it."""
    g = cctx.constants.get("$graph_const")
    rows = [(g, "iri", _id, RDF_TYPE, "iri", type_iri, None, None),
            (g, "iri", _id, RDFS_LABEL, "literal", name, None, None)]
    if comment is not None:
        rows.append((g, "iri", _id, RDFS_COMMENT, "literal", comment,
                     None, None))
    cctx.lineage.declare(cctx.scope, (f"{kind}#{name}", g), rows)


# ---------------------------------------------------------------------------
# autoCV (template_support.py:575-604) and reconcile (482-530)
# ---------------------------------------------------------------------------
def compile_autocv(ve: ValueExpr, args: list[Any], cctx: CompileCtx) -> ValueExpr:
    """Concept IRIs of the labels; each row that fires with a label also
    emits the concept and scheme quads, which the final set-dedup
    collapses to one copy per distinct label (the reference's only
    cross-row aggregation, R9)."""
    cv_name = str(args[0]) if args else str(cctx.constants.get("$prop"))
    cv_type = str(args[1]) if len(args) > 1 else None
    base = f"{cctx.constants.get('$datasetBase')}/def/{cv_name}"
    if ve.is_array and cv_type == "hash":
        raise ValueError("autoCV(hash) over multi-values: explode first")

    def concept(c: Column) -> Column:
        label = c.cast("string")
        local = (
            sha1_b32hex_col(label) if cv_type == "hash" else normalize_col(label)
        )
        return F.when(label.isNotNull() & (label != ""),
                      F.concat(F.lit(base + "/"), local))

    def concept_term(c: Column) -> Column:
        iri = concept(c)
        return F.when(iri.isNotNull(), iri_term(iri))

    lineage, scope = cctx.lineage, cctx.scope
    g = cctx.constants.get("$graph_const")
    g = "NULL" if g is None else sql_string(g)
    if ve.is_array:
        pairs = lineage.column(scope, F.transform(ve.col, lambda c: F.struct(
            c.cast("string").alias("l"), concept(c).alias("c"))))
        quads = _autocv_quads(g, cv_name, base + "_scheme", "__x.c", "__x.l")
        lineage.arrays.append((cctx.scope, lambda gate: (
            f"coalesce(flatten(transform({pairs}, __x -> "
            f"if({_and_sql(gate, '__x.c IS NOT NULL')}, {quads}, array()))), "
            "array())")))
    else:
        label = lineage.column(scope, ve.col.cast("string"))
        iri = lineage.column(scope, concept(ve.col))
        quads = _autocv_quads(g, cv_name, base + "_scheme", iri, label)
        lineage.arrays.append((cctx.scope, lambda gate: (
            f"if({_and_sql(gate, f'{iri} IS NOT NULL')}, {quads}, array())")))
    return replace(ve.map_elements(concept_term), form="term")


def _autocv_quads(g: str, cv_name: str, scheme_id: str, concept: str,
                  label: str) -> str:
    """SQL array of one label's concept quads and its scheme's quads."""
    scheme = sql_string(scheme_id)
    dct = "http://purl.org/dc/terms/"
    return "array({})".format(", ".join(
        _quad_fields_sql(g, sql_string("iri"), s, sql_string(p),
                         sql_string(ok), o, "NULL", "NULL")
        for s, p, ok, o in (
            (concept, RDF_TYPE, "iri", sql_string(SKOS + "Concept")),
            (concept, SKOS + "prefLabel", "literal", label),
            (concept, SKOS + "inScheme", "iri", scheme),
            (concept, SKOS + "topConceptOf", "iri", scheme),
            (scheme, SKOS + "hasTopConcept", "iri", concept),
            (scheme, RDF_TYPE, "iri", sql_string(SKOS + "ConceptScheme")),
            (scheme, dct + "title", "literal", sql_string(cv_name)),
            (scheme, dct + "description", "literal", sql_string(
                f"Automatically generated concept scheme {cv_name}")),
        )))


def compile_reconcile(ve: ValueExpr, args: list[Any], cctx: CompileCtx) -> ValueExpr:
    """Entity reconciliation (T19 / north rule) — reference
    template_support.py:482-530 + lib/reconcile.py.

    Resolution order per distinct key (mirrors the reference's per-run
    reconciliation cache, template_state.ReconciliationRecord):
      1. the engine's registered alias map (offline broadcast dictionary);
      2. the OpenRefine reconciliation API when an endpoint is configured
         (``$reconciliationAPI`` global, prop-def ``reconciliationAPI``, or
         3rd template arg) — batched HTTP over the DISTINCT keys via
         mapInPandas (rdf_mapper_spark.reconcile), never per row;
      3. a deterministic proxy concept ``{base}/data/{name}/<hash(key,
         keytype)>`` (template_support.py:476-480 _PROXY_CONCEPT_PROPS),
         which also emits its own ``rdf:type {keytype}`` and
         ``skos:prefLabel {key}`` triples plus one ``rec:possibleMatch``
         blank node per candidate the API returned (reconcile.py:61-66
         MatchEntry.record_as_rdf).  ``skip_placeholders`` suppresses the
         proxy (the property then emits no triple for unmatched keys).

    The resolved (key -> IRI) table is dictionary-sized by construction
    (distinct reconcilable keys), so it folds into the plan as a literal map
    below a threshold and as an Arrow-batched pandas lookup above it; the
    web-scale row-volume path stays pipeline.linking's broadcast join.
    """
    # the lookups read this input's keys (API) and pick their plan by the
    # size of the resolved dictionary: the compile is prepared per apply
    cctx.volatile.append("reconcile")
    name = (str(args[0]) if args and args[0] not in (None, "None", "")
            else str(cctx.constants.get("$resourceID")))
    keytype = None
    if len(args) > 1 and args[1] not in (None, "None", ""):
        keytype = expand_curie(str(args[1]), cctx.spec.namespaces)
    endpoint = None
    if len(args) > 2 and args[2] not in (None, "None", ""):
        endpoint = str(args[2])
    endpoint = endpoint or cctx.constants.get("$reconciliationAPI")
    skip_placeholders = len(args) > 3 and str(args[3]).lower() in (
        "true", "1", "skip"
    )
    # filters live on the prop-def (spec.py PropertySpec), keyed by `name` —
    # the template arg string cannot round-trip a pair list
    filters: list[tuple[str, str]] = []
    prop_def = cctx.spec.prop_defs.get(name)
    if prop_def is not None and prop_def.reconciliation_filters:
        ns = cctx.spec.namespaces
        filters = [(expand_curie(str(p), ns), expand_curie(str(v), ns))
                   for p, v in prop_def.reconciliation_filters]

    alias_map: dict[str, str] = cctx.constants.get("__alias_map__", {})
    keytype_str = keytype or (SKOS + "Concept")
    proxy_base = f"{cctx.constants.get('$datasetBase')}/data/{name}/"

    def proxy_of(c: Column) -> Column:
        return F.concat(
            F.lit(proxy_base),
            sha1_b32hex_col(F.concat(c, F.lit(keytype_str))),
        )

    resolved_map: dict[str, str | None] = dict(alias_map)
    have_full_cover = False
    if endpoint:
        from rdf_mapper_spark.pyfuncs import sha1_b32hex
        from rdf_mapper_spark.reconcile import reconcile_keys

        key_el = (F.explode(ve.col).cast("string") if ve.is_array
                  else ve.col.cast("string"))
        keys_df = (
            cctx.rows().bind(cctx.data).select(key_el.alias("key"))
            .where(F.col("key").isNotNull() & (F.col("key") != ""))
            .distinct()
        )
        if alias_map:
            keys_df = keys_df.where(~F.col("key").isin(list(alias_map)))
        transport = cctx.constants.get("__reconcile_transport__")
        # run-wide verdict cache (reference TemplateState.reconcile_cache,
        # template_state.py:71-78): ONE API call per distinct
        # (key, keytype, endpoint, filters) across every call site of the
        # run.  The per-site proxy/annotation emission below still runs for
        # cached keys — proxy IRIs are namespaced by the call-site `name`.
        cache: dict = cctx.reconcile_cache.setdefault(
            (str(endpoint), keytype_str, tuple(filters)), {}
        )
        site_keys = [r.key for r in keys_df.collect()]
        new_keys = [k for k in site_keys if k not in cache]
        if new_keys:
            nk_df = (keys_df if len(new_keys) == len(site_keys)
                     else keys_df.where(F.col("key").isin(new_keys)))
            for row in reconcile_keys(nk_df, str(endpoint), keytype=keytype,
                                      filters=filters,
                                      transport=transport).collect():
                cache[row.key] = (row.match_id, row.possible)
        g = cctx.constants.get("$graph_const")
        for key in site_keys:
            match_id, possible = cache[key]
            if match_id:
                resolved_map[key] = match_id
                continue
            if skip_placeholders:
                resolved_map[key] = None
                continue
            proxy_iri = proxy_base + sha1_b32hex(key + keytype_str)
            resolved_map[key] = proxy_iri
            cctx.side_quad_rows.append(
                (g, "iri", proxy_iri, RDF_TYPE, "iri", keytype_str,
                 None, None))
            cctx.side_quad_rows.append(
                (g, "iri", proxy_iri, SKOS + "prefLabel", "literal",
                 key, None, None))
            for j, pm in enumerate(possible or []):
                bn = hashlib.md5(
                    f"rec-{name}-{key}-{j}".encode()
                ).hexdigest()
                cctx.side_quad_rows.append(
                    (g, "iri", proxy_iri, REC_POSSIBLE_MATCH, "bnode", bn,
                     None, None))
                cctx.side_quad_rows.append(
                    (g, "bnode", bn, REC_MATCH, "iri", pm.id, None, None))
                if pm.name is not None:
                    cctx.side_quad_rows.append(
                        (g, "bnode", bn, REC_LABEL, "literal", pm.name,
                         None, None))
                if pm.score is not None:
                    cctx.side_quad_rows.append(
                        (g, "bnode", bn, REC_SCORE, "literal",
                         _decimal_lexical(pm.score), XSD + "decimal", None))
        have_full_cover = True  # every distinct key now has a verdict

    live = {k: v for k, v in resolved_map.items() if v is not None}
    # three lookup tiers by dictionary size:
    #   <= LITERAL_MAP_MAX: inline CreateMap (pure codegen);
    #   <= BROADCAST_MIN:   Arrow-batched UDF, dict pickled in the closure;
    #   >  BROADCAST_MIN:   left BroadcastHashJoin against the resolved DF
    #                       (the clean form beyond closure scale — the dict
    #                       ships once via the broadcast exchange, and at
    #                       true scale the resolved side can stay a
    #                       distributed DF instead of a driver dict).
    # The join tier needs a context whose frame the resource body will
    # re-base (joinable) and a scalar key (per-element array lookups can't
    # be joined); otherwise it degrades to the UDF tier.
    use_join = (len(live) > _RECONCILE_BROADCAST_MIN
                and cctx.joinable and not ve.is_array)
    big_lookup = (_dict_lookup_udf(live)
                  if not use_join and len(live) > _RECONCILE_LITERAL_MAP_MAX
                  else None)

    def lookup_of(c: Column) -> Column:
        if not live:
            return F.lit(None).cast("string")
        if use_join:
            alias = f"__rec_lookup_{len(cctx.pending_joins)}"
            from rdf_mapper_spark.localrel import local_df

            res_df = local_df(
                cctx.data.sparkSession, list(live.items()),
                f"__k_{alias} string, {alias} string",
            )
            cctx.pending_joins.append((c.cast("string"), res_df, alias))
            return F.col(alias)
        if big_lookup is not None:
            # big dictionaries: Arrow-batched lookup — the dict ships once
            # per executor in the UDF closure instead of exploding codegen
            return big_lookup(c)
        pairs: list[Column] = []
        for a, iri_v in live.items():
            pairs.extend([F.lit(a), F.lit(iri_v)])
        return F.create_map(*pairs)[c]

    def link_term(c: Column) -> Column:  # single param: pyspark HOF bridge
        c = c.cast("string")
        if have_full_cover or skip_placeholders:
            # every distinct key has a verdict (match / proxy / dropped)
            resolved = lookup_of(c)
        else:
            # no API: alias map + deterministic proxy fallback
            resolved = F.coalesce(lookup_of(c), proxy_of(c))
        return F.when(c.isNotNull() & resolved.isNotNull(),
                      iri_term(resolved))

    out = ve.map_elements(link_term)
    return replace(out, form="term")


_RECONCILE_LITERAL_MAP_MAX = 1000
# above this many resolved keys the closure-pickled Arrow UDF lookup gives
# way to a left BroadcastHashJoin (see the tier comment at the call site)
_RECONCILE_BROADCAST_MIN = 10_000_000


def _decimal_lexical(x: float) -> str:
    """xsd:decimal lexical form of a JSON score (rdflib Literal parity)."""
    s = repr(float(x))
    return s if "e" not in s and "E" not in s else f"{float(x):f}"


def _dict_lookup_udf(mapping: dict[str, str]):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def look(s: pd.Series) -> pd.Series:
        return s.map(mapping)

    return look


# ---------------------------------------------------------------------------
# The spec lineage: one projection per level + one generate
# ---------------------------------------------------------------------------
class Lineage:
    """The one plan every resource of a spec emits its quads from.

    Level 0 is the input rows.  Each deeper level is one
    ``posexplode_outer(arrays_zip(..))`` over the map_to sources of the
    level above (``__li{L}`` / ``__z{L}``), so a row with no elements
    keeps one row with a NULL position.  A level is projected twice: its
    heads (each scope's fired flag ``__f`` and subject ``__subj``, and the
    map_to sources), then the columns resources add (``column``), each
    computed only where its scope fires, so a filter still guards a cast
    or a lookup as a Filter did.  (Python UDFs are evaluated ahead of any
    CASE, on every row of the level; a plugin UDF gets NULL on the rows
    its scope does not fire on.)  Resources register quads as SQL text over
    those names: scalar terms in ``quads``, arrays of quads in ``arrays``,
    constant vocabulary in ``vocab``.  Each quad is gated on its scope's
    fired flag and, above the last level, on the first position of every
    explode below it, so it is emitted once per row of its own level.

    ``finish`` renders all of that once into Columns and one SQL generate;
    ``bind`` replays it over an input frame (the lineage keeps its frames
    as recipes, so one finished lineage serves every input of its
    schema)."""

    def __init__(self) -> None:
        # the rows the lineage reads, as a recipe over the input
        self.base = Frame()
        # conditions of the top-level resources; the lineage keeps the
        # rows that pass at least one when every resource has one
        self.filters: list[Optional[Column]] = []
        self.heads: list[list[Column]] = [[]]
        self.cols: list[list[Column]] = [[]]
        self.sources: list[list[str]] = [[]]
        self.joins: list[list] = [[]]
        # (scope, render): render(gate SQL) is a quad / an array of quads
        self.quads: list[tuple[Scope, Any]] = []
        self.arrays: list[tuple[Scope, Any]] = []
        # (key, graph) -> (constant quad rows, declaring scopes)
        self.vocab: dict[tuple, tuple[list, list[Scope]]] = {}
        self._names: dict[str, int] = {}
        self._emitted = 0

    def name(self, prefix: str) -> str:
        n = self._names.get(prefix, 0)
        self._names[prefix] = n + 1
        return prefix + (str(n) if n else "")

    def column(self, scope: Scope, col: Column,
               name: Optional[str] = None) -> str:
        """Project ``col`` at the scope's level, NULL on the rows the scope
        does not fire on; returns its SQL identifier."""
        name = name or self.name("__c")
        if scope.fired:
            col = F.when(F.col(scope.fired), col)
        self.cols[scope.level].append(col.alias(name))
        return sql_ident(name)

    def _head(self, level: int, col: Column, prefix: str) -> str:
        name = self.name(prefix)
        self.heads[level].append(col.alias(name))
        return name

    def scope(self, level: int, rows: Optional[Column], kind: str = "iri",
              subject: Optional[Column] = None, checked: bool = False
              ) -> Scope:
        """The rows of ``level`` a resource instantiation fires on: where
        ``rows`` holds (None: every row) and its ``subject``, computed only
        there, is not NULL (``checked``: the frame holds no other rows)."""
        if subject is not None:
            if rows is not None:
                subject = F.when(rows, subject)
            if not checked:
                rows = subject.isNotNull()
        fired = None if rows is None else self._head(level, rows, "__f")
        subj = None if subject is None else self._head(level, subject,
                                                       "__subj")
        return Scope(level, fired, rows, subj, subject, kind)

    def source(self, scope: Scope, col: Column) -> str:
        """Register a map_to source array on the scope's rows (``[]``
        elsewhere); its elements are the field of that name in
        ``__z{level + 1}``."""
        if scope.rows is not None:
            col = F.when(scope.rows, col)
        level = scope.level
        name = self._head(level, F.coalesce(col, F.array()), "__src")
        self.sources[level].append(name)
        if len(self.cols) == level + 1:
            for lists in (self.heads, self.cols, self.sources, self.joins):
                lists.append([])
        return name

    def level_frame(self, frame: Frame, level: int,
                    sources: list[str]) -> Frame:
        """``frame``, the rows of ``level``, with the level's heads so far
        projected, exploded over ``sources`` into the rows of
        ``level + 1``."""
        heads = list(self.heads[level])
        explode = _explode(level, sources)
        return frame.then(lambda df: _level_frame(df, heads, (), explode))

    def emit(self, scope: Scope, g: str, pred: Column, term: ValueExpr,
             inverse: bool, subject: Optional[tuple[str, str]] = None
             ) -> None:
        """Quads (subject, pred, term) on the rows ``scope`` fires on;
        ``subject`` is the (kind, column) SQL of another scope's subject
        (a parent link), by default the scope's own."""
        i = self._emitted
        self._emitted += 1
        t = self.column(scope, term.col, f"__t{i}")
        p = self.column(scope, pred, f"__p{i}")
        sk, s = subject or (sql_string(scope.kind), sql_ident(scope.subject))
        if term.is_array:
            self.arrays.append((scope, lambda gate: (
                f"coalesce(transform({t}, __x -> "
                f"{_quad_sql(gate, g, sk, s, p, '__x', inverse)}), array())")))
        else:
            self.quads.append(
                (scope, lambda gate: _quad_sql(gate, g, sk, s, p, t, inverse)))

    def declare(self, scope: Scope, key: tuple, rows: list[tuple]) -> None:
        self.vocab.setdefault(key, (rows, []))[1].append(scope)

    def _gate(self, scope: Scope) -> str:
        conds = [sql_ident(scope.fired)] if scope.fired else []
        conds += [f"coalesce({sql_ident(f'__li{m}')}, 0) = 0"
                  for m in range(scope.level + 1, len(self.cols))]
        return " AND ".join(conds)

    def finish(self) -> Optional["Lineage"]:
        """Render the quad generate and each level's explode once; None
        when nothing emits."""
        pieces = []
        if self.quads:
            pieces.append("array({})".format(", ".join(
                render(self._gate(sc)) for sc, render in self.quads)))
        pieces += [render(self._gate(sc)) for sc, render in self.arrays]
        by_gates: dict[tuple, list[tuple]] = {}
        for rows, scopes in self.vocab.values():
            gates = tuple(dict.fromkeys(self._gate(sc) for sc in scopes))
            by_gates.setdefault(gates, []).extend(rows)
        for gates, rows in by_gates.items():
            arr = "array({})".format(", ".join(
                _quad_fields_sql(*("NULL" if x is None else sql_string(x)
                                   for x in row)) for row in rows))
            pieces.append(arr if "" in gates else "if({}, {}, array())".format(
                " OR ".join(f"({x})" for x in gates), arr))
        if not pieces:
            return None
        # the rows some top-level resource's filter passes
        self.passes = (reduce(lambda a, b: a | b, self.filters)
                       if self.filters and all(c is not None
                                               for c in self.filters)
                       else None)
        depth = len(self.cols)
        self.explodes = [None if level + 1 == depth
                         else _explode(level, self.sources[level])
                         for level in range(depth)]
        quads = pieces[0] if len(pieces) == 1 else f"concat({', '.join(pieces)})"
        self.generate = F.expr(f"explode({quads}) AS q")
        self.emitted = F.col("q").isNotNull()
        self.fields = F.col("q.*")
        return self

    def bind(self, df: DataFrame) -> DataFrame:
        """The quad DataFrame (not deduplicated) over the input ``df``."""
        frame = self.base.bind(df)
        if self.passes is not None:
            frame = frame.where(self.passes)
        depth = len(self.cols)
        for level in range(depth):
            for key_col, res_df, alias in self.joins[level]:
                frame = frame.join(
                    F.broadcast(res_df), key_col == F.col(f"__k_{alias}"),
                    "left").drop(f"__k_{alias}")
            frame = _level_frame(frame, self.heads[level], self.cols[level],
                                 self.explodes[level],
                                 keep=depth > 1 or bool(self.heads[0]))
        return (frame.select(self.generate).where(self.emitted)
                .select(self.fields))


def _explode(level: int, sources: list[str]) -> Optional[Column]:
    """The explode of ``sources`` from the rows of ``level`` into those of
    ``level + 1``: their position and their zipped elements."""
    if not sources:
        return None
    return F.posexplode_outer(F.arrays_zip(*sources)).alias(
        f"__li{level + 1}", f"__z{level + 1}")


def _level_frame(frame: DataFrame, heads: list[Column], cols: list[Column],
                 explode: Optional[Column], keep: bool = True) -> DataFrame:
    """``frame`` with a level's ``heads`` and ``cols`` projected (``keep``:
    next to its columns), then ``explode``d into the next level."""
    if heads:
        frame = frame.select("*", *heads)
    if cols:
        frame = frame.select("*", *cols) if keep else frame.select(*cols)
    if explode is not None:
        frame = frame.select("*", explode)
    return frame


def _and_sql(*conds: str) -> str:
    return " AND ".join(c for c in conds if c)


def _all(*conds: Optional[Column]) -> Optional[Column]:
    """The given conditions in turn (None: no condition): each one is
    evaluated only where the ones before it hold, so a parent's filter
    guards its child's."""
    conds = [c for c in conds if c is not None]
    return reduce(F.when, conds) if conds else None


def _quad_fields_sql(*fields: str) -> str:
    """``named_struct`` SQL text of one quad from its eight field
    expressions (SQL text), each cast to string."""
    return "named_struct({})".format(", ".join(
        f"{sql_string(name)}, CAST({e} AS STRING)"
        for name, e in zip(QUAD_FIELDS, fields)))


def _quad_sql(gate: str, g: str, sk: str, s: str, p: str, t: str,
              inverse: bool) -> str:
    """SQL text of one quad: subject ``s`` of kind ``sk``, predicate
    ``p``, term struct ``t``, graph ``g`` (all SQL); NULL unless ``gate``
    holds and the term, its value and the subject are present."""
    if inverse:
        quad = _quad_fields_sql(g, f"{t}.k", f"{t}.v", p, sk, s,
                                "NULL", "NULL")
    else:
        quad = _quad_fields_sql(g, sk, s, p, f"{t}.k", f"{t}.v",
                                f"{t}.dt", f"{t}.lg")
    return "CASE WHEN {} THEN {} END".format(_and_sql(
        gate, f"{t} IS NOT NULL AND {t}.v IS NOT NULL AND {s} IS NOT NULL"),
        quad)


# ---------------------------------------------------------------------------
# Resource compilation
# ---------------------------------------------------------------------------
def compile_resource(rs: ResourceSpec, cctx: CompileCtx, alone: bool
                     ) -> Optional[tuple[CompileCtx, str | Column | None]]:
    """Register one top-level resource in the spec lineage.

    ``alone``: the spec's only resource with quads of its own, so its
    filter and non-NULL subject filter the lineage itself (and push into
    the scan) instead of flagging its rows.  Returns the resource's
    context and graph (a constant IRI, a row column or None); None for a
    literal resource."""
    if rs.pattern is not None:
        # literal-resource templates only make sense embedded; top-level
        # pattern resources produce no quads of their own
        return None
    consts = dict(cctx.constants)
    consts["$resourceID"] = rs.name
    fctx = cctx.child(cctx.frame, dict(cctx.columns), consts)
    cond = filters_condition(rs, fctx)

    # graph routing (R12): constant graph IRIs fold on the driver; a graph
    # template referencing row variables (reference expands per row,
    # template_support.py:284-287) compiles to a real graph column
    graph: str | Column | None = None
    g = "NULL"
    if rs.graph:
        gvars = parse_template(rs.graph).referenced_vars()
        if any(v in fctx.columns for v in gvars):
            gv = compile_uri(rs.graph, fctx, declare=False)
            graph = (F.element_at(F.array_compact(gv.col), 1)
                     if gv.is_array else gv.col).cast("string")
        else:
            state = pyeval.EvalState(fctx.spec)
            graph = pyeval.uri_expand(rs.graph, dict(fctx.constants), state)[0]
            fctx.constants["$graph_const"] = graph
            g = sql_string(graph)

    kind, subj = _subject(rs, fctx)
    lineage = cctx.lineage
    if alone:
        frame = fctx.frame.where(cond)
        fctx.frame = lineage.base = frame.where(subj.isNotNull())
        pctx = _open_scope(rs, fctx, 0, None, kind, subj, checked=True)
    else:
        lineage.filters.append(cond)
        pctx = _open_scope(rs, fctx, 0, cond, kind, subj)
    if isinstance(graph, Column):
        g = lineage.column(pctx.scope, graph, lineage.name("__g"))
    _compile_resource_body(rs, pctx, g)
    return pctx, graph


def _subject(rs: ResourceSpec, cctx: CompileCtx) -> tuple[str, Column]:
    """(term kind, subject Column) of one instantiation of ``rs``."""
    id_template = rs.prop_template("@id") or "<row>"
    if id_template == "<_>":
        return "bnode", _skolem_bnode(rs.name, cctx)
    sv = compile_uri(id_template, cctx, declare=False)
    return "iri", (F.element_at(F.array_compact(sv.col), 1)
                   if sv.is_array else sv.col)


def _open_scope(rs: ResourceSpec, cctx: CompileCtx, level: int,
                rows: Optional[Column], kind: str, subj: Column,
                checked: bool = False) -> CompileCtx:
    """The context of one resource instantiation: its scope in the
    lineage (``Lineage.scope``), its subject as ``$parentID`` and as the
    ``<::name>`` backlink, and its level's broadcast joins."""
    lineage = cctx.lineage
    scope = lineage.scope(level, rows, kind, subj, checked)
    subj = scope.subject_col
    cctx.backlinks[rs.name] = Backlink(kind_col=F.lit(kind), value_col=subj)
    cols = dict(cctx.columns)
    cols["$parentID"] = (subj, "string")
    pctx = cctx.child(cctx.frame, cols, dict(cctx.constants), scope=scope)
    # huge-dictionary reconcile lookups join onto this level's frame
    pctx.pending_joins = lineage.joins[level]
    pctx.joinable = True
    return pctx


def _compile_resource_body(rs: ResourceSpec, pctx: CompileCtx, g: str) -> None:
    """Type and property quads of one resource instantiation."""
    spec, lineage, scope = pctx.spec, pctx.lineage, pctx.scope
    type_template = rs.prop_template("@type")
    if not type_template and spec.auto_declare:
        cls_id = (
            f"{pctx.constants.get('$datasetBase')}/def/"
            f"{py_normalize(rs.name)}"
        )
        _register_vocab(pctx, "class", rs.name, cls_id, rs.comment, OWL_CLASS)
        lineage.emit(scope, g, F.lit(RDF_TYPE),
                     ValueExpr(iri_term(cls_id), form="term"), False)
    elif type_template:
        tv = compile_uri(type_template, pctx, declare=False)
        tcol = F.element_at(tv.col, 1) if tv.is_array else tv.col
        lineage.emit(scope, g, F.lit(RDF_TYPE),
                     ValueExpr(F.when(tcol.isNotNull(), iri_term(tcol)),
                               form="term"), False)

    for prop, template in rs.properties:
        if prop in ("@id", "@type", "@graph"):
            continue
        templates = template if isinstance(template, list) else [template]
        for tpl in templates:
            try:
                _compile_property(rs, prop, tpl, pctx, g)
            except MissingVar as mv:
                pctx.warnings.append(
                    f"{rs.name}.{prop}: variable {mv} not in schema — skipped"
                )
            except ValueError as err:
                pctx.warnings.append(f"{rs.name}.{prop}: {err} — skipped")


def _skolem_bnode(name: str, cctx: CompileCtx) -> Column:
    """Deterministic blank-node label per resource instantiation (U10).

    The reference mints a fresh BNode per row (template_support.py:291-292);
    goldens compare bnode-isomorphically, so a deterministic skolem of the
    (file,row,resource[,listIndex]) scope is equivalent AND idempotent on
    re-run — required for checkpoint/resume.
    """
    parts: list[Column] = [F.lit("b"), F.lit(name)]
    for var in ("$file", "$row", "$listIndex"):
        if cctx.has_var(var):
            parts.extend([F.lit("-"), cctx.resolve(var).col.cast("string")])
    return F.md5(F.concat(*parts))


def _compile_property(rs: ResourceSpec, prop: str, template: Any,
                      pctx: CompileCtx, g: str) -> None:
    spec, lineage, scope = pctx.spec, pctx.lineage, pctx.scope
    inverse = prop.startswith("^")
    if inverse:
        prop = prop[1:]

    prop_def = None
    if prop.startswith(":"):
        prop_def = spec.prop_defs.get(prop[1:])
        if not prop_def:
            raise ValueError(f"unknown property definition {prop}")
        prop, template = prop_def.rewrite_template(template)
        if prop_def.cls:
            cls = compile_uri(prop_def.cls, pctx, declare=False)
            ccol = F.element_at(cls.col, 1) if cls.is_array else cls.col
            lineage.emit(scope, g, F.lit(RDF_TYPE),
                         ValueExpr(F.when(ccol.isNotNull(), iri_term(ccol)),
                                   form="term"), False)

    pv = compile_uri(prop, pctx)
    pred = F.element_at(pv.col, 1) if pv.is_array else pv.col
    propname = prop
    if prop_def:
        propname = prop_def.name
        if spec.auto_declare:
            # prop-def IRIs are row-independent: fold driver-side
            state = pyeval.EvalState(spec)
            folded = pyeval.uri_expand(prop, dict(pctx.constants), state)
            _register_vocab(pctx, "prop", prop_def.name, folded[0],
                            prop_def.comment, RDF_PROPERTY)

    if isinstance(template, dict):
        # nested inline resource spec (R5)
        _compile_nested_resource(ResourceSpec(ResourceDef(**template)),
                                 pctx, g, pred, inverse)
        return
    if not isinstance(template, str):
        raise ValueError(f"unsupported property template {template!r}")
    if template == "":
        template = "{" + prop + "}"  # P4 transposition (doc.md:188)

    vctx = pctx.child(pctx.frame, dict(pctx.columns), dict(pctx.constants))
    vctx.constants["$prop"] = propname
    value = compile_value(template, vctx)
    if isinstance(value, EmbeddedFanout):
        _compile_fanout(value, vctx, g, pred, inverse)
        return
    if prop_def and prop_def.required:
        # F4/K6: a missing value for a required prop counts as a row error
        # (template_support.py:394-395); collected lazily, counted by
        # MapperEngine.count_errors()
        if value.is_array:
            missing = F.size(value.col) == 0
        else:
            missing = value.col.isNull() | value.col["v"].isNull()
        pctx.error_plans.append(
            (f"{rs.name}.{prop_def.name}:required-missing",
             pctx.rows().where(missing))
        )
    lineage.emit(scope, g, pred, value, inverse)


def _compile_nested_resource(child: ResourceSpec, pctx: CompileCtx, g: str,
                             pred: Column, inverse: bool) -> None:
    """Inline dict property value -> child resource on the same rows."""
    consts = dict(pctx.constants)
    consts["$resourceID"] = child.name
    cctx = pctx.child(pctx.frame, dict(pctx.columns), consts)
    scope = pctx.scope
    _compile_child(child, cctx, scope.level,
                   _all(scope.rows, filters_condition(child, cctx)),
                   g, pred, inverse, scope)


def _compile_fanout(fo: EmbeddedFanout, pctx: CompileCtx, g: str,
                    pred: Column, inverse: bool) -> None:
    """map_to / smap_to: the nested elements become the next lineage level.

    The source array is projected at the parent's level and exploded with
    the level's other sources; $listIndex / $parentID become the carried
    position and parent-subject columns (SURVEY.md T17/T18,
    template_support.py:431-458).  The child is typed on its own frame,
    the parent's level frame (``Lineage.level_frame``) exploded over only
    this source, which also feeds its error counts."""
    spec = pctx.spec
    child_rs = spec.embedded.get(fo.rsname)
    if not child_rs:
        raise ValueError(f"unknown embedded template {fo.rsname}")

    src = fo.source
    is_list = src.is_array or (src.dtype or "").startswith("array")
    # a NULL source maps nothing, like an empty list (template_support.py
    # map_to skips a falsy value)
    src_col = src.col if is_list else F.when(src.col.isNotNull(),
                                             F.array(src.col))

    lineage, scope = pctx.lineage, pctx.scope
    level = scope.level + 1
    src_name = lineage.source(scope, src_col)
    li, z = f"__li{level}", f"__z{level}"
    frame = lineage.level_frame(pctx.frame, scope.level, [src_name])

    elem = F.col(z)[src_name]
    elem_type = frame.bind(pctx.data).schema[z].dataType[src_name].dataType
    from pyspark.sql.types import StructType as _ST

    elem_cols: dict[str, tuple[Column, str]] = {}
    if isinstance(elem_type, _ST):
        for f_ in elem_type.fields:
            elem_cols[f_.name] = (elem[f_.name], f_.dataType.simpleString())

    if fo.shielded:
        # smap_to: ONLY the element fields + $this; no inherited context, no
        # $listIndex (template_support.py:445-458)
        child_cols = dict(elem_cols)
        child_cols["$this"] = (elem, elem_type.simpleString())
        cctx = pctx.child(frame, child_cols, {"$resourceID": child_rs.name},
                          shielded=True)
    else:
        child_cols = dict(pctx.columns)
        child_cols.update(elem_cols)
        child_cols["$this"] = (elem, elem_type.simpleString())
        child_cols["$parentID"] = (F.col(scope.subject), "string")
        if is_list:
            child_cols["$listIndex"] = (F.col(li), "int")
        consts = dict(pctx.constants)
        consts["$resourceID"] = child_rs.name
        cctx = pctx.child(frame, child_cols, consts)

    exists = F.col(li) < F.size(F.col(src_name))
    parent_fired = F.col(scope.fired) if scope.fired else None
    _compile_child(child_rs, cctx, level,
                   _all(parent_fired, exists, filters_condition(child_rs, cctx)),
                   g, pred, inverse, scope)


def _compile_child(child: ResourceSpec, cctx: CompileCtx, level: int,
                   rows: Optional[Column], g: str, pred: Column,
                   inverse: bool, parent: Scope) -> None:
    """A nested or embedded resource on the ``level`` rows where ``rows``
    holds, linked from the ``parent`` subject by ``pred``."""
    lineage = cctx.lineage
    if child.pattern is not None:
        ctx = cctx.child(cctx.frame, dict(cctx.columns), dict(cctx.constants),
                         scope=lineage.scope(level, rows))
        value = compile_pattern(child.pattern, ctx)
        if isinstance(value, EmbeddedFanout):
            raise ValueError("map_to inside literal resource pattern")
        # a literal resource is its pattern's FIRST value
        # (template_support.py:277-282)
        term = ValueExpr(F.element_at(F.array_compact(value.col), 1)
                         if value.is_array else value.col, form="term")
    else:
        kind, subj = _subject(child, cctx)
        ctx = _open_scope(child, cctx, level, rows, kind, subj)
        _compile_resource_body(child, ctx, g)
        term = ValueExpr(term_struct(kind, F.col(ctx.scope.subject)),
                         form="term")
    lineage.emit(ctx.scope, g, pred, term, inverse,
                 subject=(sql_string(parent.kind), sql_ident(parent.subject)))
