"""Resource templates -> quad-DataFrame plans.

Each resource compiles to ONE projection + ONE `explode` over the (filtered)
input: every property's term expression is packed into an array of quad
structs which is exploded once — so a resource with 20 properties costs a
single pass, entirely inside whole-stage codegen, instead of 20 unioned
selects.  Fan-out constructs (map_to/smap_to over nested arrays) compile to
`posexplode` sub-plans; autoCV registers a distinct-label side aggregation;
auto-declared vocabulary folds to constants gated on "resource fired at
least once".

Reference semantics: template_support.py:205-396 (process_resource_spec /
process_property_value), 431-604 (map_to/smap_to/map_by/reconcile/autoCV).
"""

from __future__ import annotations

import hashlib
from dataclasses import replace
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_mapper_spark import pyeval
from rdf_mapper_spark.compiler import guards
from rdf_mapper_spark.compiler.context import (
    AutoCVUse,
    Backlink,
    CompileCtx,
    MissingVar,
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
    term_struct,
    to_terms,
)
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
QUAD_STRUCT_NULL = (
    "struct<g:string,sk:string,s:string,p:string,"
    "ok:string,o:string,odt:string,olg:string>"
)

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
    return to_terms(result, pt.pattern_type, cctx.namespaces,
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
                lambda c: runtime_curie_expand(c, dict(cctx.namespaces))
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
    key = f"{kind}#{name}"
    store = cctx.constants.setdefault("__vocab__", {})
    if key in cctx.constants.get("__vocab_seen__", set()):
        return
    cctx.constants.setdefault("__vocab_seen__", set()).add(key)
    rows = store.setdefault("rows", [])
    rows.append((None, "iri", _id, RDF_TYPE, "iri", type_iri, None, None))
    rows.append((None, "iri", _id, RDFS_LABEL, "literal", name, None, None))
    if comment is not None:
        rows.append((None, "iri", _id, RDFS_COMMENT, "literal", comment,
                     None, None))


def _drain_vocab(cctx: CompileCtx) -> list[tuple]:
    store = cctx.constants.get("__vocab__", {})
    rows = store.get("rows", [])
    store["rows"] = []
    return rows


def _const_quads_gated(df: DataFrame, rows: list[tuple]) -> DataFrame:
    """Emit constant quads iff ``df`` has at least one row.

    The gate keeps reference behavior: vocabulary/schemes appear only when
    the resource actually fired (template_support.py:408-424). ``limit(1)``
    terminates the scan early, so the gate is O(first matching row).
    """
    structs = [
        F.struct(
            F.lit(g).cast("string").alias("g"),
            F.lit(sk).cast("string").alias("sk"),
            F.lit(s).cast("string").alias("s"),
            F.lit(p).cast("string").alias("p"),
            F.lit(ok).cast("string").alias("ok"),
            F.lit(o).cast("string").alias("o"),
            F.lit(odt).cast("string").alias("odt"),
            F.lit(olg).cast("string").alias("olg"),
        )
        for (g, sk, s, p, ok, o, odt, olg) in rows
    ]
    return (
        df.limit(1)
        .select(F.explode(F.array(*structs)).alias("q"))
        .select("q.*")
    )


# ---------------------------------------------------------------------------
# autoCV (template_support.py:575-604) and reconcile (482-530)
# ---------------------------------------------------------------------------
def compile_autocv(ve: ValueExpr, args: list[Any], cctx: CompileCtx) -> ValueExpr:
    cv_name = str(args[0]) if args else str(cctx.constants.get("$prop"))
    cv_type = str(args[1]) if len(args) > 1 else None
    base = f"{cctx.constants.get('$datasetBase')}/def/{cv_name}"
    if ve.is_array and cv_type == "hash":
        raise ValueError("autoCV(hash) over multi-values: explode first")

    label_scalar = ve.col if not ve.is_array else None

    def concept_iri(c: Column) -> Column:
        label = c.cast("string")
        local = (
            sha1_b32hex_col(label) if cv_type == "hash" else normalize_col(label)
        )
        return F.when(
            label.isNotNull() & (label != ""),
            iri_term(F.concat(F.lit(base + "/"), local)),
        )

    out = ve.map_elements(concept_iri)
    cctx.autocv_uses.append(
        AutoCVUse(
            cv_name=cv_name,
            cv_type=cv_type,
            label_col=(
                label_scalar.cast("string")
                if label_scalar is not None
                else F.explode(ve.col).cast("string")
            ),
            source_df=cctx.df,
            graph=cctx.constants.get("$graph_const"),
        )
    )
    return replace(out, form="term")


def autocv_side_quads(use: AutoCVUse, spec: MappingSpec,
                      dataset_base: str) -> DataFrame:
    """Distinct labels -> concept quads; scheme quads gated on >=1 label.

    The reference's only true cross-row aggregation (R9): here a
    `distinct()` (map-side partial aggregation; labels are low-cardinality
    so the shuffle is tiny) followed by constant-per-label quad explosion.
    """
    base = f"{dataset_base}/def/{use.cv_name}"
    scheme_id = base + "_scheme"
    g = use.graph
    labels = (
        use.source_df.select(use.label_col.alias("label"))
        .where(F.col("label").isNotNull() & (F.col("label") != ""))
        .distinct()
    )
    local = (
        sha1_b32hex_col(F.col("label"))
        if use.cv_type == "hash"
        else normalize_col(F.col("label"))
    )
    concept = F.concat(F.lit(base + "/"), local)

    def q(s: Column, p: str, ok: str, o: Column, odt=None, olg=None) -> Column:
        return F.struct(
            F.lit(g).cast("string").alias("g"),
            F.lit("iri").alias("sk"),
            s.cast("string").alias("s"),
            F.lit(p).alias("p"),
            F.lit(ok).alias("ok"),
            o.cast("string").alias("o"),
            F.lit(odt).cast("string").alias("odt"),
            F.lit(olg).cast("string").alias("olg"),
        )

    concept_quads = labels.select(
        F.explode(
            F.array(
                q(concept, RDF_TYPE, "iri", F.lit(SKOS + "Concept")),
                q(concept, SKOS + "prefLabel", "literal", F.col("label")),
                q(concept, SKOS + "inScheme", "iri", F.lit(scheme_id)),
                q(concept, SKOS + "topConceptOf", "iri", F.lit(scheme_id)),
                q(F.lit(scheme_id), SKOS + "hasTopConcept", "iri", concept),
            )
        ).alias("q")
    ).select("q.*")
    scheme_rows = [
        (g, "iri", scheme_id, RDF_TYPE, "iri", SKOS + "ConceptScheme", None, None),
        (g, "iri", scheme_id, "http://purl.org/dc/terms/title", "literal",
         use.cv_name, None, None),
        (g, "iri", scheme_id, "http://purl.org/dc/terms/description", "literal",
         f"Automatically generated concept scheme {use.cv_name}", None, None),
    ]
    scheme_quads = _const_quads_gated(labels, scheme_rows)
    return concept_quads.unionByName(scheme_quads)


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
            cctx.df.select(key_el.alias("key"))
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
                cctx.df.sparkSession, list(live.items()),
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
# Resource compilation
# ---------------------------------------------------------------------------
def spec_of(cctx: CompileCtx) -> MappingSpec:
    return cctx.spec


def compile_resource(rs: ResourceSpec, cctx: CompileCtx,
                     graph_const: str | None = None) -> list[DataFrame]:
    """Compile one resource template into quad DataFrames."""
    consts = dict(cctx.constants)
    consts["$resourceID"] = rs.name
    scoped = cctx.child(cctx.df, dict(cctx.columns), consts)
    scoped.constants["__vocab__"] = cctx.constants.setdefault("__vocab__", {})
    scoped.constants["__vocab_seen__"] = cctx.constants.setdefault(
        "__vocab_seen__", set()
    )

    cond = filters_condition(rs, scoped)
    fdf = scoped.df.filter(cond) if cond is not None else scoped.df
    fcols = {k: v for k, v in scoped.columns.items()}
    fctx = scoped.child(fdf, fcols, dict(scoped.constants))
    fctx.constants["__vocab__"] = scoped.constants["__vocab__"]
    fctx.constants["__vocab_seen__"] = scoped.constants["__vocab_seen__"]

    # graph routing (R12): constant graph IRIs fold on the driver; a graph
    # template referencing row variables (reference expands per row,
    # template_support.py:284-287) compiles to a real `__g` column that the
    # emission projections carry through
    graph: str | Column | None = graph_const
    if rs.graph:
        gvars = parse_template(rs.graph).referenced_vars()
        if any(v in fctx.columns for v in gvars):
            gv = compile_uri(rs.graph, fctx, declare=False)
            gcol = (F.element_at(F.array_compact(gv.col), 1)
                    if gv.is_array else gv.col)
            fdf = fdf.withColumn("__g", gcol.cast("string"))
            fctx = fctx.child(fdf, dict(fctx.columns), dict(fctx.constants))
            graph = F.col("__g")
        else:
            state = pyeval.EvalState(spec_of(fctx))
            graph = pyeval.uri_expand(rs.graph, dict(fctx.constants), state)[0]
            fctx.constants["$graph_const"] = graph

    if rs.pattern is not None:
        # literal-resource templates only make sense embedded; top-level
        # pattern resources produce no quads of their own
        return []

    return _compile_resource_body(rs, fctx, fdf, graph)


def _compile_resource_body(rs: ResourceSpec, fctx: CompileCtx, fdf: DataFrame,
                           graph: str | None) -> list[DataFrame]:
    spec = fctx.spec
    out: list[DataFrame] = []

    # ---- subject -----------------------------------------------------------
    id_template = rs.prop_template("@id") or "<row>"
    if id_template == "<_>":
        subj_kind = "bnode"
        subj_val = _skolem_bnode(rs.name, fctx)
    else:
        subj_kind = "iri"
        sv = compile_uri(id_template, fctx, declare=False)
        subj_val = (
            F.element_at(F.array_compact(sv.col), 1)
            if sv.is_array else sv.col
        )
    fdf = fdf.where(subj_val.isNotNull())
    fctx.backlinks[rs.name] = Backlink(
        kind_col=F.lit(subj_kind), value_col=subj_val
    )
    subj_ctx_cols = dict(fctx.columns)
    subj_ctx_cols["$parentID"] = (subj_val, "string")
    pctx = fctx.child(fdf, subj_ctx_cols, dict(fctx.constants))
    pctx.constants["__vocab__"] = fctx.constants["__vocab__"]
    pctx.constants["__vocab_seen__"] = fctx.constants["__vocab_seen__"]
    # this body applies pending_joins to its emission frame below, so
    # same-frame children may register huge-dictionary lookups as joins
    pctx.pending_joins = []
    pctx.joinable = True

    emissions: list[tuple[Column, ValueExpr, bool]] = []  # (pred, term, inverse)

    # ---- @type (explicit or auto-declared default) -------------------------
    type_template = rs.prop_template("@type")
    if not type_template and spec.auto_declare:
        cls_id = (
            f"{pctx.constants.get('$datasetBase')}/def/"
            f"{py_normalize(rs.name)}"
        )
        _register_vocab(pctx, "class", rs.name, cls_id, rs.comment, OWL_CLASS)
        emissions.append(
            (F.lit(RDF_TYPE), ValueExpr(iri_term(F.lit(cls_id)), form="term"),
             False)
        )
    elif type_template:
        tv = compile_uri(type_template, pctx, declare=False)
        tcol = F.element_at(tv.col, 1) if tv.is_array else tv.col
        emissions.append(
            (F.lit(RDF_TYPE),
             ValueExpr(F.when(tcol.isNotNull(), iri_term(tcol)), form="term"),
             False)
        )

    # ---- properties ---------------------------------------------------------
    fanouts: list[DataFrame] = []
    for prop, template in rs.properties:
        if prop in ("@id", "@type", "@graph"):
            continue
        templates = template if isinstance(template, list) else [template]
        for tpl in templates:
            try:
                _compile_property(
                    rs, prop, tpl, pctx, fdf, graph, subj_kind, subj_val,
                    emissions, fanouts,
                )
            except MissingVar as mv:
                pctx.warnings.append(
                    f"{rs.name}.{prop}: variable {mv} not in schema — skipped"
                )
            except ValueError as err:
                pctx.warnings.append(f"{rs.name}.{prop}: {err} — skipped")

    # ---- assemble ------------------------------------------------------
    # Two-step emission keeps everything inside whole-stage codegen:
    #   1. ONE projection materializes subject/predicate/term columns (the
    #      heavy expressions evaluate once per row, CSE-friendly);
    #   2. scalar terms explode via a plain CreateArray + post-filter
    #      (higher-order filter/transform would force interpreted eval —
    #      measured ~50x slower on the quad hot path);
    #   3. each array-valued term gets its own explode-then-wrap select.
    # huge-dictionary reconcile lookups: re-base the emission frame with a
    # left broadcast join per registered lookup (the resolved side is
    # dictionary-shaped — unique keys — so row multiplicity is preserved)
    for key_col, res_df, alias in pctx.pending_joins:
        fdf = fdf.join(
            F.broadcast(res_df), key_col == F.col(f"__k_{alias}"), "left"
        ).drop(f"__k_{alias}")

    if emissions:
        out.extend(
            _emit_quads(fdf, graph, subj_kind, subj_val, emissions)
        )

    out.extend(fanouts)

    # ---- auto-declared vocabulary, gated on the resource firing -------------
    vocab_rows = _drain_vocab(pctx)
    if vocab_rows:
        out.append(_const_quads_gated(fdf, vocab_rows))
    return out


def _emit_quads(fdf: DataFrame, graph: str | Column | None, subj_kind: str,
                subj_val: Column,
                emissions: list[tuple[Column, ValueExpr, bool]]
                ) -> list[DataFrame]:
    graph_is_col = isinstance(graph, Column)
    proj: list[Column] = [subj_val.alias("__subj")]
    if graph_is_col:
        proj.append(graph.alias("__g"))
        graph = F.col("__g")
    meta: list[tuple[str, str, bool, bool]] = []  # (tcol, pcol, inverse, is_array)
    for i, (pred, term_ve, inverse) in enumerate(emissions):
        proj.append(term_ve.col.alias(f"__t{i}"))
        proj.append(pred.alias(f"__p{i}"))
        meta.append((f"__t{i}", f"__p{i}", inverse, term_ve.is_array))
    flat = fdf.select(*proj)

    out: list[DataFrame] = []
    scalar_quads = [
        _quad_struct(graph, subj_kind, F.col("__subj"), F.col(pcol),
                     F.col(tcol), inverse)
        for tcol, pcol, inverse, is_array in meta if not is_array
    ]
    if scalar_quads:
        arr = (F.array(*scalar_quads) if len(scalar_quads) > 1
               else F.array(scalar_quads[0]))
        out.append(
            flat.select(F.explode(arr).alias("q"))
            .where(F.col("q").isNotNull())
            .select("q.*")
        )
    for tcol, pcol, inverse, is_array in meta:
        if not is_array:
            continue
        carry = ["__subj", pcol] + (["__g"] if graph_is_col else [])
        exploded = flat.select(
            *carry, F.explode(tcol).alias("__t")
        ).where(F.col("__t").isNotNull() & F.col("__t")["v"].isNotNull())
        quad = _quad_struct(graph, subj_kind, F.col("__subj"),
                            F.col(pcol), F.col("__t"), inverse)
        out.append(
            exploded.select(quad.alias("q"))
            .where(F.col("q").isNotNull()).select("q.*")
        )
    return out


def _graph_col(graph: str | Column | None) -> Column:
    g = graph if isinstance(graph, Column) else F.lit(graph)
    return g.cast("string")


def _quad_struct(graph: str | Column | None, subj_kind: str | Column,
                 subj_val: Column,
                 pred: Column, term: Column, inverse: bool) -> Column:
    """Build one quad struct; NULL when the term or the subject is missing.
    ``subj_kind`` is a literal kind or, on exploded frames, the carried
    parent column."""
    if isinstance(subj_kind, str):
        subj_kind = F.lit(subj_kind)
    if inverse:
        s_k, s_v = term["k"], term["v"]
        o_k, o_v = subj_kind, subj_val
        odt = F.lit(None).cast("string")
        olg = F.lit(None).cast("string")
    else:
        s_k, s_v = subj_kind, subj_val
        o_k, o_v = term["k"], term["v"]
        odt, olg = term["dt"], term["lg"]
    quad = F.struct(
        _graph_col(graph).alias("g"),
        s_k.cast("string").alias("sk"),
        s_v.cast("string").alias("s"),
        pred.cast("string").alias("p"),
        o_k.cast("string").alias("ok"),
        o_v.cast("string").alias("o"),
        odt.cast("string").alias("odt"),
        olg.cast("string").alias("olg"),
    )
    return F.when(
        term.isNotNull() & term["v"].isNotNull() & subj_val.isNotNull(), quad
    )


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


def _compile_property(
    rs: ResourceSpec, prop: str, template: Any, pctx: CompileCtx,
    fdf: DataFrame, graph: str | None, subj_kind: str, subj_val: Column,
    emissions: list, fanouts: list[DataFrame],
) -> None:
    spec = pctx.spec
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
            emissions.append(
                (F.lit(RDF_TYPE),
                 ValueExpr(F.when(ccol.isNotNull(), iri_term(ccol)),
                           form="term"),
                 False)
            )

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
        child = ResourceSpec(ResourceDef(**template))
        _compile_nested_resource(child, pctx, fdf, graph, subj_kind, subj_val,
                                 pred, inverse, emissions, fanouts)
        return
    if not isinstance(template, str):
        raise ValueError(f"unsupported property template {template!r}")
    if template == "":
        template = "{" + prop + "}"  # P4 transposition (doc.md:188)

    vctx = pctx.child(fdf, dict(pctx.columns), dict(pctx.constants))
    vctx.constants["$prop"] = propname
    vctx.constants["__vocab__"] = pctx.constants["__vocab__"]
    vctx.constants["__vocab_seen__"] = pctx.constants["__vocab_seen__"]
    value = compile_value(template, vctx)
    if isinstance(value, EmbeddedFanout):
        fanouts.extend(
            _compile_fanout(value, vctx, fdf, graph, subj_kind, subj_val,
                            pred, inverse)
        )
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
             fdf.where(missing))
        )
    emissions.append((pred, value, inverse))


def _compile_nested_resource(
    child: ResourceSpec, pctx: CompileCtx, fdf: DataFrame, graph: str | None,
    subj_kind: str, subj_val: Column, pred: Column, inverse: bool,
    emissions: list, fanouts: list[DataFrame],
) -> None:
    """Inline dict property value -> child resource on the same rows."""
    consts = dict(pctx.constants)
    consts["$resourceID"] = child.name
    cctx2 = pctx.child(fdf, dict(pctx.columns), consts)
    cctx2.constants["__vocab__"] = pctx.constants["__vocab__"]
    cctx2.constants["__vocab_seen__"] = pctx.constants["__vocab_seen__"]
    cond = filters_condition(child, cctx2)
    cdf = fdf.filter(cond) if cond is not None else fdf

    if child.pattern is not None:
        ctx3 = cctx2.child(cdf, dict(cctx2.columns), dict(cctx2.constants))
        value = compile_pattern(child.pattern, ctx3)
        if isinstance(value, EmbeddedFanout):
            raise ValueError("map_to inside literal resource pattern")
        # literal-resource expansion uses only the FIRST value
        # (template_support.py:277-282); emit from the child-filtered frame
        vcol = (F.element_at(F.array_compact(value.col), 1)
                if value.is_array else value.col)
        quad = _quad_struct(graph, subj_kind, subj_val, pred, vcol, inverse)
        fanouts.append(
            cdf.select(quad.alias("q")).where(F.col("q").isNotNull())
            .select("q.*")
        )
        return

    cctx3 = cctx2.child(cdf, dict(cctx2.columns), dict(cctx2.constants))
    cctx3.constants["__vocab__"] = cctx2.constants["__vocab__"]
    cctx3.constants["__vocab_seen__"] = cctx2.constants["__vocab_seen__"]
    child_dfs = _compile_resource_body(child, cctx3, cdf, graph)
    fanouts.extend(child_dfs)
    child_bl = cctx3.backlinks.get(child.name)
    if child_bl is not None and child_bl.value_col is not None:
        term = term_struct(child_bl.kind_col, child_bl.value_col)
        link = cdf.select(
            _quad_struct(graph, subj_kind, subj_val, pred, term, inverse)
            .alias("q")
        ).where(F.col("q").isNotNull()).select("q.*")
        fanouts.append(link)


def _compile_fanout(
    fo: EmbeddedFanout, pctx: CompileCtx, fdf: DataFrame, graph: str | None,
    subj_kind: str, subj_val: Column, pred: Column, inverse: bool,
) -> list[DataFrame]:
    """map_to / smap_to: posexplode nested data into an embedded template.

    The parent link triple and all child triples are emitted from the
    exploded DataFrame; $listIndex / $parentID become carried columns
    (SURVEY.md T17/T18, template_support.py:431-458).
    """
    spec = pctx.spec
    child_rs = spec.embedded.get(fo.rsname)
    if not child_rs:
        raise ValueError(f"unknown embedded template {fo.rsname}")

    src = fo.source
    src_col = src.col
    is_list = src.is_array or (src.dtype or "").startswith("array")
    if not is_list:
        src_col = F.array(src_col)

    base = fdf.select(
        "*",
        F.lit(subj_kind).alias("__psk"),
        subj_val.alias("__ps"),
        pred.alias("__pp"),
    )
    exploded = base.select(
        "*", F.posexplode(src_col).alias("__li", "__el")
    )

    elem_type = exploded.schema["__el"].dataType
    from pyspark.sql.types import StructType as _ST

    elem_cols: dict[str, tuple[Column, str]] = {}
    if isinstance(elem_type, _ST):
        for f_ in elem_type.fields:
            elem_cols[f_.name] = (
                exploded["__el"][f_.name], f_.dataType.simpleString()
            )

    if fo.shielded:
        # smap_to: ONLY the element fields + $this; no inherited context, no
        # $listIndex (template_support.py:445-458)
        child_cols = dict(elem_cols)
        child_cols["$this"] = (exploded["__el"], elem_type.simpleString())
        child_consts: dict[str, Any] = {"$resourceID": child_rs.name}
        cctx2 = pctx.child(exploded, child_cols, child_consts, shielded=True)
    else:
        from rdf_mapper_spark.compiler.context import quoted_col

        child_cols = {
            k: (quoted_col(k), v[1]) for k, v in pctx.columns.items()
            if k in exploded.columns
        }
        child_cols.update(elem_cols)
        child_cols["$this"] = (exploded["__el"], elem_type.simpleString())
        child_cols["$parentID"] = (exploded["__ps"], "string")
        if is_list:
            child_cols["$listIndex"] = (exploded["__li"], "int")
        consts = dict(pctx.constants)
        consts["$resourceID"] = child_rs.name
        cctx2 = pctx.child(exploded, child_cols, consts)
        cctx2.constants["__vocab__"] = pctx.constants["__vocab__"]
        cctx2.constants["__vocab_seen__"] = pctx.constants["__vocab_seen__"]

    cond = filters_condition(child_rs, cctx2)
    cdf = exploded.filter(cond) if cond is not None else exploded
    cctx3 = cctx2.child(cdf, dict(cctx2.columns), dict(cctx2.constants))
    if not fo.shielded:
        cctx3.constants["__vocab__"] = cctx2.constants["__vocab__"]
        cctx3.constants["__vocab_seen__"] = cctx2.constants["__vocab_seen__"]

    out: list[DataFrame] = []
    if child_rs.pattern is not None:
        value = compile_pattern(child_rs.pattern, cctx3)
        if isinstance(value, EmbeddedFanout):
            raise ValueError("nested map_to inside literal template")
        links = _emit_links(cdf, graph, inverse, value)
        out.append(links)
        return out

    child_dfs = _compile_resource_body(child_rs, cctx3, cdf, graph)
    out.extend(child_dfs)
    child_bl = cctx3.backlinks.get(child_rs.name)
    if child_bl is not None and child_bl.value_col is not None:
        term_ve = ValueExpr(
            term_struct(child_bl.kind_col, child_bl.value_col), form="term"
        )
        out.append(_emit_links(cdf, graph, inverse, term_ve))
    return out


def _emit_links(cdf: DataFrame, graph: str | Column | None, inverse: bool,
                value: ValueExpr) -> DataFrame:
    """Parent link triples from the exploded frame (parent cols carried).

    Array values explode BEFORE the quad struct is built — plain explode +
    WHERE stays in whole-stage codegen (HOF transform/filter would not)."""
    carry = ["__psk", "__ps", "__pp"] + (
        ["__g"] if isinstance(graph, Column) else []
    )
    frame, term = cdf, value.col
    if value.is_array:
        frame = cdf.select(
            *carry, F.explode(value.col).alias("__t")
        ).where(F.col("__t").isNotNull() & F.col("__t")["v"].isNotNull())
        term = F.col("__t")
    quad = _quad_struct(graph, F.col("__psk"), F.col("__ps"), F.col("__pp"),
                        term, inverse)
    return frame.select(quad.alias("q")).where(
        F.col("q").isNotNull()
    ).select("q.*")
