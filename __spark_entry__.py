"""Driver contract for the spark-graft builder (PySpark target).

`entry` runs the flagship KG mapping; `queries` exposes one entry per
implemented operator family (SURVEY.md §2 + the training-data operators);
`oracle_sql` gives the DuckDB-equivalent SQL for EVERY query — zero
rows-only entries: md5-based hash variants keep MinHash/LSH, SimHash and
IRI minting oracle-checkable, seeded hyperplanes embedded as SQL literals
mirror even the approximate ANN pipeline, and multimodal features project
to integer fingerprints DuckDB recomputes.  (Production paths may swap
faster non-SQL hashes — xxhash64 SimHash, sha1-base32hex minting — which
dedicated pytest parity vectors cover instead.)
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
DCT = "http://purl.org/dc/terms/"
SKOS = "http://www.w3.org/2004/02/skos/core#"
KGB = "http://example.org/kg"

QUAD_COLS_SQL = "g, sk, s, p, ok, o, odt, olg"


#: (applicationId, sf_dir, name) -> spread DataFrame.  `spark.read
#: .parquet` costs ~80 ms of driver-side source resolution per call and
#: every query invocation re-reads the same immutable fixture; caching
#: the PLAN (not any result — DataFrames are immutable lazy plans) is
#: the same per-session amortization the stored-ANN reader uses
#: (ops/ann_index._READ_CACHE) and that Spark itself applies to file
#: listings (spark.sql.hive.filesourcePartitionFileCacheSize).
_T_CACHE: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    hit = _T_CACHE.get(key)
    if hit is not None:
        return hit
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # The sandbox fixtures are single-file parquet: the scan can only
    # parallelize per ROW GROUP, so (a) coalesce the empty byte-range
    # splits away (a 256 KB split size on a single-row-group file
    # schedules hundreds of tasks of which one produces rows), and
    # (b) fan rows out across the cluster with a width derived from the
    # ROW COUNT (~50k rows/task, floor 4, cap defaultParallelism) —
    # scale-adaptive instead of a constant tuned to the local core
    # count.  On a real lake (files >> cores) this never triggers and
    # no shuffle is added.
    files = df.inputFiles()
    if len(files) <= 1:
        dp = spark.sparkContext.defaultParallelism
        rows, rgs = _parquet_footer(files[0]) if files else (0, 1)
        df = df.coalesce(max(1, min(dp, rgs)))
        width = max(4, min(dp, -(-rows // 50_000)))
        df = df.repartition(width)
    _T_CACHE[key] = df
    return df


def _parquet_footer(uri: str) -> tuple[int, int]:
    """(num_rows, num_row_groups) from the parquet footer — one driver-side
    metadata read, no Spark job."""
    path = uri
    for pre in ("file://", "file:"):
        if path.startswith(pre):
            path = path[len(pre):]
            break
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
        return md.num_rows, md.num_row_groups
    except Exception:
        return 0, 1


def _doc_subject_sql() -> str:
    return f"'{KGB}/data/document/' || CAST(doc_id AS VARCHAR)"


# ---------------------------------------------------------------------------
# KG template-engine queries (the core engine exercised over driver tables)
# ---------------------------------------------------------------------------
FLAGSHIP_SPEC = {
    "globals": {"$datasetBase": KGB},
    "resources": [{
        "name": "document",
        "properties": {
            "@id": "<" + KGB + "/data/document/{doc_id}>",
            "@type": "<{$datasetBase}/def/Document>",
            "<dct:language>": "{lang}",
            "<{$datasetBase}/def/source>": "{source}",
            "<{$datasetBase}/def/chars>": "{n_chars}",
        },
    }],
}


def q_kg_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flagship_quads(spark, sf_dir, dedup=True)


#: (applicationId, sf_dir, dedup) -> compiled flagship emission plan.
#: Compiling the mapping spec to a Column plan costs ~0.75 s of pure
#: driver work per call (profiled: ~3,800 py4j round-trips building the
#: term expressions), and NINE query functions rebuild the identical
#: plan from the same module-constant spec every invocation.  This
#: memoizes the lazy PLAN only (no rows, no results — every count still
#: executes from parquet); it is the prepared-statement cache any
#: long-lived query service keeps, same pattern as `_T_CACHE` and the
#: stored-ANN `_READ_CACHE`.
_FLAGSHIP_CACHE: dict = {}


def _flagship_quads(spark: SparkSession, sf_dir: str,
                    dedup: bool = True) -> DataFrame:
    """Flagship engine output.  ``dedup=False`` skips the engine's final
    set-dedup shuffle — for consumers whose own result is provably
    multiset-insensitive (a trailing SELECT DISTINCT, a min()-style
    aggregate, or a .distinct() edge projection), running the BGP over
    the raw emission yields the identical result set while every
    pattern subtree drops one exchange (guide §2.4: remove shuffles
    outright)."""
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.spec import MappingSpec

    key = (spark.sparkContext.applicationId, sf_dir, dedup)
    hit = _FLAGSHIP_CACHE.get(key)
    if hit is not None:
        return hit
    docs = _t(spark, sf_dir, "documents")
    engine = MapperEngine(MappingSpec(FLAGSHIP_SPEC, auto_declare=False))
    out = engine.apply(docs, file_name="documents", dedup=dedup)
    _FLAGSHIP_CACHE[key] = out
    return out


def _oracle_kg_flagship() -> str:
    s = _doc_subject_sql()
    null = "CAST(NULL AS VARCHAR)"
    return f"""
WITH base AS (SELECT {s} AS s, lang, source, n_chars FROM documents)
SELECT {null} g, 'iri' sk, s, '{RDF_TYPE}' p,
       'iri' ok, '{KGB}/def/Document' o, {null} odt, {null} olg FROM base
UNION ALL SELECT {null}, 'iri', s, '{DCT}language', 'literal', lang,
       {null}, {null} FROM base
UNION ALL SELECT {null}, 'iri', s, '{KGB}/def/source', 'literal', source,
       {null}, {null} FROM base
UNION ALL SELECT {null}, 'iri', s, '{KGB}/def/chars', 'literal',
       CAST(n_chars AS VARCHAR), '{XSD}integer', {null} FROM base
"""


def q_kg_bgp_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basic-graph-pattern query (rdf_mapper_spark/query.bgp_query) over
    the flagship engine output — the READ side of the KG: a 4-pattern
    star join (type + constant-language filter + two value patterns)
    compiled to filtered projections equi-joined on the shared subject
    variable.  Most-constrained-first ordering; Catalyst/AQE pick the
    join strategy; no Python, no interpreter loop."""
    from rdf_mapper_spark.query import bgp_query

    # dedup=False: bgp_query applies SELECT DISTINCT over the solution
    # variables, so the engine's set-dedup shuffle under every pattern
    # subtree is redundant for this query's result set (equivalence
    # oracle-checked); no materialize: each pattern's p=const filter
    # folds non-matching emission branches to empty
    quads = _flagship_quads(spark, sf_dir, dedup=False)
    return bgp_query(quads, [
        ("?d", RDF_TYPE, KGB + "/def/Document"),
        ("?d", DCT + "language", "en"),
        ("?d", KGB + "/def/source", "?src"),
        ("?d", KGB + "/def/chars", "?n"),
    ]).select("d", "src", "n")


def _oracle_kg_bgp_star() -> str:
    # the BGP is definitionally the inverse of the flagship mapping for
    # en docs: one row per (subject, source, chars)
    return f"""
SELECT DISTINCT {_doc_subject_sql()} AS d, source AS src,
       CAST(n_chars AS VARCHAR) AS n
FROM documents WHERE lang = 'en'
"""


def _ensure_quad_store(spark: SparkSession, sf_dir: str) -> str:
    import hashlib
    import json
    import shutil

    from rdf_mapper_spark.store import write_quad_store

    path = os.path.join(tempfile.gettempdir(),
                        f"quad_store_{os.path.basename(sf_dir)}")
    # fingerprint guards against a stale cached store when the mapping
    # spec (or store layout) changes between rounds
    fp = hashlib.md5(json.dumps(
        ["store-v1", FLAGSHIP_SPEC], sort_keys=True).encode()).hexdigest()
    marker = os.path.join(path, "_spec_fingerprint")
    if not (os.path.exists(os.path.join(path, "_SUCCESS"))
            and os.path.exists(marker)
            and open(marker).read() == fp):
        shutil.rmtree(path, ignore_errors=True)
        write_quad_store(q_kg_flagship(spark, sf_dir), path)
        with open(marker, "w") as f:
            f.write(fp)
    return path


def q_kg_bgp_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same star BGP as kg_bgp_star, but over the PREDICATE-
    PARTITIONED stored quad table (rdf_mapper_spark/store.py): each
    constant-predicate pattern prunes statically to its directory, the
    s/o constants push into parquet stats — the read path a 100-TB
    deployment runs.  Same oracle as kg_bgp_star: the layout must not
    change the answer."""
    from rdf_mapper_spark.query import bgp_query
    from rdf_mapper_spark.store import read_quad_store

    path = _ensure_quad_store(spark, sf_dir)
    stored = read_quad_store(spark, path)
    return bgp_query(stored, [
        ("?d", RDF_TYPE, KGB + "/def/Document"),
        ("?d", DCT + "language", "en"),
        ("?d", KGB + "/def/source", "?src"),
        ("?d", KGB + "/def/chars", "?n"),
    ]).select("d", "src", "n")


def q_kg_entity_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide entity-table materialization (query.entity_table): the quad
    store pivoted back to one row per subject with one column per
    predicate via conditional aggregates — ONE subject-keyed shuffle
    with map-side partials instead of the N-way self-join a star BGP
    performs.  Multi-valued predicates collapse to MIN(o),
    deterministic."""
    from rdf_mapper_spark.query import entity_table

    # dedup=False: min()-conditional aggregates are multiset-insensitive,
    # so the engine's set-dedup shuffle is redundant here
    quads = _flagship_quads(spark, sf_dir, dedup=False)
    return entity_table(quads, {
        "lang": DCT + "language",
        "source": KGB + "/def/source",
        "chars": KGB + "/def/chars",
    })


def _oracle_kg_entity_table() -> str:
    return f"""
SELECT {_doc_subject_sql()} AS s, lang, source,
       CAST(n_chars AS VARCHAR) AS chars
FROM documents
"""


def q_kg_predicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VoID-style per-predicate dataset profile (query.predicate_stats):
    triple count + exact distinct subjects/objects per predicate, one
    predicate-keyed aggregation over the engine output."""
    from rdf_mapper_spark.query import predicate_stats

    return predicate_stats(q_kg_flagship(spark, sf_dir))


def _oracle_kg_predicate_stats() -> str:
    s = _doc_subject_sql()
    rows = [
        (RDF_TYPE, "'" + KGB + "/def/Document'"),
        (DCT + "language", "lang"),
        (KGB + "/def/source", "source"),
        (KGB + "/def/chars", "CAST(n_chars AS VARCHAR)"),
    ]
    selects = [
        f"SELECT '{p}' AS p, CAST(COUNT(*) AS BIGINT) n_triples, "
        f"CAST(COUNT(DISTINCT {s}) AS BIGINT) n_subjects, "
        f"CAST(COUNT(DISTINCT {o}) AS BIGINT) n_objects FROM documents"
        for p, o in rows
    ]
    return "\nUNION ALL ".join(selects)


def q_kg_shape_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite validation (rdf_mapper_spark/validate.py): shapes
    target a class, constraints (minCount/maxCount/datatype/pattern)
    evaluate as ONE subject-keyed conditional aggregation per shape +
    one join with the focus set; violation fan-out is a pure-Column
    array filter+explode.  The fixture shape requires a predicate no
    document carries (every doc -> minCount violation) and a source
    pattern only single-digit sources match (src10+ -> pattern
    violation), so the violation set is closed-form."""
    from rdf_mapper_spark.validate import validate_shapes

    quads = q_kg_flagship(spark, sf_dir)
    return validate_shapes(quads, [{
        "name": "DocumentShape",
        "target_class": KGB + "/def/Document",
        "properties": [
            {"path": KGB + "/def/chars", "min_count": 1,
             "datatype": XSD + "integer"},
            {"path": KGB + "/def/source", "pattern": "^src[0-9]$"},
            {"path": DCT + "language", "max_count": 1},
            {"path": KGB + "/def/missing", "min_count": 1},
        ],
    }])


def _oracle_kg_shape_violations() -> str:
    s = _doc_subject_sql()
    return f"""
SELECT {s} AS focus, 'DocumentShape' AS shape,
       '{KGB}/def/missing' AS path, 'minCount' AS kind, '0' AS detail
FROM documents
UNION ALL
SELECT {s}, 'DocumentShape', '{KGB}/def/source', 'pattern', '1'
FROM documents WHERE NOT regexp_matches(source, '^src[0-9]$')
"""


CITES_SPEC = {
    "globals": {"$datasetBase": KGB},
    "resources": [{
        "name": "document",
        "guard": "doc_id > 0",
        "properties": {
            "@id": "<" + KGB + "/data/document/{doc_id}>",
            "<{$datasetBase}/def/cites>": "<" + KGB
            + "/data/document/{parent}>",
        },
    }],
}


def _cites_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared citation-tree emission (dedup=False — every consumer's
    path_edges() distincts the (src, dst) projection).  Memoized per
    session like `_flagship_quads`: FOUR query functions compile the
    identical spec over the identical input; only the lazy plan is
    cached, never rows."""
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.spec import MappingSpec

    key = (spark.sparkContext.applicationId, sf_dir, "cites")
    hit = _FLAGSHIP_CACHE.get(key)
    if hit is not None:
        return hit
    docs = _t(spark, sf_dir, "documents").withColumn(
        "parent", (F.col("doc_id") / 2).cast("long"))
    engine = MapperEngine(MappingSpec(CITES_SPEC, auto_declare=False))
    out = engine.apply(docs, file_name="documents", dedup=False)
    _FLAGSHIP_CACHE[key] = out
    return out


def q_kg_path_cites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded property-path reachability (query.path_query — SPARQL
    `cites{1,3}`): the engine emits a citation TREE (doc cites
    doc_id//2), then iterative frontier joins find every pair within 3
    hops with its MINIMUM hop count.  Each hop is one shuffle join
    bounded by the reachable-pair count; the anti-join against the
    reached set terminates cycles and keeps hops minimal."""
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.query import path_query
    from rdf_mapper_spark.spec import MappingSpec

    # shared memoized emission (see _cites_quads)
    quads = _cites_quads(spark, sf_dir)
    return path_query(quads, KGB + "/def/cites", max_hops=3)


def _oracle_kg_path_cites() -> str:
    # tree edges c -> c//2 make the k-hop closure closed-form:
    # dst = src // 2^k, valid while the (k-1)-hop ancestor is > 0
    s = "'" + KGB + "/data/document/' || CAST({x} AS VARCHAR)"
    rows = []
    for k in (1, 2, 3):
        rows.append(
            f"SELECT {s.format(x='doc_id')} AS src, "
            f"{s.format(x=f'doc_id // {1 << k}')} AS dst, {k} AS hops "
            f"FROM documents WHERE doc_id // {1 << (k - 1)} >= 1"
        )
    return "\nUNION ALL ".join(rows)


def q_kg_path_related(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed property path (query.path_alt/path_inv/path_closure —
    SPARQL `(cites|^cites){1,2}`): citation treated as undirected,
    2-hop relatedness with minimum hop count.  The closure engine is
    the same iterative frontier loop as path_query, here running over
    a COMPOSED edge set (union of the predicate and its inverse)."""
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.query import (
        path_alt,
        path_closure,
        path_edges,
        path_inv,
    )
    from rdf_mapper_spark.spec import MappingSpec

    # shared memoized emission (see _cites_quads)
    quads = _cites_quads(spark, sf_dir)
    p = path_edges(quads, KGB + "/def/cites")
    return path_closure(path_alt(p, path_inv(p)), max_hops=2)


def _oracle_kg_path_related() -> str:
    iri = "'" + KGB + "/data/document/' || CAST({x} AS VARCHAR)"
    return f"""
WITH e AS (SELECT doc_id AS s, doc_id // 2 AS t FROM documents
           WHERE doc_id >= 1),
b AS (SELECT s, t FROM e UNION SELECT t, s FROM e),
h2 AS (SELECT DISTINCT a.s AS s, c.t AS t
       FROM b a JOIN b c ON a.t = c.s
       EXCEPT SELECT s, t FROM b)
SELECT {iri.format(x='s')} AS src, {iri.format(x='t')} AS dst, 1 AS hops
FROM b
UNION ALL
SELECT {iri.format(x='s')}, {iri.format(x='t')}, 2 FROM h2
"""


def q_kg_path_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNBOUNDED property-path closure (query.path_query with
    max_hops=None — SPARQL `cites+`): iterate frontier joins to the
    FIXPOINT, detected by an emptiness probe over each hop's
    localCheckpointed new-pair frontier.  Converges in O(graph
    diameter) iterations (the citation tree's depth, ~log2 of the doc
    count); the anti-join keeps hop labels minimal and terminates
    cycles, so the loop is safe on arbitrary graphs, not just trees."""
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.query import path_query
    from rdf_mapper_spark.spec import MappingSpec

    # shared memoized emission (see _cites_quads)
    quads = _cites_quads(spark, sf_dir)
    return path_query(quads, KGB + "/def/cites", max_hops=None)


def _oracle_kg_path_closure() -> str:
    # each doc's full ancestor chain: recursion halves dst until it
    # leaves the id space, mirroring the engine-emitted c -> c//2 tree
    iri = "'" + KGB + "/data/document/' || CAST({x} AS VARCHAR)"
    return f"""
WITH RECURSIVE reach(s, t, hops) AS (
  SELECT doc_id, doc_id // 2, 1 FROM documents WHERE doc_id >= 1
  UNION ALL
  SELECT s, t // 2, hops + 1 FROM reach WHERE t >= 1
)
SELECT {iri.format(x='s')} AS src, {iri.format(x='t')} AS dst, hops
FROM reach
"""


def q_kg_bgp_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL sub-SELECT (bgp_query's initial_solutions): an aggregate
    subquery — sources with >= 12 English documents — feeds the outer
    BGP, which lists every document of those sources with the
    subquery's count bound alongside.  The aggregate result is
    group-cardinality-sized, so Catalyst broadcasts it into the outer
    join; the aggregation itself is one keyed shuffle with map-side
    partials."""
    from rdf_mapper_spark.query import bgp_aggregate, bgp_query

    quads = q_kg_flagship(spark, sf_dir)
    sub = bgp_aggregate(
        quads,
        [("?d", RDF_TYPE, KGB + "/def/Document"),
         ("?d", DCT + "language", "en"),
         ("?d", KGB + "/def/source", "?src")],
        group_vars=["?src"], aggs={"n_en": "count(*)"},
        having=["n_en >= 12"])
    return bgp_query(
        quads,
        [("?d", KGB + "/def/source", "?src"),
         ("?d", KGB + "/def/chars", "?n")],
        initial_solutions=sub,
    ).select("d", "src", "n", "n_en")


def _oracle_kg_bgp_subquery() -> str:
    return f"""
SELECT DISTINCT {_doc_subject_sql()} AS d, source AS src,
       CAST(n_chars AS VARCHAR) AS n, v.n_en AS n_en
FROM documents
JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_en FROM documents
      WHERE lang = 'en' GROUP BY source HAVING COUNT(*) >= 12) v
  USING (source)
"""


def q_kg_sparql_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL TEXT front-end (rdf_mapper_spark/sparql.py): the stored-
    quad star query written as an actual SPARQL string — parsed by the
    recursive-descent parser onto the same bgp_query plan as
    kg_bgp_stored, plus a numeric FILTER the parser translates to a
    Spark SQL predicate.  Static predicate-partition pruning and all
    other scale properties carry over unchanged because the text layer
    only BUILDS the programmatic call."""
    from rdf_mapper_spark.sparql import sparql
    from rdf_mapper_spark.store import read_quad_store

    path = _ensure_quad_store(spark, sf_dir)
    stored = read_quad_store(spark, path)
    return sparql(stored, f"""
        PREFIX dct: <{DCT}>
        PREFIX kg:  <{KGB}/def/>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        SELECT ?d ?src ?n WHERE {{
            ?d a kg:Document ;
               dct:language "en" ;
               kg:source ?src ;
               kg:chars ?n .
            FILTER(xsd:integer(?n) >= 500)
        }}""")


def _oracle_kg_sparql_select() -> str:
    return f"""
SELECT DISTINCT {_doc_subject_sql()} AS d, source AS src,
       CAST(n_chars AS VARCHAR) AS n
FROM documents WHERE lang = 'en' AND n_chars >= 500
"""


def q_kg_sparql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property path from SPARQL TEXT: `?src kg:cites+ ?dst` parsed to
    the same unbounded fixpoint closure as kg_path_closure (iterative
    frontier joins, localCheckpointed frontiers, anti-join minimality) —
    the parser routes path expressions onto query.path_* unchanged."""
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.sparql import sparql
    from rdf_mapper_spark.spec import MappingSpec

    # shared memoized emission (see _cites_quads)
    quads = _cites_quads(spark, sf_dir)
    return sparql(quads, f"""
        PREFIX kg: <{KGB}/def/>
        SELECT ?src ?dst WHERE {{ ?src kg:cites+ ?dst }}""")


def _oracle_kg_sparql_path() -> str:
    iri = "'" + KGB + "/data/document/' || CAST({x} AS VARCHAR)"
    return f"""
WITH RECURSIVE reach(s, t) AS (
  SELECT doc_id, doc_id // 2 FROM documents WHERE doc_id >= 1
  UNION ALL
  SELECT s, t // 2 FROM reach WHERE t >= 1
)
SELECT DISTINCT {iri.format(x='s')} AS src, {iri.format(x='t')} AS dst
FROM reach
"""


def q_kg_sparql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL text aggregation: GROUP BY + COUNT + HAVING parsed from a
    query string onto one keyed shuffle with map-side partials (the
    bgp_aggregate plan shape)."""
    from rdf_mapper_spark.sparql import sparql
    from rdf_mapper_spark.store import read_quad_store

    path = _ensure_quad_store(spark, sf_dir)
    stored = read_quad_store(spark, path)
    return sparql(stored, f"""
        PREFIX dct: <{DCT}>
        PREFIX kg:  <{KGB}/def/>
        SELECT ?src (COUNT(*) AS ?n_docs) WHERE {{
            ?d a kg:Document ;
               dct:language "en" ;
               kg:source ?src .
        }} GROUP BY ?src HAVING(?n_docs >= 5)""")


def _oracle_kg_sparql_agg() -> str:
    return """
SELECT source AS src, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents WHERE lang = 'en'
GROUP BY source HAVING COUNT(*) >= 5
"""


FILTERED_SPEC = {
    "globals": {"$datasetBase": KGB},
    "resources": [{
        "name": "document",
        "requires": {"lang": "en"},
        "unless": {"source": ["src0"]},
        "guard": "n_chars > 200",
        "properties": {
            "@id": "<" + KGB + "/data/document/{doc_id}>",
            "<{$datasetBase}/def/source>": "{source}",
        },
    }],
}


def q_kg_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.spec import MappingSpec

    docs = _t(spark, sf_dir, "documents")
    engine = MapperEngine(MappingSpec(FILTERED_SPEC, auto_declare=False))
    return engine.apply(docs, file_name="documents")


def _oracle_kg_filters() -> str:
    s = _doc_subject_sql()
    null = "CAST(NULL AS VARCHAR)"
    return f"""
SELECT {null} g, 'iri' sk, {s} s, '{KGB}/def/source' p,
       'literal' ok, source o, {null} odt, {null} olg
FROM documents
WHERE lang = 'en' AND source NOT IN ('src0') AND n_chars > 200
"""


TOKENS_SPEC = {
    "globals": {"$datasetBase": KGB},
    "resources": [{
        "name": "document",
        "properties": {
            "@id": "<" + KGB + "/data/document/{doc_id}>",
            "<{$datasetBase}/def/token>": "{text | split(' ')}",
        },
    }],
}


def q_kg_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.spec import MappingSpec

    docs = _t(spark, sf_dir, "documents")
    engine = MapperEngine(MappingSpec(TOKENS_SPEC, auto_declare=False))
    return engine.apply(docs, file_name="documents")


def _oracle_kg_explode_tokens() -> str:
    s = _doc_subject_sql()
    null = "CAST(NULL AS VARCHAR)"
    return f"""
SELECT DISTINCT {null} g, 'iri' sk, {s} s, '{KGB}/def/token' p,
       'literal' ok, tok o, {null} odt, {null} olg
FROM documents, unnest(string_split(text, ' ')) AS u(tok)
"""


TYPED_SPEC = {
    "globals": {"$datasetBase": KGB},
    "resources": [{
        "name": "line",
        "properties": {
            "@id": "<" + KGB + "/data/line/{l_orderkey}-{l_linenumber}>",
            "<{$datasetBase}/def/qty>": "{l_quantity | asInt}",
            "<{$datasetBase}/def/returned>": "{l_returnflag | asBoolean('R')}",
            "<{$datasetBase}/def/shipped>": "{l_shipdate}",
        },
    }],
}


def q_kg_typed_literals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.spec import MappingSpec

    li = _t(spark, sf_dir, "lineitem")
    engine = MapperEngine(MappingSpec(TYPED_SPEC, auto_declare=False))
    return engine.apply(li, file_name="lineitem")


def _oracle_kg_typed_literals() -> str:
    null = "CAST(NULL AS VARCHAR)"
    s = (f"'{KGB}/data/line/' || CAST(l_orderkey AS VARCHAR) || '-' || "
         "CAST(l_linenumber AS VARCHAR)")
    return f"""
WITH base AS (SELECT {s} AS s, l_quantity, l_returnflag, l_shipdate
              FROM lineitem)
-- UNION (not ALL): (l_orderkey, l_linenumber) is not unique in the fixture,
-- and RDF set semantics absorb coinciding quads
SELECT DISTINCT {null} g, 'iri' sk, s, '{KGB}/def/qty' p, 'literal' ok,
       CAST(CAST(FLOOR(l_quantity) AS BIGINT) AS VARCHAR) o,
       '{XSD}integer' odt, {null} olg FROM base
UNION SELECT {null}, 'iri', s, '{KGB}/def/returned', 'literal',
       CASE WHEN lower(l_returnflag) = 'r' THEN 'true' ELSE 'false' END,
       '{XSD}boolean', {null} FROM base
UNION SELECT {null}, 'iri', s, '{KGB}/def/shipped', 'literal',
       strftime(l_shipdate, '%Y-%m-%dT%H:%M:%S'),
       '{XSD}dateTime', {null} FROM base
"""


EVENT_TYPE_MAP = {
    "click": f"<{KGB}/def/Click>",
    "view": f"<{KGB}/def/View>",
    "error": f"<{KGB}/def/Error>",
    "purchase": f"<{KGB}/def/Purchase>",
    "login": f"<{KGB}/def/Login>",
}

MAPBY_SPEC = {
    "globals": {"$datasetBase": KGB},
    "mappings": {"etypes": EVENT_TYPE_MAP},
    "resources": [{
        "name": "event",
        "properties": {
            "@id": "<" + KGB + "/data/event/{event_id}>",
            "<{$datasetBase}/def/kind>": "{event_type | map_by('etypes')}",
        },
    }],
}


def q_kg_map_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.spec import MappingSpec

    ev = _t(spark, sf_dir, "events")
    engine = MapperEngine(MappingSpec(MAPBY_SPEC, auto_declare=False))
    return engine.apply(ev, file_name="events")


def _oracle_kg_map_by() -> str:
    null = "CAST(NULL AS VARCHAR)"
    whens = " ".join(
        f"WHEN event_type = '{k}' THEN '{v[1:-1]}'"
        for k, v in EVENT_TYPE_MAP.items()
    )
    return f"""
SELECT {null} g, 'iri' sk,
       '{KGB}/data/event/' || CAST(event_id AS VARCHAR) s,
       '{KGB}/def/kind' p, 'iri' ok,
       CASE {whens} END o, {null} odt, {null} olg
FROM events
WHERE CASE {whens} END IS NOT NULL
"""


AUTOCV_SPEC = {
    "globals": {"$datasetBase": KGB},
    "resources": [{
        "name": "document",
        "properties": {
            "@id": "<" + KGB + "/data/document/{doc_id}>",
            "<{$datasetBase}/def/sourceConcept>":
                "{source | autoCV('sources','label')}",
        },
    }],
}


def q_kg_autocv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.spec import MappingSpec

    docs = _t(spark, sf_dir, "documents")
    engine = MapperEngine(MappingSpec(AUTOCV_SPEC, auto_declare=False))
    return engine.apply(docs, file_name="documents")


def _oracle_kg_autocv() -> str:
    s = _doc_subject_sql()
    null = "CAST(NULL AS VARCHAR)"
    base = f"{KGB}/def/sources"
    concept = f"'{base}/' || source"
    scheme = f"{base}_scheme"
    return f"""
WITH labels AS (SELECT DISTINCT source FROM documents)
SELECT {null} g, 'iri' sk, {s} s, '{KGB}/def/sourceConcept' p,
       'iri' ok, {concept} o, {null} odt, {null} olg FROM documents
UNION ALL SELECT {null}, 'iri', {concept}, '{RDF_TYPE}', 'iri',
       '{SKOS}Concept', {null}, {null} FROM labels
UNION ALL SELECT {null}, 'iri', {concept}, '{SKOS}prefLabel', 'literal',
       source, {null}, {null} FROM labels
UNION ALL SELECT {null}, 'iri', {concept}, '{SKOS}inScheme', 'iri',
       '{scheme}', {null}, {null} FROM labels
UNION ALL SELECT {null}, 'iri', {concept}, '{SKOS}topConceptOf', 'iri',
       '{scheme}', {null}, {null} FROM labels
UNION ALL SELECT {null}, 'iri', '{scheme}', '{SKOS}hasTopConcept', 'iri',
       {concept}, {null}, {null} FROM labels
UNION ALL SELECT {null}, 'iri', '{scheme}', '{RDF_TYPE}', 'iri',
       '{SKOS}ConceptScheme', {null}, {null}
UNION ALL SELECT {null}, 'iri', '{scheme}', '{DCT}title', 'literal',
       'sources', {null}, {null}
UNION ALL SELECT {null}, 'iri', '{scheme}', '{DCT}description', 'literal',
       'Automatically generated concept scheme sources', {null}, {null}
"""


INVERSE_SPEC = {
    "globals": {"$datasetBase": KGB},
    "resources": [
        {
            "name": "document",
            "properties": {
                "@id": "<" + KGB + "/data/document/{doc_id}>",
                "^<skos:member>": "<" + KGB + "/data/collection>",
            },
        },
        {
            "name": "meta",
            "properties": {
                "@id": "<" + KGB + "/data/meta/{doc_id}>",
                "<{$datasetBase}/def/about>": "<::document>",
            },
        },
    ],
}


def q_kg_inverse_backref(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.spec import MappingSpec

    docs = _t(spark, sf_dir, "documents")
    engine = MapperEngine(MappingSpec(INVERSE_SPEC, auto_declare=False))
    return engine.apply(docs, file_name="documents")


def _oracle_kg_inverse_backref() -> str:
    s = _doc_subject_sql()
    null = "CAST(NULL AS VARCHAR)"
    return f"""
SELECT {null} g, 'iri' sk, '{KGB}/data/collection' s, '{SKOS}member' p,
       'iri' ok, {s} o, {null} odt, {null} olg FROM documents
UNION ALL
SELECT {null}, 'iri', '{KGB}/data/meta/' || CAST(doc_id AS VARCHAR),
       '{KGB}/def/about', 'iri', {s}, {null}, {null} FROM documents
"""


GRAPHS_SPEC_Q = {
    "globals": {"$datasetBase": KGB},
    "resources": [
        {
            "name": "base",
            "@graph": "<" + KGB + "/graph/base>",
            "properties": {
                "@id": "<" + KGB + "/data/document/{doc_id}>",
                "<{$datasetBase}/def/source>": "{source}",
            },
        },
        {
            "name": "latest",
            "@graphAdd": "<" + KGB + "/graph/latest>",
            "properties": {
                "@id": "<" + KGB + "/data/document/{doc_id}>",
                "<{$datasetBase}/def/chars>": "{n_chars}",
            },
        },
    ],
}


def q_kg_named_graphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.spec import MappingSpec

    docs = _t(spark, sf_dir, "documents")
    engine = MapperEngine(MappingSpec(GRAPHS_SPEC_Q, auto_declare=False))
    return engine.apply(docs, file_name="documents")


def _oracle_kg_named_graphs() -> str:
    s = _doc_subject_sql()
    null = "CAST(NULL AS VARCHAR)"
    return f"""
SELECT '{KGB}/graph/base' g, 'iri' sk, {s} s, '{KGB}/def/source' p,
       'literal' ok, source o, {null} odt, {null} olg FROM documents
UNION ALL
SELECT '{KGB}/graph/latest', 'iri', {s}, '{KGB}/def/chars', 'literal',
       CAST(n_chars AS VARCHAR), '{XSD}integer', {null} FROM documents
"""


HASH_SPEC = {
    "globals": {"$datasetBase": KGB},
    "resources": [{
        "name": "content",
        "properties": {
            "@id": "<hash(text)>",
            "<{$datasetBase}/def/doc>": "<" + KGB + "/data/document/{doc_id}>",
        },
    }],
}


def q_kg_hash_minting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash IRIs (U5), md5hex digest option so the
    full minting path is value-checked against DuckDB.  The reference-
    parity sha1-base32hex digest (default) is covered by byte-parity
    vectors vs the reference's own test_template_support.py values
    (tests/test_pyfuncs_unit.py) — same compile path, one Column swapped."""
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.spec import MappingSpec

    docs = _t(spark, sf_dir, "documents")
    engine = MapperEngine(MappingSpec(HASH_SPEC, auto_declare=False),
                          hash_digest="md5hex")
    return engine.apply(docs, file_name="documents")


# ---------------------------------------------------------------------------
# Pipeline operators: entity linking + connected components
# ---------------------------------------------------------------------------
def _oracle_kg_hash_minting() -> str:
    null = "CAST(NULL AS VARCHAR)"
    return f"""
SELECT DISTINCT {null} g, 'iri' sk,
       '{KGB}/data/content/' || md5(text) s,
       '{KGB}/def/doc' p, 'iri' ok,
       '{KGB}/data/document/' || CAST(doc_id AS VARCHAR) o,
       {null} odt, {null} olg
FROM documents
"""


JSON_SPEC = {
    "globals": {"$datasetBase": KGB},
    "resources": [{
        "name": "event",
        "properties": {
            "@id": "<" + KGB + "/data/event/{event_id}>",
            "<{$datasetBase}/def/k>": "{k_value | asInt}",
        },
    }],
}


def q_kg_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested/JSON input columns: extract a field from the JSON props
    string, then map it through the engine with typed coercion."""
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.spec import MappingSpec

    ev = _t(spark, sf_dir, "events").withColumn(
        "k_value", F.get_json_object(F.col("props"), "$.k")
    )
    engine = MapperEngine(MappingSpec(JSON_SPEC, auto_declare=False))
    return engine.apply(ev, file_name="events")


def _oracle_kg_json_props() -> str:
    null = "CAST(NULL AS VARCHAR)"
    return f"""
SELECT {null} g, 'iri' sk,
       '{KGB}/data/event/' || CAST(event_id AS VARCHAR) s,
       '{KGB}/def/k' p, 'literal' ok,
       CAST(CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS DOUBLE))
            AS BIGINT) AS VARCHAR) o,
       '{XSD}integer' odt, {null} olg
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
"""


_LINK_ALIASES = ["spark", "table", "scan", "query", "join", "merge"]


def q_link_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    from rdf_mapper_spark.localrel import local_df

    aliases = local_df(
        spark,
        [(a, f"http://kg.example.org/entity/{a}") for a in _LINK_ALIASES],
        "alias string, entity_iri string",
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("mention")
    ).distinct()
    return (
        toks.join(F.broadcast(aliases),
                  toks["mention"] == aliases["alias"])
        .select("doc_id", "mention", "entity_iri")
    )


def _oracle_link_mentions() -> str:
    vals = ", ".join(
        f"('{a}', 'http://kg.example.org/entity/{a}')" for a in _LINK_ALIASES
    )
    return f"""
WITH aliases(alias, entity_iri) AS (VALUES {vals}),
toks AS (SELECT DISTINCT doc_id, tok AS mention
         FROM documents, unnest(string_split(text,' ')) AS u(tok))
SELECT doc_id, mention, entity_iri FROM toks
JOIN aliases ON mention = alias
"""


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.pipeline.canonicalize import connected_components

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    edges = (
        nation.join(region, nation["n_regionkey"] == region["r_regionkey"])
        .select(F.col("n_name").alias("src"), F.col("r_name").alias("dst"))
    )
    return connected_components(edges).select("node", "comp")


def _oracle_connected_components() -> str:
    # star graphs (nation -> region hub): component = min name in the group
    return """
WITH grp AS (
  SELECT n.n_name AS node, r.r_name AS hub
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
  UNION
  SELECT r.r_name AS node, r.r_name AS hub
  FROM region r WHERE EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_regionkey = r.r_regionkey)
),
m AS (SELECT hub, MIN(node) AS mn FROM grp GROUP BY hub)
SELECT g.node, m.mn AS comp FROM grp g JOIN m ON g.hub = m.hub
"""


# ---------------------------------------------------------------------------
# Relational / scale sanity queries (TPC-H-style over the driver tables)
# ---------------------------------------------------------------------------
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.floor("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .alias("sum_base_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _oracle_pricing_summary() -> str:
    return """
-- outer CAST: DuckDB SUM(BIGINT) returns HUGEINT, which pandas renders as
-- float64 and the harness hash then diverges from Spark's int64
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         sum_base_cents,
       COUNT(*) count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem with a broadcast dimension —
    the canonical shuffle-join shape; AQE picks broadcast for customer."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.sum(rev_cents).alias("revenue_cents"),
             F.count(F.lit(1)).alias("n_lines"))
    )


def _oracle_segment_revenue() -> str:
    return """
SELECT c_mktsegment,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


_SESSION_GAP_MIN = 30


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization + rollup (ops/events.py): a user's
    events split into sessions at >30-min gaps (lag + running-sum
    windows, both partitioned by user — ONE user-keyed shuffle), then
    an associative per-session aggregate with map-side partials."""
    from rdf_mapper_spark.ops.events import session_stats

    return session_stats(_t(spark, sf_dir, "events"),
                         gap_minutes=_SESSION_GAP_MIN)


def _oracle_session_stats() -> str:
    gap = _SESSION_GAP_MIN * 60
    return f"""
WITH s AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch(ts) - epoch(lag(ts) OVER w) > {gap}
         THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
c AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
    AS session_idx FROM s)
SELECT user_id, session_idx,
       CAST(user_id AS VARCHAR) || ':' || CAST(session_idx AS VARCHAR)
         AS session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS value_sum
FROM c GROUP BY user_id, session_idx, session_id
"""


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment (ops/events.asof_join): every click picks up the
    latest preceding view's value for the same user.  Tagged-union +
    ONE user-keyed forward-fill window — no range join, no Python; the
    oracle is DuckDB's native ASOF JOIN."""
    from rdf_mapper_spark.ops.events import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("view_value"))
    return asof_join(clicks, views, "user_id", "ts", ["view_value"])


def _oracle_events_asof() -> str:
    return """
SELECT c.event_id, c.user_id, c.ts,
       v.ts AS matched_ts, v.value AS view_value
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


def q_top_events_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("event_type", "rnk", "event_id")
    )


def _oracle_top_events_per_type() -> str:
    return """
SELECT event_type, rnk, event_id FROM (
  SELECT event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) rnk
  FROM events) WHERE rnk <= 3
"""


def q_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(cents).alias("value_cents"),
             F.countDistinct("user_id").alias("n_users"))
    )


def _oracle_event_rollup() -> str:
    return """
SELECT event_type, COUNT(*) n,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) value_cents,
       COUNT(DISTINCT user_id) n_users
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Training-data operators: dedup / similarity / text / multimodal
# ---------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.ops.dedup import exact_dedup_groups

    return exact_dedup_groups(_t(spark, sf_dir, "documents"))


def _oracle_dedup_exact() -> str:
    return """
SELECT md5(text) fp, COUNT(*) n_docs, MIN(doc_id) keep_id
FROM documents GROUP BY md5(text)
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.ops.dedup import jaccard_pairs

    return jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5, n=1)


def _oracle_dedup_jaccard() -> str:
    return """
WITH t AS (SELECT doc_id id, list_distinct(string_split(text,' ')) toks
           FROM documents),
e AS (SELECT id, len(toks) sz, unnest(toks) s FROM t),
i AS (SELECT a.id id_a, b.id id_b, a.sz sz_a, b.sz sz_b,
             COUNT(*) inter
      FROM e a JOIN e b USING (s) WHERE a.id < b.id
      GROUP BY a.id, b.id, a.sz, b.sz)
SELECT id_a, id_b,
       ROUND(inter * 1.0 / (sz_a + sz_b - inter), 4) jaccard
FROM i WHERE ROUND(inter * 1.0 / (sz_a + sz_b - inter), 4) >= 0.5
"""


_MINHASH_HASHES = 16
_MINHASH_BANDS = 4


def q_dedup_minhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.ops.dedup import lsh_buckets, minhash_signature

    sigs = minhash_signature(_t(spark, sf_dir, "documents"),
                             num_hashes=_MINHASH_HASHES, n=3)
    return lsh_buckets(sigs, bands=_MINHASH_BANDS)


def _oracle_dedup_minhash_buckets() -> str:
    shingle = (
        "list_distinct(list_transform("
        "generate_series(1, greatest(len(toks)-2, 0)), "
        "i -> array_to_string(toks[i:i+2], ' ')))"
    )
    sig_elems = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}:' || s)))"
        for i in range(_MINHASH_HASHES)
    )
    rows_per_band = _MINHASH_HASHES // _MINHASH_BANDS
    band_rows = "\nUNION ALL ".join(
        f"SELECT id, {b} band, "
        f"md5(array_to_string(sig[{b*rows_per_band+1}:"
        f"{(b+1)*rows_per_band}], '|')) bucket FROM sigs"
        for b in range(_MINHASH_BANDS)
    )
    return f"""
WITH t AS (SELECT doc_id id, string_split(text,' ') toks FROM documents),
sh_t AS (SELECT id, {shingle} sh FROM t),
sigs AS (SELECT id, [{sig_elems}] sig FROM sh_t)
{band_rows}
"""


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-candidate generation + exact Jaccard verification — the full
    near-dup composition (candidates from any shared band bucket, verified
    at threshold 0.5). md5-based construction keeps DuckDB bit-parity."""
    from rdf_mapper_spark.ops.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=_MINHASH_HASHES,
        bands=_MINHASH_BANDS, n=1, verify_threshold=0.5,
    )


def _oracle_dedup_minhash_pairs() -> str:
    # n=1 shingles (token sets) for the signature AND the verifier
    shingle = "list_distinct(toks)"
    sig_elems = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}:' || s)))"
        for i in range(_MINHASH_HASHES)
    )
    rows_per_band = _MINHASH_HASHES // _MINHASH_BANDS
    band_rows = "\nUNION ALL ".join(
        f"SELECT id, {b} band, "
        f"md5(array_to_string(sig[{b*rows_per_band+1}:"
        f"{(b+1)*rows_per_band}], '|')) bucket FROM sigs"
        for b in range(_MINHASH_BANDS)
    )
    return f"""
WITH t AS (SELECT doc_id id, string_split(text,' ') toks FROM documents),
sh_t AS (SELECT id, {shingle} sh FROM t),
sigs AS (SELECT id, [{sig_elems}] sig FROM sh_t),
bands AS ({band_rows}),
cand AS (SELECT DISTINCT a.id id_a, b.id id_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.id < b.id),
sz AS (SELECT id, len(sh) sz, sh FROM sh_t),
ver AS (SELECT c.id_a, c.id_b,
               ROUND(len(list_intersect(x.sh, y.sh)) * 1.0 /
                     (x.sz + y.sz - len(list_intersect(x.sh, y.sh))), 4) j
        FROM cand c JOIN sz x ON c.id_a = x.id JOIN sz y ON c.id_b = y.id)
SELECT id_a, id_b, j AS jaccard FROM ver WHERE j >= 0.5
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION: minhash near-dup pairs -> connected components ->
    deterministic survivor (min doc_id per cluster), singletons keep
    themselves.  Components via pipeline/canonicalize.connected_components
    (driver union-find under the edge threshold — near-dup edge sets track
    the duplication rate, not the corpus — min-label + pointer jumping
    above it)."""
    from rdf_mapper_spark.ops.dedup import dedup_clusters, minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=_MINHASH_HASHES,
                              bands=_MINHASH_BANDS, n=1,
                              verify_threshold=0.5)
    return dedup_clusters(docs, pairs)


def _oracle_dedup_clusters() -> str:
    """Transitive closure via WITH RECURSIVE over the SAME pair SQL the
    dedup_minhash_pairs oracle uses; min reachable id = component min."""
    pairs_sql = _oracle_dedup_minhash_pairs().strip().rstrip(";")
    return f"""
WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({pairs_sql})),
edges AS (SELECT id_a src, id_b dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
ids AS (SELECT doc_id id FROM documents),
reach(id, r) AS (
  SELECT id, id FROM ids
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
)
SELECT id AS doc_id, MIN(r) AS canonical_id,
       MIN(r) = id AS keep
FROM reach GROUP BY id
"""


ROW_GRAPHS_SPEC = {
    "globals": {"$datasetBase": KGB},
    "resources": [{
        "name": "document",
        "@graph": "<" + KGB + "/graph/{lang}>",
        "properties": {
            "@id": "<" + KGB + "/data/document/{doc_id}>",
            "<{$datasetBase}/def/source>": "{source}",
        },
    }],
}


def q_kg_row_graphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-templated @graph (R12 full form): the graph IRI is computed per
    row from a data column — reference template_support.py:284-287."""
    from rdf_mapper_spark.engine import MapperEngine
    from rdf_mapper_spark.spec import MappingSpec

    docs = _t(spark, sf_dir, "documents")
    engine = MapperEngine(MappingSpec(ROW_GRAPHS_SPEC, auto_declare=False))
    return engine.apply(docs, file_name="documents")


def _oracle_kg_row_graphs() -> str:
    s = _doc_subject_sql()
    null = "CAST(NULL AS VARCHAR)"
    return f"""
SELECT '{KGB}/graph/' || lang AS g, 'iri' sk, {s} s,
       '{KGB}/def/source' p, 'literal' ok, source o, {null} odt, {null} olg
FROM documents
"""


_SIMHASH_RADIUS = 4  # 5 bands of 12 bits — survives corpus scale
_SIMHASH_BITS = 60   # md5 variant: 15 hex chars, signed-BIGINT-safe


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups at a scale-safe radius (4 -> 12-bit bands).

    Uses the md5-based 60-bit hash variant so the WHOLE banded pipeline is
    value-checked against DuckDB; production swaps in `simhash64`
    (xxhash64, no string digests) via the hash_fn parameter — identical
    plan shape, same banding math (tests/test_dedup_recall.py covers both).
    Radii > 7 now require an explicit measured max_bucket cap
    (ops/dedup.py simhash_near_dups guard)."""
    from rdf_mapper_spark.ops.dedup import simhash_md5, simhash_near_dups

    return simhash_near_dups(
        _t(spark, sf_dir, "documents"), max_hamming=_SIMHASH_RADIUS,
        hash_fn=simhash_md5, bits=_SIMHASH_BITS,
    )


def _oracle_dedup_simhash() -> str:
    """DuckDB mirror of the md5/60-bit banded SimHash pipeline."""
    bits, radius = _SIMHASH_BITS, _SIMHASH_RADIUS
    n_bands = radius + 1
    vote = " + ".join(
        f"CASE WHEN SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN (1::BIGINT << {j}) ELSE 0::BIGINT END"
        for j in range(bits)
    )
    bands = []
    for b in range(n_bands):
        start = bits * b // n_bands
        width = bits * (b + 1) // n_bands - start
        mask = (1 << width) - 1
        bands.append(
            f"SELECT id, h, {b} band, (h >> {start}) & {mask} bkey FROM sh"
        )
    banded = "\nUNION ALL ".join(bands)
    return f"""
WITH t AS (SELECT doc_id id, string_split(text, ' ') toks FROM documents),
tok AS (SELECT id, ('0x' || substr(md5(s), 1, 15))::BIGINT h
        FROM (SELECT id, unnest(toks) s FROM t)),
sh0 AS (SELECT id, ({vote}) h FROM tok GROUP BY id),
sh AS (SELECT t.id, coalesce(sh0.h, 0) h FROM t LEFT JOIN sh0 USING (id)),
banded AS ({banded}),
cand AS (SELECT DISTINCT a.id id_a, b.id id_b, a.h h_a, b.h h_b
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id)
SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INTEGER) hamming
FROM cand WHERE bit_count(xor(h_a, h_b)) <= {radius}
"""


_EMB_DIM = 64
_EMB_PLANES = 4
_EMB_SEED = 42
_EMB_THRESHOLD = 0.38  # fixture embeddings are near-orthogonal random
                       # vectors (max pairwise cosine ~0.48); 0.38 makes the
                       # threshold actually fire so the green is evidence


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup pairs (the scale path): seeded random-hyperplane
    buckets -> within-bucket exact cosine. The all-pairs crossJoin variant
    (`embedding_near_dups_exact`) is its recall verifier in tests only."""
    from rdf_mapper_spark.ops.dedup import embedding_near_dups

    return embedding_near_dups(
        _t(spark, sf_dir, "embeddings"), threshold=_EMB_THRESHOLD,
        n_planes=_EMB_PLANES, seed=_EMB_SEED, dim=_EMB_DIM,
    )


def _oracle_embedding_near_dups() -> str:
    # replicate the seeded hyperplane bucketing exactly: the planes are
    # driver-side constants, so DuckDB can recompute the same buckets
    from rdf_mapper_spark.ops.similarity import hyperplanes

    planes = hyperplanes(_EMB_DIM, _EMB_PLANES, _EMB_SEED)
    bucket = " + ".join(
        f"(CASE WHEN list_inner_product(v, {list(p)!r}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    cos = (
        "list_inner_product(a.v, b.v) / "
        "(sqrt(list_inner_product(a.v, a.v)) * "
        "sqrt(list_inner_product(b.v, b.v)))"
    )
    return f"""
WITH t AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
bk AS (SELECT id, v, {bucket} AS bucket FROM t)
SELECT a.id id_a, b.id id_b, ROUND({cos}, 4) cosine
FROM bk a JOIN bk b ON a.bucket = b.bucket
WHERE a.id < b.id AND ROUND({cos}, 4) >= {_EMB_THRESHOLD}
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.ops.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return cosine_topk(emb, queries, k=10).select("qid", "rank", "neighbor")


def _oracle_ann_topk() -> str:
    cos = (
        "list_inner_product(e.v, q.v) / "
        "(sqrt(list_inner_product(e.v, e.v)) * "
        "sqrt(list_inner_product(q.v, q.v)))"
    )
    return f"""
WITH t AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
q AS (SELECT id qid, v FROM t WHERE id < 5),
scored AS (
  -- rank by the ROUNDED cosine (as the Spark side does): near-ties are
  -- then broken by id identically in both engines
  SELECT q.qid, e.id neighbor,
         ROW_NUMBER() OVER (PARTITION BY q.qid
                            ORDER BY ROUND({cos}, 4) DESC, e.id ASC) rank
  FROM t e, q WHERE e.id <> q.qid)
SELECT qid, rank, neighbor FROM scored WHERE rank <= 10
"""


_ANN_LSH_PLANES = 6
_ANN_LSH_TABLES = 4


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-TABLE multi-probe LSH ANN: L seeded hyperplane sets union
    their candidates (miss prob p -> p^L; recall@10 >= 0.6 asserted in
    tests/test_ann_recall.py, measured 0.95 at L=4), each query probing
    its bucket + all 1-bit-flip buckets per table.  The hyperplanes are
    seeded driver-side constants, so the WHOLE approximate pipeline is
    value-checked against DuckDB (planes embedded as SQL literals).

    Bench note: most of this query's wall time at sandbox scale is
    DRIVER-side Catalyst analysis of the 24x64-literal plane tree — a
    per-plan constant independent of table size; the executed side is a
    bucket-pruned hash join (at 100 TB the bucket keys are stored
    partition columns and the plane tree compiles once per job)."""
    from rdf_mapper_spark.ops.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return lsh_topk(emb, queries, k=10, dim=_EMB_DIM,
                    n_planes=_ANN_LSH_PLANES, n_tables=_ANN_LSH_TABLES
                    ).select("qid", "rank", "neighbor")


def _oracle_ann_lsh() -> str:
    """DuckDB mirror of lsh_topk: same seeded hyperplanes as literals,
    same table-namespaced bucket keys, 1-bit-flip multiprobe, candidate
    dedup, rounded-cosine ranking."""
    from rdf_mapper_spark.ops.similarity import hyperplanes

    n_planes, n_tables = _ANN_LSH_PLANES, _ANN_LSH_TABLES
    width = 1 << n_planes
    bucket_cols = []
    for t in range(n_tables):
        planes = hyperplanes(_EMB_DIM, n_planes, 42 + 7919 * t)
        bits = " + ".join(
            "CASE WHEN list_inner_product(v, ["
            + ", ".join(repr(x) for x in p)
            + f"]) >= 0 THEN {1 << i} ELSE 0 END"
            for i, p in enumerate(planes)
        )
        bucket_cols.append(f"({bits}) bt{t}")
    ek = "\nUNION ALL ".join(
        f"SELECT id, v, bt{t} + {t * width} k FROM b"
        for t in range(n_tables)
    )
    qk_rows = []
    for t in range(n_tables):
        qk_rows.append(f"SELECT qid, qv, bt{t} + {t * width} k FROM q")
        for i in range(n_planes):
            qk_rows.append(
                f"SELECT qid, qv, xor(bt{t}, {1 << i}) + {t * width} k FROM q"
            )
    qk = "\nUNION ALL ".join(qk_rows)
    cos = ("list_inner_product(v, qv) / (sqrt(list_inner_product(v, v)) * "
           "sqrt(list_inner_product(qv, qv)))")
    return f"""
WITH t AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
b AS (SELECT id, v, {", ".join(bucket_cols)} FROM t),
ek AS ({ek}),
q AS (SELECT id qid, v qv, {", ".join(f"bt{t}" for t in range(n_tables))}
      FROM b WHERE id < 5),
qk AS ({qk}),
cand AS (SELECT DISTINCT qk.qid, e.id neighbor, e.v, qk.qv
         FROM ek e JOIN qk ON e.k = qk.k AND e.id <> qk.qid),
scored AS (
  SELECT qid, neighbor,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY ROUND({cos}, 4) DESC, neighbor ASC) rank
  FROM cand)
SELECT qid, rank, neighbor FROM scored WHERE rank <= 10
"""


_IVF_CELLS = 16
_IVF_NPROBE = 4


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the inverted-file scale path, complementing LSH):
    one stored cell id per vector, queries probe their nprobe best cells,
    exact scoring within — expected scan fraction nprobe/n_cells.  The
    seeded codebook is a driver constant, so the whole approximate
    pipeline is value-checked against DuckDB."""
    from rdf_mapper_spark.ops.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ivf_topk(emb, queries, k=10, n_cells=_IVF_CELLS,
                    nprobe=_IVF_NPROBE, dim=_EMB_DIM
                    ).select("qid", "rank", "neighbor")


def _oracle_ann_ivf() -> str:
    from rdf_mapper_spark.ops.similarity import centroids

    cells = centroids(_EMB_DIM, _IVF_CELLS, 7)
    dots = ("[" + ", ".join(
        "list_inner_product(v, [" + ", ".join(repr(x) for x in c) + "])"
        for c in cells
    ) + "]")
    cos = ("list_inner_product(v, qv) / (sqrt(list_inner_product(v, v)) * "
           "sqrt(list_inner_product(qv, qv)))")
    return f"""
WITH t AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
d AS (SELECT id, v, {dots} dots FROM t),
e AS (SELECT id, v, list_position(dots, list_max(dots)) cell FROM d),
q AS (SELECT id qid, v qv, dots FROM d WHERE id < 5),
pr AS (SELECT qid, qv, i, list_extract(dots, i::INTEGER) dd
       FROM q, range(1, {_IVF_CELLS + 1}) r(i)),
probes AS (SELECT qid, qv, i::INTEGER cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY dd DESC, i ASC) rk FROM pr)
  WHERE rk <= {_IVF_NPROBE}),
cand AS (SELECT p.qid, e.id neighbor, e.v, p.qv
         FROM e JOIN probes p ON e.cell = p.cell AND e.id <> p.qid),
scored AS (
  SELECT qid, neighbor,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY ROUND({cos}, 4) DESC, neighbor ASC) rank
  FROM cand)
SELECT qid, rank, neighbor FROM scored WHERE rank <= 10
"""


def _ann_index_path(sf_dir: str, kind: str) -> str:
    """Deterministic per-(input, kind) index location outside the
    read-only test-data tree; keyed by the source file's (mtime, size) so
    a regenerated fixture invalidates the stored index."""
    import re as _re
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    tok = f"{os.path.getmtime(src):.0f}-{os.path.getsize(src)}"
    safe = _re.sub(r"[^A-Za-z0-9_.-]", "_", sf_dir.strip("/"))
    return os.path.join(tempfile.gettempdir(), "ann_index", safe,
                        f"{kind}-{tok}")


_PQ_M = 8       # subspaces (64-dim -> 8-dim subvectors)
_PQ_K = 16      # codewords per subspace
_PQ_SEED = 13


def _ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    from rdf_mapper_spark.ops.ann_index import build_ivfpq_index
    from rdf_mapper_spark.ops.similarity import centroids, pq_codebooks

    path = _ann_index_path(sf_dir, "ivfpq")
    if not os.path.exists(os.path.join(path, "_ann_meta.json")):
        build_ivfpq_index(
            _t(spark, sf_dir, "embeddings"), path,
            centroids(_EMB_DIM, _IVF_CELLS, 7),
            pq_codebooks(_EMB_DIM, _PQ_M, _PQ_K, _PQ_SEED))
    return path


def q_ann_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: coarse-cell partition pruning + product-quantized codes
    (ops/ann_index.build_ivfpq_index).  The stored index holds 8 small
    ints per vector instead of 64 floats — the memory side of the ANN
    scale story — and ranking uses the asymmetric-distance (ADC)
    approximation against the query's exact vector.  The DuckDB oracle
    recomputes the ENTIRE construction (codes, cells, probes, explicit
    same-order ADC sums) from the seeded codebooks."""
    from rdf_mapper_spark.ops.ann_index import ivfpq_topk_indexed

    path = _ensure_ivfpq_index(spark, sf_dir)
    queries = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qvec"))
    return ivfpq_topk_indexed(spark, path, queries, k=10,
                              nprobe=_IVF_NPROBE)


def _oracle_ann_ivfpq() -> str:
    from rdf_mapper_spark.ops.similarity import (
        centroids,
        pq_adc_sql,
        pq_codebooks,
        pq_codes_sql,
    )

    cells = centroids(_EMB_DIM, _IVF_CELLS, 7)
    codebooks = pq_codebooks(_EMB_DIM, _PQ_M, _PQ_K, _PQ_SEED)
    dots = ("[" + ", ".join(
        "list_inner_product(v, [" + ", ".join(repr(x) for x in c) + "])"
        for c in cells
    ) + "]")
    codes = pq_codes_sql(
        lambda i: f"v[{i + 1}]", codebooks,
        lambda a: f"list_position({a}, list_min({a}))",
        lambda items: "[" + ", ".join(items) + "]")
    cb_lits = [
        "[" + ", ".join(
            "[" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in cw) + "]"
            for cw in cb) + "]"
        for cb in codebooks
    ]
    cw_selects = ", ".join(
        f"list_extract({cb_lits[j]}, list_extract(codes, {j + 1})) cw_{j}"
        for j in range(_PQ_M))
    dist = pq_adc_sql(
        lambda i: f"qv[{i + 1}]", codebooks,
        lambda j, i: f"list_extract(cw_{j}, {i + 1})")
    return f"""
WITH t AS (SELECT vec_id id, embedding::DOUBLE[] v FROM embeddings),
d AS (SELECT id, v, {dots} dots FROM t),
e AS (SELECT id, list_position(dots, list_max(dots)) cell,
             {codes} codes FROM d),
q AS (SELECT id qid, v qv, dots FROM d WHERE id < 5),
pr AS (SELECT qid, qv, i, list_extract(dots, i::INTEGER) dd
       FROM q, range(1, {_IVF_CELLS + 1}) r(i)),
probes AS (SELECT qid, qv, i::INTEGER cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY dd DESC, i ASC) rk FROM pr)
  WHERE rk <= {_IVF_NPROBE}),
cand AS (SELECT p.qid, p.qv, e.id neighbor, e.codes
         FROM e JOIN probes p ON e.cell = p.cell AND e.id <> p.qid),
cw AS (SELECT qid, qv, neighbor, {cw_selects} FROM cand),
scored AS (
  SELECT qid, neighbor, ROUND({dist}, 4) adist,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY ROUND({dist}, 4) ASC, neighbor ASC) rank
  FROM cw)
SELECT qid, rank, neighbor, adist FROM scored WHERE rank <= 10
"""


def _ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    from rdf_mapper_spark.ops.ann_index import build_ivf_index
    from rdf_mapper_spark.ops.similarity import centroids

    path = _ann_index_path(sf_dir, "ivf")
    if not os.path.exists(os.path.join(path, "_ann_meta.json")):
        build_ivf_index(_t(spark, sf_dir, "embeddings"), path,
                        centroids(_EMB_DIM, _IVF_CELLS, 7))
    return path


def _ensure_lsh_index(spark: SparkSession, sf_dir: str) -> str:
    from rdf_mapper_spark.ops.ann_index import build_lsh_index

    path = _ann_index_path(sf_dir, "lsh")
    if not os.path.exists(os.path.join(path, "_ann_meta.json")):
        build_lsh_index(_t(spark, sf_dir, "embeddings"), path,
                        dim=_EMB_DIM, n_planes=_ANN_LSH_PLANES,
                        n_tables=_ANN_LSH_TABLES, seed=42)
    return path


def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_ivf` over the MATERIALIZED index (ops/ann_index.py): cell
    assignment is computed once at build time and stored as a parquet
    partition column; the query probes nprobe cells via a collected IN
    filter (bounded by n_cells) -> static partition pruning at the scan.
    Same seeded codebook, same oracle, bit-identical results — this is
    the layout that amortizes both the full-table re-hash AND the
    driver-side plan-compile constant across repeated query batches."""
    from rdf_mapper_spark.ops.ann_index import ivf_topk_indexed

    path = _ensure_ivf_index(spark, sf_dir)
    queries = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qvec"))
    return ivf_topk_indexed(spark, path, queries, k=10,
                            nprobe=_IVF_NPROBE
                            ).select("qid", "rank", "neighbor")


def q_ann_lsh_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ann_lsh` over the MATERIALIZED index: table-namespaced bucket keys
    stored as the partition column; only the 5-query batch is hashed at
    query time (the 24-plane literal tree applies to a dictionary-sized
    frame), the index scan is pruned to the probed buckets.  Same seeded
    planes, same oracle, bit-identical results."""
    from rdf_mapper_spark.ops.ann_index import lsh_topk_indexed

    path = _ensure_lsh_index(spark, sf_dir)
    queries = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qvec"))
    # Bench note: at sandbox scale the recompute path can still win on
    # wall clock — the indexed query carries ~2 s of FIXED driver cost
    # (probe-key collect job + query-plan analysis; the 256-dir listing
    # is amortized by ops/ann_index._read_index) while the cost it
    # avoids, re-hashing the embedding table, is only ~20k rows here.
    # The avoided cost grows LINEARLY with corpus size; the fixed cost
    # does not — the crossover is far below any real corpus.
    return lsh_topk_indexed(spark, path, queries, k=10
                            ).select("qid", "rank", "neighbor")


_MIX_FRACTIONS = {"en": 0.8, "fr": 0.5, "de": 0.3}

# passes every quality rule under en routing (27 tokens, stopword-rich)
_MIRROR_TEXT = ("the curious researchers examined the ancient library and "
                "the students gathered around the wooden tables to discuss "
                "the findings of the expedition in the quiet evening")


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation stage (pipeline/curation.curate_corpus):
    quality -> PII scrub -> exact dedup -> stratified sample, composed in
    the load-bearing order (scrub BEFORE dedup: ~14% of docs are made
    mirror pages sharing one body but carrying distinct contact emails —
    they dedup only because the email is scrubbed first; dedup BEFORE
    sampling so duplication cannot distort the mix rates).  One shuffle
    total (the dedup groupBy)."""
    from rdf_mapper_spark.pipeline.curation import curate_corpus

    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    src = d.select(
        "doc_id", "lang",
        F.concat(
            F.when(doc_id % 7 == 3, F.lit(_MIRROR_TEXT))
            .otherwise(F.col("text")),
            F.lit(" contact user"), doc_id.cast("string"),
            F.lit("@example.com"),
        ).alias("text"),
    )
    return curate_corpus(src, _MIX_FRACTIONS, default_fraction=0.1, seed=7)


def _oracle_corpus_curation() -> str:
    from rdf_mapper_spark.ops.text import PII_ORDER, PII_PATTERNS

    clean = "text"
    for kind in PII_ORDER:
        pat = PII_PATTERNS[kind].replace("'", "''")
        clean = (f"regexp_replace({clean}, '{pat}', "
                 f"'<{kind.upper()}>', 'g')")
    qual = _oracle_quality_filter().replace("FROM documents", "FROM src")
    cases = " ".join(
        f"WHEN lang = '{k}' THEN {v!r}"
        for k, v in sorted(_MIX_FRACTIONS.items())
    )
    u = ("(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))"
         "::BIGINT * 1.0 / 1152921504606846976)")
    return f"""
WITH src AS (SELECT doc_id, lang,
  CASE WHEN doc_id % 7 = 3 THEN '{_MIRROR_TEXT}' ELSE text END ||
  ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' AS text
  FROM documents),
qual AS (SELECT doc_id FROM ({qual}) WHERE keep),
s AS (SELECT src.doc_id, src.lang, {clean} AS clean_text
      FROM src JOIN qual USING (doc_id)),
d AS (SELECT md5(clean_text) fp, MIN(doc_id) keep_id
      FROM s GROUP BY 1)
SELECT doc_id, lang, clean_text
FROM s JOIN d ON s.doc_id = d.keep_id
WHERE {u} < (CASE {cases} ELSE 0.1 END)
"""


def _curation_neardup_src(d: DataFrame) -> DataFrame:
    """corpus_curation's source plus a planted NEAR-dup class: doc_id%7==5
    docs become the mirror body with one extra token varying by doc_id%3 —
    three texts pairwise-similar to each other AND to the exact-mirror
    class (Jaccard ~0.9), so the near-dup closure must merge them all
    into one surviving document."""
    doc_id = F.col("doc_id")
    return d.select(
        "doc_id", "lang",
        F.concat(
            F.when(doc_id % 7 == 3, F.lit(_MIRROR_TEXT))
            .when(doc_id % 7 == 5,
                  F.concat(F.lit(_MIRROR_TEXT), F.lit(" variant"),
                           (doc_id % 3).cast("string")))
            .otherwise(F.col("text")),
            F.lit(" contact user"), doc_id.cast("string"),
            F.lit("@example.com"),
        ).alias("text"),
    )


def q_corpus_curation_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curate_corpus with the optional NEAR-dup stage (pairs_fn=): quality
    -> PII scrub -> exact dedup -> minhash-LSH pairs on the CLEANED text
    -> connected components -> min-id survivor -> stratified sample.
    The planted variant class (doc_id%7==5) survives exact dedup as three
    distinct texts but is one near-dup component together with the mirror
    class, so exactly one of the four texts' min-id survives.  The drop
    side of the anti-join is bounded by the near-dup rate, not the
    corpus."""
    from rdf_mapper_spark.ops.dedup import minhash_lsh_pairs
    from rdf_mapper_spark.pipeline.curation import curate_corpus

    src = _curation_neardup_src(_t(spark, sf_dir, "documents"))
    return curate_corpus(
        src, _MIX_FRACTIONS, default_fraction=0.1, seed=7,
        pairs_fn=lambda dd: minhash_lsh_pairs(
            dd, num_hashes=_MINHASH_HASHES, bands=_MINHASH_BANDS, n=2,
            text_col="clean_text", verify_threshold=0.5),
    )


def _oracle_corpus_curation_neardup() -> str:
    """The exact-curation oracle extended with the minhash pair SQL over
    the cleaned survivors and a WITH RECURSIVE closure (min reachable id
    = component canonical, the same rule as connected_components)."""
    from rdf_mapper_spark.ops.text import PII_ORDER, PII_PATTERNS

    clean = "text"
    for kind in PII_ORDER:
        pat = PII_PATTERNS[kind].replace("'", "''")
        clean = (f"regexp_replace({clean}, '{pat}', "
                 f"'<{kind.upper()}>', 'g')")
    qual = _oracle_quality_filter().replace("FROM documents", "FROM src")
    cases = " ".join(
        f"WHEN lang = '{k}' THEN {v!r}"
        for k, v in sorted(_MIX_FRACTIONS.items())
    )
    u = ("(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))"
         "::BIGINT * 1.0 / 1152921504606846976)")
    sig_elems = ", ".join(
        f"list_min(list_transform(sh, s -> md5('{i}:' || s)))"
        for i in range(_MINHASH_HASHES)
    )
    rows_per_band = _MINHASH_HASHES // _MINHASH_BANDS
    band_rows = "\nUNION ALL ".join(
        f"SELECT id, {b} band, "
        f"md5(array_to_string(sig[{b*rows_per_band+1}:"
        f"{(b+1)*rows_per_band}], '|')) bucket FROM sigs"
        for b in range(_MINHASH_BANDS)
    )
    return f"""
WITH RECURSIVE src AS (SELECT doc_id, lang,
  (CASE WHEN doc_id % 7 = 3 THEN '{_MIRROR_TEXT}'
        WHEN doc_id % 7 = 5 THEN '{_MIRROR_TEXT}' || ' variant' ||
             CAST(doc_id % 3 AS VARCHAR)
        ELSE text END) ||
  ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' AS text
  FROM documents),
qual AS (SELECT doc_id FROM ({qual}) WHERE keep),
s AS (SELECT src.doc_id, src.lang, {clean} AS clean_text
      FROM src JOIN qual USING (doc_id)),
dd AS (SELECT md5(clean_text) fp, MIN(doc_id) keep_id
       FROM s GROUP BY 1),
surv AS (SELECT s.doc_id, s.lang, s.clean_text
         FROM s JOIN dd ON s.doc_id = dd.keep_id),
t AS (SELECT doc_id id, list_filter(regexp_split_to_array(
          lower(clean_text), '[^\\p{{L}}\\p{{N}}]+'), x -> x <> '') toks
      FROM surv),
sh_t AS (SELECT id, list_distinct(list_transform(
          generate_series(1, greatest(len(toks) - 1, 0)),
          i -> array_to_string(toks[i:i+1], ' '))) sh FROM t),
sigs AS (SELECT id, [{sig_elems}] sig FROM sh_t),
bands AS ({band_rows}),
cand AS (SELECT DISTINCT a.id id_a, b.id id_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.id < b.id),
sz AS (SELECT id, len(sh) sz, sh FROM sh_t),
pairs AS (SELECT c.id_a, c.id_b
          FROM cand c JOIN sz x ON c.id_a = x.id JOIN sz y ON c.id_b = y.id
          WHERE ROUND(len(list_intersect(x.sh, y.sh)) * 1.0 /
                (x.sz + y.sz - len(list_intersect(x.sh, y.sh))), 4) >= 0.5),
edges AS (SELECT id_a esrc, id_b edst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT id, id FROM sh_t
  UNION
  SELECT e.esrc, reach.r FROM edges e JOIN reach ON reach.id = e.edst
),
canon AS (SELECT id AS doc_id, MIN(r) AS canonical FROM reach GROUP BY id)
SELECT doc_id, lang, clean_text
FROM surv JOIN canon USING (doc_id)
WHERE canonical = doc_id
  AND {u} < (CASE {cases} ELSE 0.1 END)
"""


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified training-mix sample
    (ops/sampling.stratified_sample): per-language keep rates, membership
    a pure function of (seed, doc_id) via md5 — identical across re-runs,
    partitionings and engines (the oracle checks MEMBERSHIP, not counts).
    Pure projection + filter; the scan absorbs it."""
    from rdf_mapper_spark.ops.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(d, "lang", _MIX_FRACTIONS,
                             default_fraction=0.1, seed=7
                             ).select("doc_id", "lang")


def _oracle_corpus_sample() -> str:
    cases = " ".join(
        f"WHEN lang = '{k}' THEN {v!r}"
        for k, v in sorted(_MIX_FRACTIONS.items())
    )
    u = ("(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 15))"
         "::BIGINT * 1.0 / 1152921504606846976)")
    return f"""
SELECT doc_id, lang FROM documents
WHERE {u} < (CASE {cases} ELSE 0.1 END)
"""


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (ops/text.repetition_metrics) over
    deterministically line-laced docs: every doc gets a unique line plus
    1 + doc_id%3 copies of a boilerplate line, so dup-line and top-n-gram
    fractions have known structure.  Keyed (doc_id, line|gram) aggregates
    with map-side partials — the shuffle shape that survives corpus
    scale."""
    from rdf_mapper_spark.ops.text import repetition_metrics

    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    laced = F.array_join(
        F.concat(
            F.array(F.col("text")),
            F.array_repeat(F.lit("click here to subscribe now"),
                           (doc_id % 3 + 1).cast("int")),
        ), "\n")
    return repetition_metrics(d.select("doc_id", laced.alias("text")))


def _oracle_repetition_metrics() -> str:
    lace = (
        "array_to_string(list_concat([text], list_transform("
        "generate_series(1, 1 + CAST(doc_id % 3 AS INT)), "
        "i -> 'click here to subscribe now')), chr(10))"
    )
    toks = ("list_filter(regexp_split_to_array(lower(s), '[^a-z0-9]+'), "
            "x -> x <> '')")

    def topn(n: int) -> str:
        return f"""
g{n} AS (SELECT doc_id, unnest(list_transform(
          generate_series(1, greatest(len(toks) - {n - 1}, 0)),
          i -> array_to_string(toks[i:i+{n - 1}], ' '))) gram FROM tok),
pg{n} AS (SELECT doc_id, gram, COUNT(*) c FROM g{n} GROUP BY doc_id, gram),
top{n} AS (SELECT doc_id, c * length(gram) top FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY c DESC, gram ASC) rk FROM pg{n}) WHERE rk = 1)"""

    return f"""
WITH t AS (SELECT doc_id, {lace} AS s FROM documents),
tot AS (SELECT doc_id, length(s) n_chars FROM t),
l AS (SELECT doc_id, unnest(list_filter(string_split(s, chr(10)),
       x -> x <> '')) line FROM t),
pl AS (SELECT doc_id, line, COUNT(*) c FROM l GROUP BY doc_id, line),
ls AS (SELECT doc_id,
        (SUM(c) - COUNT(*)) * 1.0 / SUM(c) dup_line_frac,
        SUM(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) * 1.0 /
        SUM(c * length(line)) dup_line_char_frac
       FROM pl GROUP BY doc_id),
tok AS (SELECT doc_id, {toks} toks FROM t),
{topn(2)},
{topn(3)}
SELECT tot.doc_id,
       ROUND(COALESCE(dup_line_frac, 0), 4) dup_line_frac,
       ROUND(COALESCE(dup_line_char_frac, 0), 4) dup_line_char_frac,
       ROUND(CASE WHEN n_chars > 0
             THEN COALESCE(top2.top, 0) * 1.0 / n_chars ELSE 0 END, 4)
         top_2gram_char_frac,
       ROUND(CASE WHEN n_chars > 0
             THEN COALESCE(top3.top, 0) * 1.0 / n_chars ELSE 0 END, 4)
         top_3gram_char_frac
FROM tot LEFT JOIN ls USING (doc_id)
LEFT JOIN top2 USING (doc_id) LEFT JOIN top3 USING (doc_id)
"""


_LM_TOP_K = 20
_TFIDF_K = 3
_TFIDF_MAX_DF = 0.9


_CHUNK_TOKENS, _CHUNK_OVERLAP = 32, 8


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window chunking with overlap
    (ops/text.chunk_documents) — the context-window packing prep.  Pure
    projection + one explode; the scan absorbs it."""
    from rdf_mapper_spark.ops.text import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"),
                           chunk_tokens=_CHUNK_TOKENS,
                           overlap=_CHUNK_OVERLAP)


def _oracle_chunk_documents() -> str:
    ct, ov = _CHUNK_TOKENS, _CHUNK_OVERLAP
    stride = ct - ov
    toks = ("list_filter(regexp_split_to_array(lower(text), "
            "'[^\\p{L}\\p{N}]+'), x -> x <> '')")
    # FLOOR, not CAST: DuckDB CAST(double AS INT) rounds-half-even while
    # Spark's cast truncates — (g + stride-1)/stride must floor
    n_chunks = (f"CAST(FLOOR((greatest(len(toks) - {ov}, 1) + {stride - 1})"
                f" * 1.0 / {stride}) AS INT)")
    return f"""
WITH t AS (SELECT doc_id, {toks} toks FROM documents),
n AS (SELECT doc_id, toks, greatest({n_chunks}, 1) nc FROM t),
c AS (SELECT doc_id, toks, unnest(generate_series(1, nc)) i FROM n),
w AS (SELECT doc_id, CAST(i - 1 AS INT) chunk_id,
        toks[(i-1)*{stride} + 1 : (i-1)*{stride} + {ct}] chunk FROM c)
SELECT doc_id, chunk_id, CAST(len(chunk) AS INT) n_tok,
       array_to_string(chunk, ' ') chunk_text
FROM w WHERE len(chunk) > 0
"""


_PARA_BANNER = "subscribe to the newsletter for updates"


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granular exact dedup (ops/dedup.dedup_paragraphs —
    RefinedWeb-style): docs are laced into paragraphs (own text + a
    corpus-wide banner + for doc_id%4==1 a second shared footer); only
    the FIRST occurrence of each paragraph corpus-wide survives, docs
    reassemble from their surviving paragraphs.  One md5(paragraph)-
    keyed window shuffle + one regroup; the hot banner key costs its
    row count, never df^2."""
    from rdf_mapper_spark.ops.dedup import dedup_paragraphs

    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    laced = F.concat_ws(
        "\n", F.col("text"), F.lit(_PARA_BANNER),
        F.when(doc_id % 4 == 1, F.lit("all rights reserved footer"))
        .otherwise(F.concat(F.lit("closing note "), doc_id.cast("string"))),
    )
    return dedup_paragraphs(d.select("doc_id", laced.alias("text")))


def _oracle_dedup_paragraphs() -> str:
    return f"""
WITH src AS (SELECT doc_id,
  text || chr(10) || '{_PARA_BANNER}' || chr(10) ||
  (CASE WHEN doc_id % 4 = 1 THEN 'all rights reserved footer'
        ELSE 'closing note ' || CAST(doc_id AS VARCHAR) END) AS text
  FROM documents),
t AS (SELECT doc_id, string_split(text, chr(10)) ps FROM src),
p AS (SELECT doc_id, i - 1 AS pos, ps[i] AS para
      FROM t, unnest(generate_series(1, len(ps))) AS u(i)
      WHERE trim(ps[i]) <> ''),
k AS (SELECT doc_id, pos, para,
        ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pos) rn
      FROM p)
SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
FROM k WHERE rn = 1 GROUP BY doc_id
"""


_HOST_CAP = 10


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain frequency capping (ops/sampling.cap_per_key): keep the
    `cap` lowest doc_ids per source — the per-site quota that stops one
    mega-host dominating the mix.  Two-phase salted top-k, so a hot key
    is ranked across n_salt tasks before the definitive bounded window
    (<= n_salt*cap rows per key) — identical result to the naive single
    window, without its one-task-per-hot-key wall."""
    from rdf_mapper_spark.ops.sampling import cap_per_key

    d = _t(spark, sf_dir, "documents")
    return cap_per_key(d, "source", _HOST_CAP).select("doc_id", "source")


def _oracle_cap_per_source() -> str:
    return f"""
SELECT doc_id, source FROM documents
QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) <= {_HOST_CAP}
"""


_PACK_BUDGET = 256
_PACK_GROUP = 64


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (ops/text.pack_sequences): running
    token count within deterministic co-packing groups (doc_id //
    group_size), pack index = exclusive cumsum // budget.  Per-group
    windows parallelize where a global ordered cumsum would be a
    single-task plan; fragmentation cost is bounded by one budget per
    group."""
    from rdf_mapper_spark.ops.text import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, budget_tokens=_PACK_BUDGET,
                          group_size=_PACK_GROUP)


def _oracle_pack_sequences() -> str:
    toks = ("len(list_filter(regexp_split_to_array(lower(text), "
            "'[^\\p{L}\\p{N}]+'), x -> x <> ''))")
    return f"""
WITH b AS (SELECT doc_id, doc_id // {_PACK_GROUP} AS grp,
                  CAST({toks} AS INT) AS n_tok
           FROM documents),
c AS (SELECT doc_id, grp, n_tok,
        CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY grp ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS start_tok
      FROM b)
SELECT doc_id, grp, start_tok // {_PACK_BUDGET} AS pack_id, n_tok,
       start_tok
FROM c
"""


def q_kg_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG analytics composed on the engine's own output: per-predicate
    triple counts and distinct subject/object degrees over the flagship
    graph.  One aggregation pass downstream of quad emission — the
    monitoring/observability query every KG deployment runs after a
    build."""
    quads = q_kg_flagship(spark, sf_dir)
    return quads.groupBy("p").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("s").alias("n_subjects"),
        F.countDistinct("o").alias("n_objects"),
    )


def _oracle_kg_degrees() -> str:
    return f"""
SELECT p, COUNT(*) n_triples,
       CAST(COUNT(DISTINCT s) AS BIGINT) n_subjects,
       CAST(COUNT(DISTINCT o) AS BIGINT) n_objects
FROM ({_oracle_kg_flagship()})
GROUP BY p
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus rollup (ops/text.corpus_stats): doc/token totals,
    language-routed quality keep-rate, exact-dup rate, per-language
    counts — all associative aggregates in a single map-side-partial
    pass."""
    from rdf_mapper_spark.ops.text import corpus_stats

    return corpus_stats(_t(spark, sf_dir, "documents"))


def _oracle_corpus_stats() -> str:
    qual = _oracle_quality_filter()
    toks = ("list_filter(regexp_split_to_array(lower(text), "
            "'[^\\p{L}\\p{N}]+'), x -> x <> '')")
    return f"""
WITH q AS (SELECT doc_id, keep FROM ({qual}))
SELECT COUNT(*) n_docs,
       CAST(SUM(len({toks})) AS BIGINT) total_tokens,
       ROUND(AVG(CASE WHEN q.keep THEN 1 ELSE 0 END), 4) keep_rate,
       ROUND(1 - COUNT(DISTINCT md5(text)) * 1.0 / COUNT(*), 4) dup_rate,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) n_en,
       CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) n_fr,
       CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) n_de,
       CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) n_es,
       CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) n_zh,
       CAST(SUM(CASE WHEN lang NOT IN ('en','fr','de','es','zh')
                THEN 1 ELSE 0 END) AS BIGINT) n_other
FROM documents JOIN q USING (doc_id)
"""


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k tf-idf terms (ops/text.tfidf_top_terms).  The
    max_df kill-switch drops stopword-tier terms BEFORE the (term)-keyed
    df join (0.9 here: the synthetic corpus has a ~31-token vocabulary
    almost entirely in the 0.5-0.9 df band, so 0.5 would leave one
    surviving term; production uses ~0.5) — the hot keys with near-zero idf that could never rank.
    Ranking on the rounded score with term tie-break keeps the output
    deterministic across engines."""
    from rdf_mapper_spark.ops.text import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=_TFIDF_K,
                           max_df_frac=_TFIDF_MAX_DF)


def _oracle_tfidf_terms() -> str:
    toks = ("list_filter(regexp_split_to_array(lower(text), "
            "'[^\\p{L}\\p{N}]+'), x -> x <> '')")
    return f"""
WITH n AS (SELECT COUNT(*) n_docs FROM documents),
toks AS (SELECT doc_id id, unnest({toks}) t FROM documents),
tf AS (SELECT id, t, COUNT(*) tf FROM toks GROUP BY id, t),
dft AS (SELECT t, COUNT(*) df FROM tf GROUP BY t),
live AS (SELECT t, df FROM dft CROSS JOIN n
         WHERE df <= CAST({_TFIDF_MAX_DF} * n_docs AS BIGINT)),
scored AS (SELECT id, t term,
           ROUND(tf * ln(n.n_docs * 1.0 / df), 4) score
           FROM tf JOIN live USING (t) CROSS JOIN n),
rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
        ORDER BY score DESC, term ASC) rank FROM scored)
SELECT id AS doc_id, rank, term, score FROM rk WHERE rank <= {_TFIDF_K}
"""


def q_lm_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (ops/lm.py, the CCNet-shaped signal):
    corpus-derived vocabulary capped at top-20 (small enough that the
    OOV floor path is exercised on this corpus), mean ln p(token) per
    doc.  The capped vocab BROADCASTS to the scoring join, so hot tokens
    never shuffle — the token-keyed-join skew trap is avoided by
    construction."""
    from rdf_mapper_spark.ops.lm import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"),
                           top_k=_LM_TOP_K)


def _oracle_lm_logprob() -> str:
    toks = ("list_filter(regexp_split_to_array(lower(text), "
            "'[^\\p{L}\\p{N}]+'), x -> x <> '')")
    return f"""
WITH toks AS (SELECT doc_id, unnest({toks}) t FROM documents),
counts AS (SELECT t, COUNT(*) c FROM toks GROUP BY t),
tot AS (SELECT CAST(SUM(c) AS BIGINT) total FROM counts),
top AS (SELECT t, c FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY c DESC, t ASC) rk FROM counts)
  WHERE rk <= {_LM_TOP_K}),
lp AS (SELECT doc_id, ln(COALESCE(top.c, 1) * 1.0 / tot.total) lp
       FROM toks LEFT JOIN top USING (t) CROSS JOIN tot)
SELECT doc_id, COUNT(*) AS n_tok, ROUND(AVG(lp), 4) AS avg_logp
FROM lp GROUP BY doc_id
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (ops/text.redact_pii): deterministic PII lacing per doc
    (email always; phone/ipv4/ssn on modular buckets), then the ordered
    regexp redaction chain + per-kind counts.  The order is load-bearing
    (emails before phones — an email's digit runs must not count as a
    phone; ipv4 before phone — dotted quads match the phone shape) and
    the whole stage is one codegen projection, zero Python, zero
    shuffle."""
    from rdf_mapper_spark.ops.text import scrub_documents

    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    laced = F.concat(
        F.col("text"),
        F.lit(" contact user"), doc_id.cast("string"),
        F.lit("@example.com"),
        F.when(doc_id % 2 == 0,
               F.concat(F.lit(" call 415-555-"),
                        F.lpad((doc_id % 10000).cast("string"), 4, "0")))
        .otherwise(F.lit("")),
        F.when(doc_id % 3 == 0,
               F.concat(F.lit(" from 10.0."),
                        (doc_id % 256).cast("string"), F.lit(".1")))
        .otherwise(F.lit("")),
        F.when(doc_id % 5 == 0, F.lit(" ssn 123-45-6789"))
        .otherwise(F.lit("")),
    )
    return scrub_documents(d.select("doc_id", laced.alias("text")))


def _oracle_pii_scrub() -> str:
    from rdf_mapper_spark.ops.text import PII_ORDER, PII_PATTERNS

    lace = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com' || "
        "CASE WHEN doc_id % 2 = 0 THEN ' call 415-555-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END || "
        "CASE WHEN doc_id % 3 = 0 THEN ' from 10.0.' || "
        "CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END || "
        "CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END"
    )
    ctes = [f"t0 AS (SELECT doc_id, {lace} AS s FROM documents)"]
    counts = []
    for i, kind in enumerate(PII_ORDER):
        pat = PII_PATTERNS[kind].replace("'", "''")
        ctes.append(
            f"t{i + 1} AS (SELECT doc_id, "
            f"regexp_replace(s, '{pat}', '<{kind.upper()}>', 'g') AS s, "
            f"len(regexp_extract_all(s, '{pat}')) AS n_{kind}"
            + "".join(f", n_{k}" for k in PII_ORDER[:i])
            + f" FROM t{i})"
        )
        counts.append(f"n_{kind}")
    n = len(PII_ORDER)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, s AS clean_text, {', '.join(counts)} FROM t{n}"
    )


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.ops.text import analyze_documents

    return analyze_documents(_t(spark, sf_dir, "documents"))


def _oracle_text_analysis() -> str:
    from rdf_mapper_spark.ops.text import STOPWORDS, TRIGRAMS

    def lst(xs):
        return "[" + ",".join(f"'{x}'" for x in xs) + "]"

    votes = ", ".join(
        f"len(list_filter(toks, t -> list_contains({lst(ws)}, t))) {l}_c"
        for l, ws in STOPWORDS.items()
    )
    gvotes = ", ".join(
        f"len(list_filter(grams, g -> list_contains({lst(tg)}, g))) {l}_g"
        for l, tg in TRIGRAMS.items()
    )
    argmax = (
        "CASE WHEN greatest(en_{s}, fr_{s}, de_{s}) = 0 THEN 'und' "
        "WHEN de_{s} > (CASE WHEN fr_{s} > en_{s} THEN fr_{s} ELSE en_{s} "
        "END) THEN 'de' WHEN fr_{s} > en_{s} THEN 'fr' ELSE 'en' END"
    )
    return f"""
WITH t AS (SELECT doc_id, text, string_split(text,' ') toks,
  list_transform(generate_series(1, greatest(length(lower(text)) - 2, 0)),
                 i -> substr(lower(text), i, 3)) grams
  FROM documents),
v AS (SELECT doc_id, text, toks, {votes}, {gvotes} FROM t),
q AS (SELECT *,
  len(toks) n_tok,
  length(text) n,
  length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) alpha,
  length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) punct,
  len(list_filter(toks, t -> list_contains(
      {lst(STOPWORDS["en"])}, t))) sw_en,
  list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) mean_wl
  FROM v)
SELECT doc_id,
  n_tok AS n_tokens,
  len(regexp_extract_all(text,
      '''(?:s|t|re|ve|m|ll|d)| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+'
  )) AS n_tokens_bpe,
  {argmax.format(s="c")} AS lang_guess,
  {argmax.format(s="g")} AS lang_guess_ngram,
  ROUND((
    (CASE WHEN n_tok >= 20 AND n_tok <= 100000 THEN 1.0
          WHEN n_tok >= 5 THEN 0.5 ELSE 0.0 END)
    + (CASE WHEN n > 0 THEN alpha * 1.0 / n ELSE 0.0 END)
    + (CASE WHEN mean_wl >= 3.0 AND mean_wl <= 12.0 THEN 1.0 ELSE 0.3 END)
  ) / 3.0, 4) AS quality,
  ROUND(CASE WHEN n_tok > 0 THEN sw_en * 1.0 / n_tok ELSE 0.0 END, 4)
    AS stopword_ratio_en,
  ROUND(CASE WHEN n > 0 THEN punct * 1.0 / n ELSE 0.0 END, 4)
    AS punct_ratio,
  md5(array_to_string(toks, ' ')) AS fp
FROM q
"""


_WINNOW_K = 5
_WINNOW_W = 4


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash window) fingerprints, exploded to scalar
    (doc_id, fp) rows — any shared >= k+w-1-token run between documents
    yields a shared fp (plagiarism/near-dup passage detection)."""
    from rdf_mapper_spark.ops.text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode(winnow_fingerprints(
            F.col("text"), k=_WINNOW_K, w=_WINNOW_W)).alias("fp"),
    )


def _oracle_text_winnow() -> str:
    k, w = _WINNOW_K, _WINNOW_W
    return f"""
WITH t AS (SELECT doc_id id, string_split(text, ' ') toks FROM documents),
g AS (SELECT id, list_transform(
        generate_series(1, greatest(len(toks) - {k - 1}, 0)),
        i -> array_to_string(toks[i:i+{k - 1}], ' ')) grams FROM t),
h AS (SELECT id, list_transform(
        grams, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) hs FROM g),
wn AS (SELECT id, list_distinct(list_transform(
        generate_series(1, greatest(len(hs) - {w - 1}, 1)),
        i -> list_min(hs[i:i+{w - 1}]))) fps
       FROM h WHERE len(hs) > 0)
SELECT id doc_id, unnest(fps) fp FROM wn
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via mapInPandas with REAL pure-
    Python decoders (ops/multimodal.py): P6 PPM images are header-parsed
    to (w, h, rgb), WAV audio is read through the stdlib wave module to
    int16 samples; video stays a declared stub (byte stats of the
    encoded stream).  Features are integer-valued (dims, sums, extrema,
    crossings) so float32 holds them exactly and DuckDB recomputes the
    whole construction — container framing included — from md5(text)
    tiling.  The raw array<float> is not canonicalizable by the harness
    (lists are unhashable in the pandas sort), so the query projects the
    comma-joined integer fingerprint."""
    from rdf_mapper_spark.ops.multimodal import extract_features, synth_media

    media = synth_media(_t(spark, sf_dir, "documents"))
    feats = extract_features(media)
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.concat_ws(
            ",",
            F.transform("feature",
                        lambda x: x.cast("double").cast("long")
                        .cast("string")),
        ).alias("feature_fp"),
    )


def _oracle_multimodal_features() -> str:
    """Mirrors synth_media's payload construction (md5(text) digest tiled
    into a P6 PPM / 16-bit WAV / raw stream) and the decoder's integer
    feature vectors, all in closed form over the 16 digest bytes."""
    hexpos = "strpos('0123456789abcdef', {c}) - 1"
    hi = hexpos.format(c="substr(hx, 2*i + 1, 1)")
    lo = hexpos.format(c="substr(hx, 2*i + 2, 1)")
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image'
                         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         doc_id % 32 + 16 AS w,
         (n_chars % 50 + 10) * 8 AS ns,
         n_chars % 200 + 16 AS vlen,
         list_transform(generate_series(0, 15),
           i -> ({hi}) * 16 + ({lo})) AS b
  FROM documents,
       LATERAL (SELECT md5(text) AS hx) h),
-- int16 samples from consecutive little-endian byte pairs of the digest
au AS (
  SELECT media_id,
         list_transform(generate_series(0, 7),
           j -> CASE WHEN b[2*j+1] + 256 * b[2*j+2] > 32767
                     THEN b[2*j+1] + 256 * b[2*j+2] - 65536
                     ELSE b[2*j+1] + 256 * b[2*j+2] END) AS s
  FROM m WHERE kind = 'audio'),
feat AS (
  SELECT m.media_id, m.kind,
    CASE m.kind
      WHEN 'image' THEN 12 + w * 24
      WHEN 'audio' THEN 44 + 2 * ns
      ELSE vlen END AS n_bytes,
    CASE m.kind
      WHEN 'image' THEN [
        w, 8, w * 8,
        (w * 24 // 16) * list_sum(b) +
          coalesce(list_sum(b[1:(w * 24 % 16)]), 0),
        list_min(b), list_max(b), b[1], b[((w * 24 - 1) % 16) + 1]]
      WHEN 'audio' THEN [
        ns,
        (ns // 8) * list_sum(list_transform(s, x -> abs(x))),
        list_min(s), list_max(s),
        (ns // 8) * len(list_filter(generate_series(2, 8),
                                    j -> s[j-1] * s[j] < 0)) +
          (ns // 8 - 1) * (CASE WHEN s[8] * s[1] < 0 THEN 1 ELSE 0 END),
        (ns // 8) * len(list_filter(s, x -> x > 0)),
        s[1], s[8]]
      ELSE [
        vlen,
        (vlen // 16) * list_sum(b) +
          coalesce(list_sum(b[1:(vlen % 16)]), 0),
        list_min(b), list_max(b), b[1], b[((vlen - 1) % 16) + 1],
        0, 0] END AS fv
  FROM m LEFT JOIN au ON m.media_id = au.media_id)
SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
       array_to_string(list_transform(fv, x -> CAST(x AS VARCHAR)),
                       ',') AS feature_fp
FROM feat
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdf_mapper_spark.ops.multimodal import frame_sample_plan, synth_media

    media = synth_media(_t(spark, sf_dir, "documents"))
    return frame_sample_plan(media, every_ms=1000)


def _oracle_multimodal_frames() -> str:
    return """
SELECT doc_id AS media_id, frame_ms
FROM documents,
     unnest(generate_series(0, greatest(n_chars*10 - 1, 0), 1000))
       AS f(frame_ms)
WHERE doc_id % 3 = 2
"""


# ---------------------------------------------------------------------------
# Corpus quality filter / canonical URLs / incremental KG delta
# ---------------------------------------------------------------------------
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style keep/drop verdict per document with canonical reason
    labels (rule set: ops/text.py quality_reasons). The stopword rule
    routes per row by the document's lang column (known lists en/fr/de,
    fallback en). Pure projection — at corpus scale this is a map-only
    stage the scan absorbs."""
    from rdf_mapper_spark.ops.text import filter_documents

    return filter_documents(_t(spark, sf_dir, "documents"),
                            lang_col="lang")


def _oracle_quality_filter() -> str:
    from rdf_mapper_spark.ops.text import STOPWORDS

    def lst(xs):
        return "[" + ",".join(f"'{x}'" for x in xs) + "]"

    # per-row language routing: known lists en/fr/de, fallback en
    sw_routed = (
        "CASE WHEN lang = 'fr' THEN len(list_filter(toks, "
        f"t -> list_contains({lst(STOPWORDS['fr'])}, t))) "
        "WHEN lang = 'de' THEN len(list_filter(toks, "
        f"t -> list_contains({lst(STOPWORDS['de'])}, t))) "
        "ELSE len(list_filter(toks, "
        f"t -> list_contains({lst(STOPWORDS['en'])}, t))) END"
    )
    # regex tokenizer mirrors ops/text.tokens_col exactly (split on
    # non-letter/digit runs after lowercasing) — a space-split oracle
    # diverges as soon as text carries emails/punctuation (the
    # corpus_curation laced input exposed this)
    return f"""
WITH t AS (SELECT doc_id, text, lang,
  list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+'),
              x -> x <> '') toks
  FROM documents),
m AS (SELECT doc_id,
  len(toks) n_tok,
  length(text) n,
  length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) alpha,
  length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s]', '', 'g')) punct,
  {sw_routed} sw_en,
  list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks) mean_wl
  FROM t),
r AS (SELECT doc_id, CASE WHEN n IS NULL OR n = 0 THEN 'null_text'
  ELSE COALESCE(array_to_string(list_filter([
    CASE WHEN punct * 1.0 / n > 0.10 THEN 'high_punct' END,
    CASE WHEN alpha * 1.0 / n < 0.80 THEN 'low_alpha' END,
    CASE WHEN sw_en * 1.0 / n_tok < 0.03 THEN 'low_stopword' END,
    CASE WHEN n_tok > 100000 THEN 'too_long' END,
    CASE WHEN n_tok < 20 THEN 'too_short' END,
    CASE WHEN mean_wl < 3.0 OR mean_wl > 12.0 THEN 'word_len' END
  ], x -> x IS NOT NULL), ','), '') END reasons FROM m)
SELECT doc_id, reasons = '' AS keep, reasons FROM r
"""


def q_web_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup: synthesize a deterministic messy URL per doc
    (case-variant host, default port, duplicate slashes, tracking params,
    unsorted query, fragment), normalize it (ops/web.py rules), and count
    pages per canonical form. The normalization is a pure projection; the
    groupBy is the only shuffle and its key is the canonical URL —
    uniformly distributed at crawl scale."""
    from rdf_mapper_spark.ops.web import normalize_url

    d = _t(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    raw = F.concat(
        F.lit("HTTP"),
        F.when(doc_id % 2 == 0, F.lit("S")).otherwise(F.lit("")),
        F.lit("://WWW.Site"), (doc_id % 5).cast("string"),
        F.when(doc_id % 2 == 0, F.lit(".ORG:443")).otherwise(F.lit(".COM:80")),
        F.lit("/a//b/"), (doc_id % 3).cast("string"),
        F.when(doc_id % 3 == 0, F.lit("/?utm_source=x&b=2&a=1&fbclid=f"))
        .when(doc_id % 3 == 1, F.lit("?z=9&y=2&a=1"))
        .otherwise(F.lit("")),
        F.when(doc_id % 4 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return (
        d.select(doc_id.alias("doc_id"), normalize_url(raw).alias("url"))
        .groupBy("url")
        .agg(F.count("*").alias("n_pages"), F.min("doc_id").alias("first_doc"))
    )


def _oracle_web_canonical_urls() -> str:
    return r"""
WITH u AS (SELECT doc_id,
  'HTTP' || CASE WHEN doc_id % 2 = 0 THEN 'S' ELSE '' END || '://WWW.Site' ||
  CAST(doc_id % 5 AS VARCHAR) ||
  CASE WHEN doc_id % 2 = 0 THEN '.ORG:443' ELSE '.COM:80' END ||
  '/a//b/' || CAST(doc_id % 3 AS VARCHAR) ||
  CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=x&b=2&a=1&fbclid=f'
       WHEN doc_id % 3 = 1 THEN '?z=9&y=2&a=1' ELSE '' END ||
  CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END AS raw
  FROM documents),
p1 AS (SELECT doc_id,
  lower(regexp_extract(regexp_replace(raw, '#.*', ''),
                       '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) scheme,
  regexp_replace(regexp_replace(raw, '#.*', ''),
                 '^[A-Za-z][A-Za-z0-9+.-]*://', '') rest FROM u),
p2 AS (SELECT doc_id, scheme,
  lower(regexp_extract(rest, '^([^/?]*)', 1)) hostport,
  regexp_replace(rest, '^[^/?]*', '') pathq FROM p1),
p3 AS (SELECT doc_id, scheme,
  CASE WHEN scheme = 'http' AND hostport LIKE '%:80'
       THEN substr(hostport, 1, length(hostport) - 3)
       WHEN scheme = 'https' AND hostport LIKE '%:443'
       THEN substr(hostport, 1, length(hostport) - 4)
       ELSE hostport END host,
  CASE WHEN regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
                           '/{2,}', '/', 'g') = '' THEN '/'
       ELSE regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
                           '/{2,}', '/', 'g') END path,
  CASE WHEN contains(pathq, '?')
       THEN regexp_replace(pathq, '^[^?]*\?', '') ELSE '' END query
  FROM p2),
p4 AS (SELECT doc_id, scheme, host, path,
  COALESCE(array_to_string(list_sort(list_filter(string_split(query, '&'),
    x -> x <> '' AND NOT regexp_matches(x,
      '^(utm_[^=]*|fbclid|gclid|msclkid|mc_cid|mc_eid|ref)='))), '&'),
    '') qnorm
  FROM p3)
SELECT scheme || '://' || host || path ||
       CASE WHEN qnorm = '' THEN '' ELSE '?' || qnorm END AS url,
       CAST(COUNT(*) AS BIGINT) AS n_pages,
       MIN(doc_id) AS first_doc
FROM p4 GROUP BY 1
"""


def q_kg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG maintenance: quad-set delta between two crawl
    snapshots in ONE shuffle (pipeline/incremental.py quad_delta).

    Snapshots are derived deterministically from `documents`: the new
    crawl drops doc_id % 10 == 3 (pages gone from the crawl) and changes
    the text of doc_id % 7 == 2 (re-crawled content). Each snapshot emits
    (doc -> textHash, doc -> language) triples; the delta is the SPARQL
    update payload (add/delete) the sinks would ship — the reference
    instead drops + rebuilds whole graphs per run
    (/root/reference/src/rdf_mapper/lib/template_processor.py:72-97),
    which cannot work at 10^12 documents."""
    from rdf_mapper_spark.pipeline.incremental import quad_delta

    d = _t(spark, sf_dir, "documents")
    subj = F.concat(F.lit(f"{KGB}/data/document/"),
                    F.col("doc_id").cast("string"))

    def snapshot(docs: DataFrame, text_col: str) -> DataFrame:
        # both predicates from ONE scan (explode of a 2-struct array), not
        # a union of per-predicate selects — at snapshot scale each union
        # branch is a full pass over the pages table
        po = F.explode(F.array(
            F.struct(F.lit(f"{KGB}/def/textHash").alias("p"),
                     F.md5(F.col(text_col)).alias("o")),
            F.struct(F.lit(f"{KGB}/def/language").alias("p"),
                     F.col("lang").alias("o")),
        )).alias("po")
        return docs.select(subj.alias("s"), po).select(
            F.lit(None).cast("string").alias("g"),
            F.lit("iri").alias("sk"),
            "s",
            F.col("po.p").alias("p"),
            F.lit("literal").alias("ok"),
            F.col("po.o").alias("o"),
            F.lit(None).cast("string").alias("odt"),
            F.lit(None).cast("string").alias("olg"),
        )

    old = snapshot(d, "text")
    new_docs = d.where(F.col("doc_id") % 10 != 3).withColumn(
        "text2",
        F.when(F.col("doc_id") % 7 == 2,
               F.concat(F.col("text"), F.lit(" updated")))
        .otherwise(F.col("text")),
    )
    new = snapshot(new_docs, "text2")
    return quad_delta(old, new).select("op", "s", "p", "o")


def _oracle_kg_incremental() -> str:
    subj = _doc_subject_sql()
    return f"""
WITH old AS (
  SELECT {subj} s, '{KGB}/def/textHash' p, md5(text) o FROM documents
  UNION ALL
  SELECT {subj}, '{KGB}/def/language', lang FROM documents),
new AS (
  SELECT {subj} s, '{KGB}/def/textHash' p,
         md5(CASE WHEN doc_id % 7 = 2 THEN text || ' updated' ELSE text END) o
  FROM documents WHERE doc_id % 10 <> 3
  UNION ALL
  SELECT {subj}, '{KGB}/def/language', lang
  FROM documents WHERE doc_id % 10 <> 3),
u AS (SELECT s, p, o, 1 src FROM old UNION ALL
      SELECT s, p, o, 2 src FROM new),
d AS (SELECT s, p, o, bool_or(src = 1) in_old, bool_or(src = 2) in_new
      FROM u GROUP BY s, p, o)
SELECT CASE WHEN in_new THEN 'add' ELSE 'delete' END op, s, p, o
FROM d WHERE in_old <> in_new
"""


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level near-dup pairs by shared winnowing fingerprints
    (ops/dedup.winnow_pairs): documents sharing >= 2 fps, ranked by
    overlap count. Exact (no df cap) so DuckDB mirrors it; production
    sets max_df to bound boilerplate-fp skew."""
    from rdf_mapper_spark.ops.dedup import winnow_pairs

    return winnow_pairs(_t(spark, sf_dir, "documents"),
                        min_shared=2, k=_WINNOW_K, w=_WINNOW_W)


def _oracle_winnow_pairs() -> str:
    # same winnow CTE as _oracle_text_winnow, then the inverted-index
    # self-join + pair count
    k, w = _WINNOW_K, _WINNOW_W
    return f"""
WITH t AS (SELECT doc_id id, string_split(text, ' ') toks FROM documents),
g AS (SELECT id, list_transform(
        generate_series(1, greatest(len(toks) - {k - 1}, 0)),
        i -> array_to_string(toks[i:i+{k - 1}], ' ')) grams FROM t),
h AS (SELECT id, list_transform(
        grams, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) hs FROM g),
wn AS (SELECT id, list_distinct(list_transform(
        generate_series(1, greatest(len(hs) - {w - 1}, 1)),
        i -> list_min(hs[i:i+{w - 1}]))) fps
       FROM h WHERE len(hs) > 0),
fp AS (SELECT id, unnest(fps) fp FROM wn)
SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM fp a JOIN fp b ON a.fp = b.fp AND a.id < b.id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (ops/dedup.contaminated_docs): flag corpus
    documents sharing word n-grams with a benchmark slice (doc_id % 97 ==
    0 stands in for an eval set). n=3 on this synthetic corpus so overlap
    is non-trivial; production uses n=8-13 — the operator is
    n-parametric."""
    from rdf_mapper_spark.ops.dedup import contaminated_docs

    d = _t(spark, sf_dir, "documents")
    return contaminated_docs(
        d.where(F.col("doc_id") % 97 != 0),
        d.where(F.col("doc_id") % 97 == 0),
        n=3,
    )


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`decontaminate` through the bloom-prefiltered path
    (ops/dedup.contaminated_docs_bloom): the bitmap's set positions are
    computed by Spark with the exact probe expressions, so there are
    zero false negatives by construction and the verified output is
    bit-identical to the exact path — the SAME oracle checks both.  The
    bloom check runs in the scan projection, shrinking what reaches the
    verify join to true hits + the ~0.5%% false-positive tail."""
    from rdf_mapper_spark.ops.dedup import contaminated_docs_bloom

    d = _t(spark, sf_dir, "documents")
    return contaminated_docs_bloom(
        d.where(F.col("doc_id") % 97 != 0),
        d.where(F.col("doc_id") % 97 == 0),
        n=3,
    )


def _oracle_decontaminate() -> str:
    return """
WITH d AS (SELECT doc_id, string_split(text,' ') toks FROM documents),
g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') gram
      FROM d, unnest(generate_series(1, greatest(len(toks)-2, 0))) t(i)),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
FROM g JOIN bench USING (gram)
WHERE g.doc_id % 97 <> 0
GROUP BY 1
"""


def q_kg_group_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GROUP BY/HAVING over BGP solutions (query.bgp_aggregate):
    per-source document count + total chars from the flagship graph —
    one keyed aggregation with map-side partials after the pattern
    joins."""
    from rdf_mapper_spark.query import bgp_aggregate

    quads = q_kg_flagship(spark, sf_dir)
    return bgp_aggregate(
        quads,
        [("?d", KGB + "/def/source", "?src"),
         ("?d", KGB + "/def/chars", "?c")],
        group_vars=["?src"],
        aggs={"n_docs": "count(*)",
              "total_chars": "CAST(sum(CAST(c AS BIGINT)) AS BIGINT)"},
        having=["n_docs >= 1"],
    )


def _oracle_kg_group_by() -> str:
    return """
SELECT source AS src, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source HAVING COUNT(*) >= 1
"""


def q_kg_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed SPARQL DELETE/INSERT WHERE (query.update_where): one
    localCheckpointed WHERE match feeds both branches; DELETE is a
    null-safe (g,s,p,o) anti-join, INSERT a union — the post-update
    store of the flagship graph with fr documents' chars redacted."""
    from rdf_mapper_spark.query import update_where

    # dedup=False: update_where's INSERT branch ends in .distinct() over
    # the whole post-update store, which subsumes the engine dedup
    quads = _flagship_quads(spark, sf_dir, dedup=False)
    return update_where(
        quads,
        [("?d", DCT + "language", "fr"),
         ("?d", KGB + "/def/chars", "?c")],
        delete_templates=[("?d", KGB + "/def/chars", "?c")],
        insert_templates=[("?d", KGB + "/def/redacted", "true")],
    )


def _oracle_kg_update() -> str:
    s = _doc_subject_sql()
    null = "CAST(NULL AS VARCHAR)"
    return f"""
WITH base AS (SELECT {s} AS s, lang, source, n_chars FROM documents)
SELECT {null} g, 'iri' sk, s, '{RDF_TYPE}' p,
       'iri' ok, '{KGB}/def/Document' o, {null} odt, {null} olg FROM base
UNION ALL SELECT {null}, 'iri', s, '{DCT}language', 'literal', lang,
       {null}, {null} FROM base
UNION ALL SELECT {null}, 'iri', s, '{KGB}/def/source', 'literal', source,
       {null}, {null} FROM base
UNION ALL SELECT {null}, 'iri', s, '{KGB}/def/chars', 'literal',
       CAST(n_chars AS VARCHAR), '{XSD}integer', {null} FROM base
       WHERE lang <> 'fr'
UNION ALL SELECT {null}, 'iri', s, '{KGB}/def/redacted', 'literal',
       'true', {null}, {null} FROM base WHERE lang = 'fr'
"""


def q_kg_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE (query.describe): the full quad neighborhood of
    a BGP-selected subject set (en docs from source src2) — two equi
    semi-joins (subject + inbound IRI object) unioned, never an
    OR-condition nested loop."""
    from rdf_mapper_spark.query import bgp_query, describe

    quads = q_kg_flagship(spark, sf_dir)
    subs = bgp_query(quads, [
        ("?d", DCT + "language", "en"),
        ("?d", KGB + "/def/source", "src2"),
    ]).select("d")
    return describe(quads, subs)


def _oracle_kg_describe() -> str:
    s = _doc_subject_sql()
    null = "CAST(NULL AS VARCHAR)"
    return f"""
WITH base AS (SELECT {s} AS s, lang, source, n_chars FROM documents
              WHERE lang = 'en' AND source = 'src2')
SELECT {null} g, 'iri' sk, s, '{RDF_TYPE}' p,
       'iri' ok, '{KGB}/def/Document' o, {null} odt, {null} olg FROM base
UNION ALL SELECT {null}, 'iri', s, '{DCT}language', 'literal', lang,
       {null}, {null} FROM base
UNION ALL SELECT {null}, 'iri', s, '{KGB}/def/source', 'literal', source,
       {null}, {null} FROM base
UNION ALL SELECT {null}, 'iri', s, '{KGB}/def/chars', 'literal',
       CAST(n_chars AS VARCHAR), '{XSD}integer', {null} FROM base
"""


def q_kg_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT (query.construct): graph-to-graph rewriting —
    match the en-document star, emit a derived membership graph
    (partOf/hasMember/sourceLabel) in quad schema, ready for sinks and
    the quad store.  One BGP join + a union of template projections;
    no Python, no interpreter."""
    from rdf_mapper_spark.query import construct

    # dedup=False: CONSTRUCT's instantiate() ends in .distinct(), so the
    # engine's set-dedup shuffle under each pattern is redundant
    quads = _flagship_quads(spark, sf_dir, dedup=False)
    corpus = KGB + "/data/corpus/en"
    return construct(
        quads,
        [("?d", RDF_TYPE, KGB + "/def/Document"),
         ("?d", DCT + "language", "en"),
         ("?d", KGB + "/def/source", "?src")],
        [("?d", KGB + "/def/partOf", corpus),
         (corpus, KGB + "/def/hasMember", "?d"),
         ("?d", KGB + "/def/sourceLabel", "?src")],
    )


def _oracle_kg_construct() -> str:
    s = _doc_subject_sql()
    corpus = KGB + "/data/corpus/en"
    null = "CAST(NULL AS VARCHAR)"
    return f"""
WITH en AS (SELECT {s} AS d, source FROM documents WHERE lang = 'en')
SELECT {null} g, 'iri' sk, d s, '{KGB}/def/partOf' p, 'iri' ok,
       '{corpus}' o, {null} odt, {null} olg FROM en
UNION
SELECT {null}, 'iri', '{corpus}', '{KGB}/def/hasMember', 'iri', d,
       {null}, {null} FROM en
UNION
SELECT {null}, 'iri', d, '{KGB}/def/sourceLabel', 'literal', source,
       {null}, {null} FROM en
"""


_SEM_CELLS = 8


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (ops/dedup.semantic_dedup): frozen
    coarse-quantizer cells (same argmax-dot codebook as the IVF index),
    exact cosine WITHIN cells only, pairs clustered to components, min
    id survives.  Candidate volume sum(cell^2)/2 instead of n^2/2; the
    self-join shuffles on the cell id only."""
    from rdf_mapper_spark.ops.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=_EMB_THRESHOLD,
                          n_cells=_SEM_CELLS, seed=7, dim=_EMB_DIM)


def _oracle_semantic_dedup() -> str:
    from rdf_mapper_spark.ops.similarity import centroids

    cells = centroids(_EMB_DIM, _SEM_CELLS, 7)
    dots = ("[" + ", ".join(
        "list_inner_product(v, [" + ", ".join(repr(x) for x in c) + "])"
        for c in cells
    ) + "]")
    cos = ("list_inner_product(a.v, b.v) / "
           "(sqrt(list_inner_product(a.v, a.v)) * "
           "sqrt(list_inner_product(b.v, b.v)))")
    return f"""
WITH RECURSIVE t AS (SELECT vec_id id, embedding::DOUBLE[] v
                     FROM embeddings),
d AS (SELECT id, v, {dots} dots FROM t),
e AS (SELECT id, v, list_position(dots, list_max(dots)) cell FROM d),
pairs AS (SELECT a.id id_a, b.id id_b FROM e a JOIN e b ON a.cell = b.cell
          WHERE a.id < b.id AND ROUND({cos}, 4) >= {_EMB_THRESHOLD}),
edges AS (SELECT id_a src, id_b dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT id, id FROM t
  UNION
  SELECT e2.src, reach.r FROM edges e2 JOIN reach ON reach.id = e2.dst
)
SELECT id AS vec_id, MIN(r) AS canonical_id, MIN(r) = id AS keep
FROM reach GROUP BY id
"""


# ---------------------------------------------------------------------------
# Inference layer: RDFS materialization + owl:sameAs smushing
# ---------------------------------------------------------------------------
_TIER = KGB + "/def/Tier"
_P_SPEC = KGB + "/def/localPred"
_P_GEN = KGB + "/def/broadPred"
_CUST_IRI = KGB + "/data/customer/"
_NATION_IRI = KGB + "/data/nation/"
_QUAD_SCHEMA = ("g string, sk string, s string, p string, ok string, "
                "o string, odt string, olg string")


def _inference_tbox_rows() -> list[tuple]:
    """The fixture ontology as driver rows (shared by the fixture frame
    and the precomputed-tbox fast path of q_kg_rdfs_inference)."""
    from rdf_mapper_spark.inference import DOMAIN, RANGE, SUBCLASS, SUBPROP

    return (
        [(None, "iri", f"{_TIER}{i}", SUBCLASS, "iri", f"{_TIER}{i + 1}",
          None, None) for i in range(9)]
        + [(None, "iri", _P_SPEC, SUBPROP, "iri", _P_GEN, None, None),
           (None, "iri", _P_SPEC, DOMAIN, "iri", _TIER + "0", None, None),
           (None, "iri", _P_SPEC, RANGE, "iri", _TIER + "5", None, None)]
    )


def _inference_fixture_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TBox + customer-derived ABox for the inference
    queries: a 10-deep class chain Tier0 subClassOf ... Tier9, a
    2-level property hierarchy with domain/range, customers typed by
    custkey % 10, and localPred links to nations for custkey % 4 == 0."""
    null = F.lit(None).cast("string")
    from rdf_mapper_spark.localrel import local_df

    # pure-JVM literal relation, ONE partition: createDataFrame would
    # spread the dozen rows over defaultParallelism Python-pickled
    # splits, re-scanned (with a Python worker round-trip each) by every
    # rule branch of rdfs_materialize
    tbox = local_df(spark, _inference_tbox_rows(), _QUAD_SCHEMA)
    cust = _t(spark, sf_dir, "customer")
    types = cust.select(
        null.alias("g"), F.lit("iri").alias("sk"),
        F.concat(F.lit(_CUST_IRI), F.col("c_custkey")).alias("s"),
        F.lit(RDF_TYPE).alias("p"), F.lit("iri").alias("ok"),
        F.concat(F.lit(_TIER), F.col("c_custkey") % 10).alias("o"),
        null.alias("odt"), null.alias("olg"))
    rels = cust.where(F.col("c_custkey") % 4 == 0).select(
        null.alias("g"), F.lit("iri").alias("sk"),
        F.concat(F.lit(_CUST_IRI), F.col("c_custkey")).alias("s"),
        F.lit(_P_SPEC).alias("p"), F.lit("iri").alias("ok"),
        F.concat(F.lit(_NATION_IRI), F.col("c_nationkey")).alias("o"),
        null.alias("odt"), null.alias("olg"))
    return tbox.unionByName(types).unionByName(rels)


def q_kg_rdfs_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS forward-chaining (rdf_mapper_spark/inference.py): the
    rho-df rule set (subClassOf/subPropertyOf transitivity, rdfs7
    property lift, rdfs2/3 domain-range typing, rdfs9 type
    inheritance) materialized over a 10-deep class chain and a
    customer-derived ABox.  TBox closures are computed on the DRIVER
    (ontologies are dictionary-sized) and every rule is ONE broadcast
    join over the fact stream — no ABox shuffle before the final
    set-dedup.  The reference performs no entailment; this is the
    enrichment pass a KG-construction pipeline runs after triple
    emission."""
    from rdf_mapper_spark.inference import rdfs_materialize

    quads = _inference_fixture_quads(spark, sf_dir)
    # materialize: the fixture ABox is a computed union re-scanned by
    # every rule branch; one eager checkpoint of ~20k quads beats ~6
    # re-derivations (measured 12 s -> ~4 s at sf0.1).
    # tbox: the fixture ontology is built from driver rows above, so the
    # collect job extract_tbox would run over the checkpoint is pure
    # waste — pass the same pairs directly
    tbox = {}
    for _g, _sk, s, p, _ok, o, _odt, _olg in _inference_tbox_rows():
        tbox.setdefault(p, []).append((s, o))
    return rdfs_materialize(quads, materialize=True,
                            tbox=tbox).select("s", "p", "o")


def _oracle_kg_rdfs_inference() -> str:
    from rdf_mapper_spark.inference import DOMAIN, RANGE, SUBCLASS, SUBPROP
    tier = f"'{_TIER}' || CAST(i AS VARCHAR)"
    tier_j = f"'{_TIER}' || CAST(j AS VARCHAR)"
    return f"""
WITH tiers AS (SELECT i FROM generate_series(0, 9) t(i)),
cust AS (SELECT c_custkey AS k, c_nationkey AS n FROM customer),
rel AS (SELECT * FROM cust WHERE k % 4 = 0)
-- asserted chain + rdfs11 closure (total order => all i < j pairs)
SELECT {tier} AS s, '{SUBCLASS}' AS p, {tier_j} AS o
FROM (SELECT a.i AS i, b.i AS j FROM tiers a, tiers b WHERE b.i > a.i)
UNION
SELECT '{_P_SPEC}', '{SUBPROP}', '{_P_GEN}'
UNION SELECT '{_P_SPEC}', '{DOMAIN}', '{_TIER}0'
UNION SELECT '{_P_SPEC}', '{RANGE}', '{_TIER}5'
-- asserted + rdfs9-inherited customer types
UNION
SELECT '{_CUST_IRI}' || CAST(k AS VARCHAR), '{RDF_TYPE}',
       '{_TIER}' || CAST(j.i AS VARCHAR)
FROM cust, tiers j WHERE j.i >= k % 10
-- rdfs2: domain types every localPred subject as Tier0..Tier9
UNION
SELECT '{_CUST_IRI}' || CAST(k AS VARCHAR), '{RDF_TYPE}',
       '{_TIER}' || CAST(j.i AS VARCHAR)
FROM rel, tiers j
-- rdfs3: range types every localPred object as Tier5..Tier9
UNION
SELECT DISTINCT '{_NATION_IRI}' || CAST(n AS VARCHAR), '{RDF_TYPE}',
       '{_TIER}' || CAST(j.i AS VARCHAR)
FROM rel, tiers j WHERE j.i >= 5
-- asserted links + rdfs7 lift to the super-property
UNION
SELECT '{_CUST_IRI}' || CAST(k AS VARCHAR), '{_P_SPEC}',
       '{_NATION_IRI}' || CAST(n AS VARCHAR) FROM rel
UNION
SELECT '{_CUST_IRI}' || CAST(k AS VARCHAR), '{_P_GEN}',
       '{_NATION_IRI}' || CAST(n AS VARCHAR) FROM rel
"""


def q_kg_sameas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:sameAs smushing (inference.sameas_resolve): alias chains
    dup2/k -> dup/k -> cust/k collapse to the lexicographic-min
    canonical IRI via connected components (hybrid driver union-find /
    distributed min-label, pipeline/canonicalize.py); subjects AND
    IRI objects rewrite through the broadcast (node -> canonical)
    mapping — two map-side passes over the quad stream, literals
    untouched, link triples dropped."""
    from rdf_mapper_spark.inference import OWL_SAMEAS, sameas_resolve

    null = F.lit(None).cast("string")
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    a_iri = F.concat(F.lit(KGB + "/data/cust/"), k)
    b_iri = F.concat(F.lit(KGB + "/data/dup/"), k)
    c_iri = F.concat(F.lit(KGB + "/data/dup2/"), k)

    def quad(s, p, o, ok):
        return [null.alias("g"), F.lit("iri").alias("sk"), s.alias("s"),
                F.lit(p).alias("p"), F.lit(ok).alias("ok"), o.alias("o"),
                null.alias("odt"), null.alias("olg")]

    links = cust.where(k % 3 == 0).select(
        *quad(b_iri, OWL_SAMEAS, a_iri, "iri"))
    links2 = cust.where(k % 6 == 0).select(
        *quad(c_iri, OWL_SAMEAS, b_iri, "iri"))
    # data triples hang off the most-aliased name for each entity
    subj = F.when(k % 6 == 0, c_iri).when(k % 3 == 0, b_iri).otherwise(a_iri)
    names = cust.select(
        *quad(subj, KGB + "/def/name", F.col("c_name"), "literal"))
    members = cust.where(k % 3 == 0).select(
        *quad(F.concat(F.lit(_NATION_IRI), F.col("c_nationkey")),
              KGB + "/def/member", b_iri, "iri"))
    quads = links.unionByName(links2).unionByName(names) \
        .unionByName(members)
    return sameas_resolve(quads).select("s", "p", "o")


def _oracle_kg_sameas() -> str:
    cust_iri = f"'{KGB}/data/cust/' || CAST(c_custkey AS VARCHAR)"
    return f"""
SELECT {cust_iri} AS s, '{KGB}/def/name' AS p, c_name AS o FROM customer
UNION
SELECT '{_NATION_IRI}' || CAST(c_nationkey AS VARCHAR),
       '{KGB}/def/member', {cust_iri}
FROM customer WHERE c_custkey % 3 = 0
"""


def q_kg_bgp_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIONAL + FILTER in the BGP compiler (query.bgp_query): the
    required star matches every Document, the OPTIONAL group
    left-joins a 'flag' property emitted only for n_chars >= 500 docs
    (unmatched solutions keep NULL bindings), and a FILTER prunes one
    source — SPARQL's left-join semantics as a Catalyst left join on
    the shared subject variable."""
    from rdf_mapper_spark.query import bgp_query

    null = F.lit(None).cast("string")
    docs = _t(spark, sf_dir, "documents")
    flag = docs.where(F.col("n_chars") >= 500).select(
        null.alias("g"), F.lit("iri").alias("sk"),
        F.concat(F.lit(KGB + "/data/document/"),
                 F.col("doc_id")).alias("s"),
        F.lit(KGB + "/def/flag").alias("p"),
        F.lit("literal").alias("ok"), F.lit("big").alias("o"),
        null.alias("odt"), null.alias("olg"))
    # dedup=False: the trailing SELECT DISTINCT dedups solutions, so
    # input quad multiplicity cannot change the result set
    quads = _flagship_quads(spark, sf_dir, dedup=False).unionByName(flag)
    return bgp_query(
        quads,
        [("?d", RDF_TYPE, KGB + "/def/Document"),
         ("?d", KGB + "/def/source", "?src")],
        optional_patterns=[[("?d", KGB + "/def/flag", "?f")]],
        filters=["src <> 'src1'"],
    ).select("d", "src", "f")


def _oracle_kg_bgp_optional() -> str:
    return f"""
SELECT DISTINCT {_doc_subject_sql()} AS d, source AS src,
       CASE WHEN n_chars >= 500 THEN 'big' END AS f
FROM documents WHERE source <> 'src1'
"""


def q_kg_bgp_values_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUES + BIND in the BGP compiler (query.bgp_query): an inline
    two-row VALUES block restricts ?src AND carries a fresh ?tier
    binding (SPARQL inline data as an explicitly broadcast join —
    query-sized by definition, never a shuffle), then BIND projects a
    derived column over the bound vars inside whole-stage codegen."""
    from rdf_mapper_spark.query import bgp_query

    # dedup=False: SELECT DISTINCT over the bound vars absorbs input
    # quad multiplicity
    quads = _flagship_quads(spark, sf_dir, dedup=False)
    return bgp_query(
        quads,
        [("?d", RDF_TYPE, KGB + "/def/Document"),
         ("?d", KGB + "/def/source", "?src"),
         ("?d", KGB + "/def/chars", "?n")],
        values={"?src": ["src1", "src2"],
                "?tier": ["gold", "silver"]},
        binds={"?kb": "CAST(FLOOR(CAST(n AS INT) / 1000.0) AS INT)"},
    ).select("d", "src", "tier", "kb")


def _oracle_kg_bgp_values_bind() -> str:
    return f"""
SELECT DISTINCT {_doc_subject_sql()} AS d, source AS src, v.tier AS tier,
       CAST(FLOOR(n_chars / 1000.0) AS INT) AS kb
FROM documents
JOIN (VALUES ('src1', 'gold'), ('src2', 'silver')) AS v(src, tier)
  ON documents.source = v.src
"""


def q_kg_bgp_exists_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER EXISTS / NOT EXISTS + ORDER BY/LIMIT solution modifiers
    (query.bgp_query): EXISTS compiles to a LEFT SEMI join (restricts
    without widening — a doc with many matching quads still yields one
    solution), NOT EXISTS to a LEFT ANTI join, and the deterministic
    top-k runs as TakeOrderedAndProject (per-partition bounded heaps),
    never a global single-partition sort."""
    from rdf_mapper_spark.query import bgp_query

    null = F.lit(None).cast("string")
    docs = _t(spark, sf_dir, "documents")
    flag = docs.where(F.col("n_chars") >= 500).select(
        null.alias("g"), F.lit("iri").alias("sk"),
        F.concat(F.lit(KGB + "/data/document/"),
                 F.col("doc_id")).alias("s"),
        F.lit(KGB + "/def/flag").alias("p"),
        F.lit("literal").alias("ok"), F.lit("big").alias("o"),
        null.alias("odt"), null.alias("olg"))
    # dedup=False: DISTINCT + semi/anti joins are multiset-insensitive
    quads = _flagship_quads(spark, sf_dir, dedup=False).unionByName(flag)
    return bgp_query(
        quads,
        [("?d", RDF_TYPE, KGB + "/def/Document"),
         ("?d", KGB + "/def/chars", "?n")],
        exists_groups=[[("?d", DCT + "language", "en")]],
        not_exists_groups=[[("?d", KGB + "/def/flag", "?f")]],
        order_by=["CAST(n AS INT) DESC", "d ASC"], limit=25,
    ).select("d", "n")


def _oracle_kg_bgp_exists_topk() -> str:
    return f"""
SELECT {_doc_subject_sql()} AS d, CAST(n_chars AS VARCHAR) AS n
FROM documents WHERE lang = 'en' AND n_chars < 500
ORDER BY n_chars DESC, d ASC LIMIT 25
"""


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the KG template engine over the documents table."""
    return q_kg_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # by family (the first word of the name), then alphabetically
    return {
        "ann_ivf": q_ann_ivf,
        "ann_ivf_indexed": q_ann_ivf_indexed,
        "ann_ivfpq_indexed": q_ann_ivfpq_indexed,
        "ann_lsh": q_ann_lsh,
        "ann_lsh_indexed": q_ann_lsh_indexed,
        "ann_topk": q_ann_topk,
        "cap_per_source": q_cap_per_source,
        "chunk_documents": q_chunk_documents,
        "connected_components": q_connected_components,
        "corpus_curation": q_corpus_curation,
        "corpus_curation_neardup": q_corpus_curation_neardup,
        "corpus_sample": q_corpus_sample,
        "corpus_stats": q_corpus_stats,
        "decontaminate": q_decontaminate,
        "decontaminate_bloom": q_decontaminate_bloom,
        "dedup_clusters": q_dedup_clusters,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_minhash_buckets": q_dedup_minhash_buckets,
        "dedup_minhash_pairs": q_dedup_minhash_pairs,
        "dedup_paragraphs": q_dedup_paragraphs,
        "dedup_simhash": q_dedup_simhash,
        "embedding_near_dups": q_embedding_near_dups,
        "event_rollup": q_event_rollup,
        "events_asof": q_events_asof,
        "kg_autocv": q_kg_autocv,
        "kg_bgp_exists_topk": q_kg_bgp_exists_topk,
        "kg_bgp_optional": q_kg_bgp_optional,
        "kg_bgp_star": q_kg_bgp_star,
        "kg_bgp_stored": q_kg_bgp_stored,
        "kg_bgp_subquery": q_kg_bgp_subquery,
        "kg_bgp_values_bind": q_kg_bgp_values_bind,
        "kg_construct": q_kg_construct,
        "kg_degrees": q_kg_degrees,
        "kg_describe": q_kg_describe,
        "kg_entity_table": q_kg_entity_table,
        "kg_explode_tokens": q_kg_explode_tokens,
        "kg_filters": q_kg_filters,
        "kg_flagship": q_kg_flagship,
        "kg_group_by": q_kg_group_by,
        "kg_hash_minting": q_kg_hash_minting,
        "kg_incremental": q_kg_incremental,
        "kg_inverse_backref": q_kg_inverse_backref,
        "kg_json_props": q_kg_json_props,
        "kg_map_by": q_kg_map_by,
        "kg_named_graphs": q_kg_named_graphs,
        "kg_path_cites": q_kg_path_cites,
        "kg_path_closure": q_kg_path_closure,
        "kg_path_related": q_kg_path_related,
        "kg_predicate_stats": q_kg_predicate_stats,
        "kg_rdfs_inference": q_kg_rdfs_inference,
        "kg_row_graphs": q_kg_row_graphs,
        "kg_sameas": q_kg_sameas,
        "kg_shape_violations": q_kg_shape_violations,
        "kg_sparql_agg": q_kg_sparql_agg,
        "kg_sparql_path": q_kg_sparql_path,
        "kg_sparql_select": q_kg_sparql_select,
        "kg_typed_literals": q_kg_typed_literals,
        "kg_update": q_kg_update,
        "link_mentions": q_link_mentions,
        "lm_logprob": q_lm_logprob,
        "multimodal_features": q_multimodal_features,
        "multimodal_frames": q_multimodal_frames,
        "pack_sequences": q_pack_sequences,
        "pii_scrub": q_pii_scrub,
        "pricing_summary": q_pricing_summary,
        "quality_filter": q_quality_filter,
        "repetition_metrics": q_repetition_metrics,
        "segment_revenue": q_segment_revenue,
        "semantic_dedup": q_semantic_dedup,
        "session_stats": q_session_stats,
        "text_analysis": q_text_analysis,
        "text_winnow": q_text_winnow,
        "tfidf_terms": q_tfidf_terms,
        "top_events_per_type": q_top_events_per_type,
        "web_canonical_urls": q_web_canonical_urls,
        "winnow_pairs": q_winnow_pairs,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kg_flagship": _oracle_kg_flagship(),
        "kg_bgp_star": _oracle_kg_bgp_star(),
        "kg_bgp_stored": _oracle_kg_bgp_star(),
        "kg_path_cites": _oracle_kg_path_cites(),
        "kg_path_related": _oracle_kg_path_related(),
        "kg_entity_table": _oracle_kg_entity_table(),
        "kg_predicate_stats": _oracle_kg_predicate_stats(),
        "kg_shape_violations": _oracle_kg_shape_violations(),
        "kg_filters": _oracle_kg_filters(),
        "kg_explode_tokens": _oracle_kg_explode_tokens(),
        "kg_typed_literals": _oracle_kg_typed_literals(),
        "kg_map_by": _oracle_kg_map_by(),
        "kg_autocv": _oracle_kg_autocv(),
        "kg_inverse_backref": _oracle_kg_inverse_backref(),
        "kg_named_graphs": _oracle_kg_named_graphs(),
        "kg_hash_minting": _oracle_kg_hash_minting(),
        "kg_json_props": _oracle_kg_json_props(),
        "link_mentions": _oracle_link_mentions(),
        "connected_components": _oracle_connected_components(),
        "pricing_summary": _oracle_pricing_summary(),
        "segment_revenue": _oracle_segment_revenue(),
        "top_events_per_type": _oracle_top_events_per_type(),
        "session_stats": _oracle_session_stats(),
        "events_asof": _oracle_events_asof(),
        "event_rollup": _oracle_event_rollup(),
        "dedup_exact": _oracle_dedup_exact(),
        "dedup_jaccard": _oracle_dedup_jaccard(),
        "dedup_minhash_buckets": _oracle_dedup_minhash_buckets(),
        "dedup_minhash_pairs": _oracle_dedup_minhash_pairs(),
        "dedup_clusters": _oracle_dedup_clusters(),
        "kg_row_graphs": _oracle_kg_row_graphs(),
        "dedup_simhash": _oracle_dedup_simhash(),
        "embedding_near_dups": _oracle_embedding_near_dups(),
        "ann_topk": _oracle_ann_topk(),
        "ann_lsh": _oracle_ann_lsh(),
        "ann_ivf": _oracle_ann_ivf(),
        # the indexed variants are bit-identical to their recompute twins
        # (same seeded codebook/planes), so they share the same oracles
        "ann_ivf_indexed": _oracle_ann_ivf(),
        "ann_ivfpq_indexed": _oracle_ann_ivfpq(),
        "ann_lsh_indexed": _oracle_ann_lsh(),
        "pii_scrub": _oracle_pii_scrub(),
        "lm_logprob": _oracle_lm_logprob(),
        "tfidf_terms": _oracle_tfidf_terms(),
        "corpus_stats": _oracle_corpus_stats(),
        "chunk_documents": _oracle_chunk_documents(),
        "dedup_paragraphs": _oracle_dedup_paragraphs(),
        "cap_per_source": _oracle_cap_per_source(),
        "pack_sequences": _oracle_pack_sequences(),
        "kg_degrees": _oracle_kg_degrees(),
        "kg_construct": _oracle_kg_construct(),
        "kg_describe": _oracle_kg_describe(),
        "kg_update": _oracle_kg_update(),
        "kg_group_by": _oracle_kg_group_by(),
        "semantic_dedup": _oracle_semantic_dedup(),
        "kg_rdfs_inference": _oracle_kg_rdfs_inference(),
        "kg_sameas": _oracle_kg_sameas(),
        "kg_bgp_optional": _oracle_kg_bgp_optional(),
        "kg_bgp_values_bind": _oracle_kg_bgp_values_bind(),
        "kg_bgp_exists_topk": _oracle_kg_bgp_exists_topk(),
        "kg_bgp_subquery": _oracle_kg_bgp_subquery(),
        "kg_sparql_select": _oracle_kg_sparql_select(),
        "kg_sparql_agg": _oracle_kg_sparql_agg(),
        "kg_sparql_path": _oracle_kg_sparql_path(),
        "kg_path_closure": _oracle_kg_path_closure(),
        "repetition_metrics": _oracle_repetition_metrics(),
        "corpus_sample": _oracle_corpus_sample(),
        "corpus_curation": _oracle_corpus_curation(),
        "corpus_curation_neardup": _oracle_corpus_curation_neardup(),
        "text_analysis": _oracle_text_analysis(),
        "text_winnow": _oracle_text_winnow(),
        "multimodal_features": _oracle_multimodal_features(),
        "multimodal_frames": _oracle_multimodal_frames(),
        "quality_filter": _oracle_quality_filter(),
        "web_canonical_urls": _oracle_web_canonical_urls(),
        "kg_incremental": _oracle_kg_incremental(),
        "decontaminate": _oracle_decontaminate(),
        # bloom path is bit-identical to exact by construction
        "decontaminate_bloom": _oracle_decontaminate(),
        "winnow_pairs": _oracle_winnow_pairs(),
    }
