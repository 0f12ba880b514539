"""End-to-end web-scale KG construction (the BASELINE north rule flow).

    pages -> extract -> link -> candidate triples (template engine)
          -> canonicalize (CC over sameAs evidence) -> dedup -> materialize

`kg_step` is that flow, written once. `run_pipeline` (checkpointed or
fused) and both KG streams (streaming.py) run it and differ only in how a
stage boundary is materialized: a parquet checkpoint, a persisted frame,
or nothing.

The candidate-triple stage IS the template engine: the mappings below are
ordinary mapping specs compiled over the extracted and linked DataFrames,
so the benchmark throughput measures the engine itself at scale.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_mapper_spark.engine import MapperEngine
from rdf_mapper_spark.pipeline.canonicalize import (
    canonical_mapping,
    rewrite_canonical,
    sameas_edges_from_aliases,
)
from rdf_mapper_spark.pipeline.checkpoint import StageRunner
from rdf_mapper_spark.pipeline.extract import with_extracted_text
from rdf_mapper_spark.pipeline.linking import link_entities
from rdf_mapper_spark.pipeline.prefilter import prefilter_pages
from rdf_mapper_spark.quads import dedup_quads, union_quads
from rdf_mapper_spark.sinks import write_graph_tables
from rdf_mapper_spark.spec import MappingSpec

#: The KG mapping, split by the NATURAL KEY of each triple group so nothing
#: is emitted (and shuffled into dedup) more often than its key occurs:
#:   * page triples    — one row per url        (NOT per url x mention);
#:   * mention triples — one row per url x mention link;
#:   * entity triples  — one row per DISTINCT (iri, type, label), a
#:     dictionary-sized frame, instead of once per occurrence in the corpus.
#: Emitting everything from the joined url x mention table (the naive
#: single-spec shape) produced ~8 quads per link row of which ~7 were
#: duplicates for the final dedup to discard — measured ~4x more shuffle
#: volume. Deterministic, content-keyed subjects throughout (SURVEY §7.4).
PAGE_SPEC = {
    "globals": {"$datasetBase": "http://kg.example.org"},
    "resources": [{
        "name": "page",
        "properties": {
            "@id": "<{url}>",
            "@type": "<{$datasetBase}/def/WebPage>",
            "<dct:language>": "{lang}",
            "<dct:date>": "{warc_ts}",
        },
    }],
}

LINK_SPEC = {
    "globals": {"$datasetBase": "http://kg.example.org"},
    "resources": [{
        "name": "page",
        "properties": {
            "@id": "<{url}>",
            "<{$datasetBase}/def/mentions>": "<{entity_iri}>",
        },
    }],
}

ENTITY_SPEC = {
    "globals": {"$datasetBase": "http://kg.example.org"},
    "resources": [{
        "name": "entity",
        "properties": {
            "@id": "<{entity_iri}>",
            "@type": "<{entity_type}>",
            "<skos:prefLabel>": "{mention}",
        },
    }],
}

#: kept for fingerprinting / compatibility: the full logical mapping
PIPELINE_SPEC = {"page": PAGE_SPEC, "link": LINK_SPEC, "entity": ENTITY_SPEC}


def page_quads(extracted: DataFrame) -> DataFrame:
    """Page triples, one row per url of ``extracted`` (url, warc_ts, text,
    lang) — no dedup.

    They are kept apart from `linked_quads` because the two halves have
    different downstream needs: page quads are duplicate-free by
    construction (one row per url; callers must feed a url-unique pages
    table) and their subjects/objects live in URL/literal space that
    canonical rewriting never touches, so they can bypass the rewrite joins
    AND the final dedup shuffle — at corpus scale that branch is the bulk
    of the quad volume and it becomes a pure map-side pipeline."""
    return MapperEngine(MappingSpec(PAGE_SPEC, auto_declare=False)).apply(
        extracted, file_name="pages", dedup=False)


def linked_quads(links: DataFrame) -> DataFrame:
    """Mention triples, one per url x mention row of ``links`` (url,
    mention, entity_iri, entity_type), and entity description triples from
    the distinct (iri, type, label) set — no dedup.  The
    duplicate-per-occurrence emission never exists, so the final dedup
    shuffles ~4x less."""
    link_q = MapperEngine(MappingSpec(LINK_SPEC, auto_declare=False)).apply(
        links.select("url", "entity_iri"),
        file_name="links", dedup=False)
    # the repartition is a codegen boundary, not a performance knob: fused,
    # the hash-aggregate's generated code lands inside the (oversized)
    # emission consume function, Janino splits it into a nested class, and
    # JDK17 throws IllegalAccessError on BufferedRowIterator.unsafeRow
    # (observed on this exact plan). The exchange is dictionary-sized.
    entities = (links.select("entity_iri", "entity_type", "mention")
                .distinct().repartition("entity_iri"))
    entity_q = MapperEngine(MappingSpec(ENTITY_SPEC, auto_declare=False)).apply(
        entities, file_name="entities", dedup=False)
    return union_quads([link_q, entity_q])


def kg_step(
    pages: DataFrame,
    aliases: DataFrame,
    mapping: Callable[[], DataFrame],
    stage: Callable[[str, Callable[[], DataFrame]], DataFrame],
    prefilter: bool = False,
    dedup_salt: int = 0,
) -> tuple[DataFrame, Callable[[], DataFrame]]:
    """The KG flow over one set of pages: extract -> (prefilter) -> link ->
    natural-key emission -> canonical rewrite -> dedup.

    ``stage(name, build)`` turns each boundary — ``extract``, ``prefilter``,
    ``link``, ``triples_pages``, ``triples_links`` — into the DataFrame the
    next step reads: a checkpoint, a persisted frame or the plan itself.
    Each ``build`` compiles only its own specs, so a stage restored from a
    checkpoint compiles nothing.

    Returns ``(page_q, canonical)``: the page quads, and a thunk that builds
    the canonicalized, deduplicated entity-linked quads. ``mapping`` (a
    thunk yielding the canonical mapping) is called only from
    ``canonical``, so a caller whose ``canonical`` output is already
    checkpointed builds no mapping."""
    extracted = stage("extract", lambda: with_extracted_text(pages).select(
        "url", "warc_ts", F.col("extracted_text").alias("text"), "lang"))
    if prefilter:
        # corpus hygiene (quality verdict + canonical-URL dedup) BEFORE
        # linking/emission: everything downstream shuffles strictly less
        extracted = stage("prefilter", lambda: prefilter_pages(extracted))
    links = stage("link", lambda: link_entities(extracted, aliases))
    page_q = stage("triples_pages", lambda: page_quads(extracted))
    dyn_q = stage("triples_links", lambda: linked_quads(links))
    return page_q, lambda: dedup_quads(rewrite_canonical(dyn_q, mapping()),
                                       salt=dedup_salt)


def _input_fingerprint(pages: DataFrame, aliases: DataFrame,
                       spec_dict: dict) -> str:
    """Identity of (page files+sizes, alias content, mapping spec).

    The alias checksum is an order-insensitive aggregate over per-row md5
    prefixes — dictionary-sized, one tiny job; page data is identified by
    its file listing (content hashing 100 TB would defeat the point of
    resuming). In-memory page DataFrames (no input files) fall back to
    schema + count."""
    h = hashlib.md5()
    h.update(json.dumps(spec_dict, sort_keys=True, default=str).encode())
    files = sorted(pages.inputFiles())
    h.update("|".join(files).encode())
    for f in files:
        path = f[7:] if f.startswith("file://") else (
            f[5:] if f.startswith("file:") else f)
        try:
            h.update(str(os.stat(path).st_size).encode())
        except OSError:
            pass
    h.update(str(pages.schema).encode())
    if not files:
        h.update(str(pages.count()).encode())
    row_h = F.md5(F.concat_ws(
        "\x00", *[F.col(c).cast("string") for c in aliases.columns]
    ))
    chk = (
        aliases.select(row_h.alias("h"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.conv(F.substring("h", 1, 15), 16, 10)
                   .cast("decimal(38,0)")).alias("s"))
        .collect()[0]
    )
    h.update(f"{chk['n']}:{chk['s']}".encode())
    return h.hexdigest()


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    workdir: Optional[str] = None,
    dedup_salt: int = 0,
    materialize: bool = True,
    prefilter: bool = False,
) -> dict:
    """Run `kg_step` end to end; returns metrics incl. emitted triple count
    + timings.

    With ``workdir`` set, every stage checkpoints and is resumable; without,
    the plan runs fused (fastest single-pass benchmark mode).
    dedup_salt=0 relies on AQE skew splitting (one shuffle); raise it when a
    single quad repeats enough to blow a reducer even after AQE (salting
    trades a second shuffle for bounded task input).
    """
    t0 = time.time()
    fused = workdir is None
    runner = StageRunner(spark, workdir or "", enabled=not fused)
    # fingerprint the ACTUAL inputs (file identities+sizes, the alias table
    # content, the mapping spec): any change forces recompute instead of
    # silently resuming stale stage parquet. Only computed when resuming is
    # possible — the fused benchmark path pays nothing.
    fp = "" if fused else _input_fingerprint(pages, aliases, PIPELINE_SPEC)

    def mapping() -> DataFrame:
        return canonical_mapping(sameas_edges_from_aliases(aliases))

    # the canonical mapping (alias sameAs edges -> connected components ->
    # driver union-find) depends ONLY on the alias dictionary: in fused
    # mode submit it from a driver thread so its jobs back-fill the cluster
    # while the extract+link pass runs (guide §2.6 — overlap independent
    # jobs).  The checkpointed path builds it inside its `canonical` stage,
    # so a resumed run never builds it.  The pool is shut down however the
    # run ends, so a failing stage leaves no worker thread behind it
    # submitting jobs.
    pool = ThreadPoolExecutor(max_workers=2) if fused else None

    # fused mode: the frame linking reads feeds BOTH the page-triple branch
    # and the linking branch, and the link table feeds the mention-triple
    # and entity-dictionary branches — persist both (checkpointed mode
    # reads them back from parquet, already cheap to rescan).  No
    # materialization barrier before the final job: its concurrent union
    # branches populate the caches through the block manager's
    # per-partition locks (a second task needing an in-progress partition
    # waits for it instead of recomputing), so the extract+link pass
    # pipelines INTO the emission/dedup job — measured ~2 s faster at 100k
    # pages than counting links first, identical output.
    cached: dict[str, DataFrame] = {}
    persist = ("prefilter" if prefilter else "extract", "link")
    link_count = None

    def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        nonlocal link_count
        df = runner.run(name, build, fingerprint=fp)
        if fused and name in persist:
            cached[name] = df = df.persist()
            if name == "link":
                # populate the extract+link caches from a driver thread
                # while THIS thread compiles the three emission specs (~2 s
                # of pure py4j/driver work during which the cluster would
                # otherwise sit idle — guide §2.6); the link-count metric
                # is this job's result instead of a separate cache scan
                link_count = pool.submit(df.count)
        return df

    try:
        if fused:
            mapping = pool.submit(mapping).result
        page_q, canonical = kg_step(pages, aliases, mapping, stage,
                                    prefilter=prefilter,
                                    dedup_salt=dedup_salt)
        final = stage("canonical",
                      lambda: union_quads([page_q, canonical()]))

        # checkpointed: the canonical stage recorded its rows when it
        # was written (or resumed), so no count job runs
        n_triples = (final.count() if fused
                     else runner.metrics["canonical"]["rows"])
        n_pages = n_links = None
        if fused:
            # link count from the overlapped warm job; page count is a pure
            # cache scan
            n_links = link_count.result()
            n_pages = cached[persist[0]].count()
        if materialize and workdir:
            write_graph_tables(final, f"{workdir}/graph_tables")
        # release this run's caches: callers consume the metrics (and the
        # materialized tables), not the DataFrames — leaked cache entries
        # would also be silently reused by any later identical-plan run,
        # corrupting benchmarks
        for df in cached.values():
            df.unpersist()
    finally:
        if pool is not None:
            pool.shutdown(cancel_futures=True)
    wall = time.time() - t0
    return {
        "triples": n_triples,
        "pages": n_pages,
        "links": n_links,
        "wall_sec": round(wall, 3),
        "triples_per_sec": round(n_triples / wall, 1) if wall > 0 else None,
        "stages": runner.metrics,
    }
