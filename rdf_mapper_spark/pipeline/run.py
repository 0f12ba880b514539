"""End-to-end web-scale KG construction (the BASELINE north rule flow).

    pages -> extract -> link -> candidate triples (template engine)
          -> canonicalize (CC over sameAs evidence) -> dedup -> materialize

The candidate-triple stage IS the template engine: the mapping below is an
ordinary mapping spec compiled over the linked-pages DataFrame, so the
benchmark throughput measures the engine itself at scale.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Optional

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
from rdf_mapper_spark.quads import dedup_quads
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


def build_quads_split(extracted: DataFrame,
                      links: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Candidate quads as (page_quads, entity_linked_quads) — no dedup.

    ``extracted``: one row per url (url, warc_ts, text, lang);
    ``links``: one row per url x mention (url, mention, entity_iri,
    entity_type).  Page triples come straight from ``extracted``; entity
    description triples from the distinct (iri, type, label) set — the
    duplicate-per-occurrence emission never exists, so the final dedup
    shuffles ~4x less.

    The SPLIT exists because the two halves have different downstream
    needs: page quads are duplicate-free by construction (one row per url;
    callers must feed a url-unique pages table) and their subjects/objects
    live in URL/literal space that canonical rewriting never touches, so
    they can bypass the rewrite joins AND the final dedup shuffle — at
    corpus scale that branch is the bulk of the quad volume and it becomes
    a pure map-side pipeline."""
    page_q = MapperEngine(MappingSpec(PAGE_SPEC, auto_declare=False)).apply(
        extracted, file_name="pages", dedup=False, cache_input=False)
    link_q = MapperEngine(MappingSpec(LINK_SPEC, auto_declare=False)).apply(
        links.select("url", "entity_iri"),
        file_name="links", dedup=False, cache_input=False)
    # the repartition is a codegen boundary, not a performance knob: fused,
    # the hash-aggregate's generated code lands inside the (oversized)
    # emission consume function, Janino splits it into a nested class, and
    # JDK17 throws IllegalAccessError on BufferedRowIterator.unsafeRow
    # (observed on this exact plan). The exchange is dictionary-sized.
    entities = (links.select("entity_iri", "entity_type", "mention")
                .distinct().repartition("entity_iri"))
    entity_q = MapperEngine(MappingSpec(ENTITY_SPEC, auto_declare=False)).apply(
        entities, file_name="entities", dedup=False, cache_input=False)
    from rdf_mapper_spark.quads import union_quads

    return page_q, union_quads([link_q, entity_q])


def build_quads(extracted: DataFrame, links: DataFrame) -> DataFrame:
    """Full candidate quad union (see build_quads_split)."""
    from rdf_mapper_spark.quads import union_quads

    page_q, dyn_q = build_quads_split(extracted, links)
    return union_quads([page_q, dyn_q])


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


#: Fused mode: populate the extract+link caches from a driver thread
#: while the main thread compiles the emission specs (guide §2.6).
#: Module-level so A/B harnesses can flip it; semantics are identical
#: either way (the block manager's per-partition locks dedup the work).
_WARM_OVERLAP = True


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    workdir: Optional[str] = None,
    dedup_salt: int = 0,
    materialize: bool = True,
    prefilter: bool = False,
) -> dict:
    """Run all stages; returns metrics incl. emitted triple count + timings.

    With ``workdir`` set, every stage checkpoints and is resumable; without,
    the plan runs fused (fastest single-pass benchmark mode).
    dedup_salt=0 relies on AQE skew splitting (one shuffle); raise it when a
    single quad repeats enough to blow a reducer even after AQE (salting
    trades a second shuffle for bounded task input).
    """
    t0 = time.time()
    runner = StageRunner(spark, workdir or "", enabled=workdir is not None)
    # fingerprint the ACTUAL inputs (file identities+sizes, the alias table
    # content, the mapping spec): any change forces recompute instead of
    # silently resuming stale stage parquet. Only computed when resuming is
    # possible — the fused benchmark path pays nothing.
    fp = (_input_fingerprint(pages, aliases, PIPELINE_SPEC)
          if workdir is not None else "")

    # the canonical mapping (alias sameAs edges -> connected components ->
    # driver union-find) depends ONLY on the alias dictionary: submit it
    # from a driver thread so its jobs back-fill the cluster while the
    # extract+link pass runs (guide §2.6 — overlap independent jobs).
    # Fused mode only: the checkpointed path re-reads stages from parquet
    # and resumability bookkeeping stays strictly sequential.  The pool
    # is shut down however the run ends, so a failing stage leaves no
    # worker thread behind it submitting jobs.
    mapping_fut = None
    pool = ThreadPoolExecutor(max_workers=2) if workdir is None else None
    try:
        if pool is not None:
            mapping_fut = pool.submit(
                lambda: canonical_mapping(sameas_edges_from_aliases(aliases)))

        extracted = runner.run(
            "extract",
            lambda: with_extracted_text(pages).select(
                "url", "warc_ts",
                F.col("extracted_text").alias("text"), "lang",
            ),
            fingerprint=fp,
        )
        if prefilter:
            # corpus hygiene (quality verdict + canonical-URL dedup) BEFORE
            # linking/emission: everything downstream shuffles strictly less;
            # off by default so the headline bench measures the engine, not
            # the filter policy
            from rdf_mapper_spark.pipeline.prefilter import prefilter_pages

            extracted = runner.run(
                "prefilter", lambda: prefilter_pages(extracted),
                fingerprint=fp,
            )
        # fused mode: the extraction output feeds BOTH the page-triple
        # branch and the linking branch — persist it once (checkpointed mode
        # reads it back from parquet, already cheap to rescan); same for the
        # link table, consumed by the mention-triple and entity-dictionary
        # branches.  No materialization barrier before the final job: its
        # concurrent union branches populate the caches through the block
        # manager's per-partition locks (a second task needing an
        # in-progress partition waits for it instead of recomputing), so the
        # extract+link pass pipelines INTO the emission/dedup job — measured
        # ~2 s faster at 100k pages than counting links first, identical
        # output.  The page/link counts afterwards are pure cache scans.
        n_pages = n_links = None
        if workdir is None:
            extracted = extracted.persist()
        links = runner.run(
            "link", lambda: link_entities(extracted, aliases), fingerprint=fp
        )
        warm_fut = None
        if workdir is None:
            links = links.persist()
            if _WARM_OVERLAP:
                # populate the extract+link caches from a driver thread while
                # THIS thread compiles the three emission specs (~2 s of pure
                # py4j/driver work during which the cluster would otherwise
                # sit idle — guide §2.6, overlap independent work).  The
                # final job's branches then read (mostly) populated caches
                # through the block manager's per-partition locks, and the
                # link-count metric is this job's result instead of a
                # separate cache scan.
                warm_fut = pool.submit(links.count)
        # ONE build_quads_split call feeds both stage lambdas: each call
        # compiles all three mapping specs to Column plans (~0.6 s of pure
        # driver/py4j work per engine), and the two runner stages previously
        # re-ran it — six engine compiles per invocation, profiled as a
        # ~3.7 s driver gap before the first emission job.  The lazy closure
        # keeps checkpoint-resume semantics: a stage restored from parquet
        # never triggers the compile.
        _split: list = []

        def _quads_split():
            if not _split:
                _split.append(build_quads_split(extracted, links))
            return _split[0]

        page_q = runner.run(
            "triples_pages", lambda: _quads_split()[0], fingerprint=fp,
        )
        dyn_q = runner.run(
            "triples_links", lambda: _quads_split()[1], fingerprint=fp,
        )

        def canonical() -> DataFrame:
            # only the entity-linked half can contain rewritable IRIs or
            # duplicates; the page half is distinct by construction and joins
            # the output untouched (no rewrite joins, no dedup shuffle)
            if mapping_fut is not None:
                mapping = mapping_fut.result()
            else:
                mapping = canonical_mapping(sameas_edges_from_aliases(aliases))
            rewritten = rewrite_canonical(dyn_q, mapping)
            from rdf_mapper_spark.quads import union_quads

            return union_quads(
                [page_q, dedup_quads(rewritten, salt=dedup_salt)]
            )

        final = runner.run("canonical", canonical, fingerprint=fp)

        n_triples = final.count()
        if workdir is None:
            # link count from the overlapped warm job (else a cache scan);
            # page count is a pure cache scan either way
            n_links = warm_fut.result() if warm_fut is not None \
                else links.count()
            n_pages = extracted.count()
        if materialize and workdir:
            write_graph_tables(final, f"{workdir}/graph_tables")
        # release this run's caches: callers consume the metrics (and the
        # materialized tables), not the DataFrames — leaked cache entries
        # would also be silently reused by any later identical-plan run,
        # corrupting benchmarks
        if workdir is None:
            extracted.unpersist()
            links.unpersist()
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
