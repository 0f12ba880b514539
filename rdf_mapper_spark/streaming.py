"""Incremental ingest: the compiled mapping applied per micro-batch.

The reference is a single-pass batch program ("TODO streaming version",
template_processor.py:22); Spark gets the streaming version for free: the
same compiled plan runs inside `foreachBatch`, appending quads to the
(graph-partitioned) sink. Because every IRI-minting path is deterministic
(hash/content-keyed; `now` pinned per run; `<uuid>` excluded), replaying a
micro-batch after failure is idempotent under quad dedup — exactly-once
semantics at the table level without transactional sinks.

Late data / watermarking do not apply to the mapping itself (row-local), but
`aggregate_quads_windowed` shows the canonical watermarked rollup for
downstream quad statistics.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from rdf_mapper_spark.engine import MapperEngine
from rdf_mapper_spark.quads import dedup_quads
from rdf_mapper_spark.spec import MappingSpec


def _recover_state_dir(state_path: str) -> None:
    """Restore the incremental-KG state dir after a crash mid-swap.

    The swap protocol (`stream_incremental_kg`) renames the live dir to
    `<state>.old-<batch>` before renaming `<state>.tmp-<batch>` into
    place.  If the process died in the gap, the live path is missing but
    exactly one survivor exists; prefer the tmp (the fully-written NEW
    state — it is only renamed after the write completes) over the old
    backup, and clean up whichever remains."""
    import os
    import re
    import shutil

    parent = os.path.dirname(state_path) or "."
    base = os.path.basename(state_path)
    if not os.path.isdir(parent):
        return
    pat = re.compile(re.escape(base) + r"\.(tmp|old)-(\d+)$")
    cands = []
    for name in os.listdir(parent):
        m = pat.match(name)
        if m:
            cands.append((m.group(1), int(m.group(2)), name))
    if os.path.exists(state_path):
        # live state is fine — just sweep leftovers from a crash after the
        # rename-in but before the backup delete
        for _, _, name in cands:
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
        return
    if not cands:
        return
    # newest batch wins; within a batch, tmp (new state) beats old (backup)
    cands.sort(key=lambda c: (c[1], c[0] == "tmp"))
    winner = cands[-1][2]
    os.rename(os.path.join(parent, winner), state_path)
    for _, _, name in cands[:-1]:
        shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def stream_mapping(
    spec: MappingSpec,
    stream_df: DataFrame,
    out_path: str,
    checkpoint_path: str,
    file_name: str = "stream",
    trigger_available_now: bool = True,
    alias_map: dict[str, str] | None = None,
) -> StreamingQuery:
    """readStream -> compiled mapping per micro-batch -> append parquet quads.

    Intra-batch duplicates are absorbed per batch; global set semantics are
    restored by a periodic compaction (dedup_quads over the sink) or by an
    Iceberg MERGE in production.
    """
    engine = MapperEngine(spec, alias_map=alias_map)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        quads = engine.apply(batch_df, file_name=f"{file_name}-{batch_id}")
        try:
            quads.write.mode("append").parquet(out_path)
        finally:
            engine.release()

    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_kg_pipeline(
    pages_stream: DataFrame,
    aliases: DataFrame,
    out_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """The full KG-construction flow as incremental ingest: each micro-batch
    of pages runs extract -> link -> natural-key triple emission ->
    canonical rewrite, appending to the quad sink.

    Canonicalization evidence (the sameAs alias table) is batch-side and
    broadcast, so the per-batch rewrite is identical to the batch
    pipeline's; page/link determinism (content-keyed IRIs) makes replays
    idempotent under downstream dedup/compaction. Connected components run
    on the dictionary, not the stream — per-batch output needs no global
    state."""
    from rdf_mapper_spark.pipeline.canonicalize import (
        canonical_mapping,
        rewrite_canonical,
        sameas_edges_from_aliases,
    )
    from rdf_mapper_spark.pipeline.extract import with_extracted_text
    from rdf_mapper_spark.pipeline.linking import link_entities
    from rdf_mapper_spark.pipeline.run import build_quads_split
    from rdf_mapper_spark.quads import union_quads

    mapping = canonical_mapping(sameas_edges_from_aliases(aliases))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        extracted = with_extracted_text(batch_df).select(
            "url", "warc_ts", F.col("extracted_text").alias("text"), "lang"
        ).persist()
        extracted.count()  # concurrent branches must hit a full cache
        links = link_entities(extracted, aliases)
        page_q, dyn_q = build_quads_split(extracted, links)
        out = union_quads(
            [page_q, dedup_quads(rewrite_canonical(dyn_q, mapping))]
        )
        out.write.mode("append").parquet(out_path)
        extracted.unpersist()

    writer = (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_incremental_kg(
    pages_stream: DataFrame,
    aliases: DataFrame,
    state_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Continuous re-crawl maintenance: each micro-batch REPLACES the
    page-keyed triples of exactly the pages it contains and grows the
    entity dictionary monotonically — the streaming form of
    `pipeline.incremental.quad_delta`.

    Semantics per batch:
      * page-keyed quads (subject = a batch URL: page description AND
        mention triples) — diffed against the current state restricted to
        those subjects; deletes remove triples the re-crawled page no
        longer emits, adds insert the new ones. Pages NOT in the batch are
        untouched (the restriction makes the delta local, not
        whole-graph).
      * entity-description quads (subject = entity IRI, shared across
        pages) — add-only set union: a page dropping a mention must not
        delete a dictionary entry other pages still reference.

    State here is a parquet quad table swapped atomically per batch
    (test/interop scale); at 100 TB the same delta feeds the
    `IcebergMergeSink` / `sparql_delta_script` instead of a rewrite, and
    the subject restriction becomes partition pruning on an
    s-bucketed table.
    """
    import os
    import shutil

    from pyspark.sql.utils import AnalysisException

    from rdf_mapper_spark.pipeline.canonicalize import (
        canonical_mapping,
        rewrite_canonical,
        sameas_edges_from_aliases,
    )
    from rdf_mapper_spark.pipeline.extract import with_extracted_text
    from rdf_mapper_spark.pipeline.incremental import apply_delta, quad_delta
    from rdf_mapper_spark.pipeline.linking import link_entities
    from rdf_mapper_spark.pipeline.run import build_quads_split
    from rdf_mapper_spark.quads import empty_quads, union_quads

    mapping = canonical_mapping(sameas_edges_from_aliases(aliases))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        extracted = with_extracted_text(batch_df).select(
            "url", "warc_ts", F.col("extracted_text").alias("text"), "lang"
        ).persist()
        # no materialization barrier: the state-write job's concurrent
        # consumers (page_q, links, urls) populate the cache through the
        # block manager's per-partition locks — same reasoning and A/B
        # evidence as the fused batch pipeline (pipeline/run.py)
        links = link_entities(extracted, aliases)
        page_q, dyn_q = build_quads_split(extracted, links)
        dyn = dedup_quads(rewrite_canonical(dyn_q, mapping))
        urls = extracted.select(F.col("url").alias("s")).distinct()
        new_pk = union_quads(
            [page_q, dyn.join(F.broadcast(urls), "s", "left_semi")]
        )
        ent_q = dyn.join(F.broadcast(urls), "s", "left_anti")
        _recover_state_dir(state_path)
        try:
            state = spark.read.parquet(state_path)
            state.first()
        except AnalysisException:
            state = empty_quads(spark)
        old_pk = state.join(F.broadcast(urls), "s", "left_semi")
        delta = quad_delta(old_pk, new_pk)
        new_state = dedup_quads(
            union_quads([apply_delta(state, delta), ent_q])
        )
        tmp = state_path + f".tmp-{batch_id}"
        new_state.write.mode("overwrite").parquet(tmp)
        extracted.unpersist()
        # crash-safe swap: the old state is RENAMED ASIDE (one atomic op),
        # the new state renamed in (another), and only then is the backup
        # deleted.  A crash between any two steps leaves either the old or
        # the new state recoverable — `_recover_state_dir` at the next
        # batch's read restores the newest survivor; contrast rmtree-then-
        # rename, where a crash in the gap lost the state entirely.
        old = state_path + f".old-{batch_id}"
        if os.path.exists(state_path):
            os.rename(state_path, old)
        os.rename(tmp, state_path)
        if os.path.exists(old):
            shutil.rmtree(old)

    writer = (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_quad_dedup(quad_stream: DataFrame) -> DataFrame:
    """Cross-micro-batch RDF set semantics as a custom stateful operator.

    `applyInPandasWithState` keyed on the quad fingerprint keeps one boolean
    per distinct quad in the state store: the first occurrence is emitted,
    replays and later duplicates are suppressed — exactly-once quad
    emission across batches AND restarts (state is checkpointed).

    At scale the state store is RocksDB-backed and the key is a 128-bit
    fingerprint, so state size tracks distinct quads, not stream volume.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from rdf_mapper_spark.quads import QUAD_FIELDS

    fp = F.md5(F.concat_ws("\x1f", *[
        F.coalesce(F.col(c), F.lit("\x00")) for c in QUAD_FIELDS
    ]))
    keyed = quad_stream.withColumn("__fp", fp).groupBy("__fp")

    out_schema = ("g string, sk string, s string, p string, ok string, "
                  "o string, odt string, olg string")

    def emit_first(key, pdf_iter, state: GroupState):
        if state.exists:
            return iter(())
        state.update((True,))
        for pdf in pdf_iter:
            if len(pdf):
                yield pdf.iloc[:1][list(QUAD_FIELDS)]
                return

    return keyed.applyInPandasWithState(
        emit_first,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def aggregate_quads_windowed(
    quad_stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window quad counts per predicate — the standard
    late-data-tolerant streaming aggregation shape."""
    return (
        quad_stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col("p"))
        .agg(F.count(F.lit(1)).alias("n_quads"))
    )


def stateful_doc_dedup(doc_stream: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Cross-micro-batch EXACT document dedup for continuous ingestion:
    the first document with a given content fingerprint (md5 of the
    normalized token stream — ops/text.fingerprint, so whitespace
    variants collapse) is emitted; later arrivals and replays are
    suppressed, across batches AND restarts (state is checkpointed).

    `applyInPandasWithState` keyed on the fingerprint holds one boolean
    per distinct document — state tracks distinct content, not stream
    volume (RocksDB-backed at scale).  The streaming face of
    ops/dedup.exact_dedup; near-dup classes stay batch jobs over the
    accumulated store (their candidate generation needs corpus-wide
    bucketing that has no bounded per-key state)."""
    import pandas as pd  # noqa: F401  (imported for the UDF runtime)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from rdf_mapper_spark.ops.text import fingerprint

    keyed = doc_stream.withColumn(
        "__fp", fingerprint(F.col(text_col))).groupBy("__fp")
    out_schema = f"{id_col} bigint, {text_col} string"

    def emit_first(key, pdf_iter, state: GroupState):
        if state.exists:
            return iter(())
        state.update((True,))
        for pdf in pdf_iter:
            if len(pdf):
                yield pdf.iloc[:1][[id_col, text_col]]
                return

    return keyed.applyInPandasWithState(
        emit_first,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_session_stats(events_stream: DataFrame,
                         gap: str = "30 minutes",
                         watermark: str = "1 hour",
                         user_col: str = "user_id",
                         ts_col: str = "ts",
                         value_col: str = "value") -> DataFrame:
    """Continuous sessionization with Spark's native session windows:
    per-user sessions merge while events arrive within `gap`, close once
    the watermark passes session end + gap, and emit exactly once in
    append mode — the streaming twin of ops/events.session_stats.

    Boundary contract: `session_window` starts a NEW session when the
    inter-event gap is >= the gap duration (window end = ts + gap,
    non-overlapping), while the batch operator splits on gap > threshold
    — an event at EXACTLY the gap boundary lands differently.  Both are
    valid conventions; callers comparing the two should avoid
    exact-boundary fixtures (tests/test_streaming.py does).
    """
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum(value_col), 2).alias("value_sum"))
        .select(user_col,
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events", "value_sum")
    )
