"""Incremental ingest: the compiled mapping applied per micro-batch.

The reference is a single-pass batch program ("TODO streaming version",
template_processor.py:22); Spark gets the streaming version for free: the
same compiled plan runs inside `foreachBatch`, appending quads to the
(graph-partitioned) sink.  The spec compiles once, on the first
micro-batch (`MapperEngine.prepare`, kept in `plan_cache`); every later
batch of the same schema only binds it. The KG streams run the batch
pipeline's own `kg_step` (pipeline/run.py) per micro-batch, so a stream and a batch run
differ only in how they materialize a stage. Because every IRI-minting
path is deterministic (hash/content-keyed; `now` pinned per run; `<uuid>`
excluded), replaying a micro-batch after failure is idempotent under quad
dedup — exactly-once semantics at the table level without transactional
sinks.

Late data / watermarking do not apply to the mapping itself (row-local), but
`aggregate_quads_windowed` shows the canonical watermarked rollup for
downstream quad statistics.
"""

from __future__ import annotations

import os
import re
import shutil
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException

from rdf_mapper_spark.engine import MapperEngine
from rdf_mapper_spark.pipeline.canonicalize import (
    canonical_mapping,
    sameas_edges_from_aliases,
)
from rdf_mapper_spark.pipeline.incremental import apply_delta, quad_delta
from rdf_mapper_spark.pipeline.run import kg_step
from rdf_mapper_spark.quads import dedup_quads, empty_quads, union_quads
from rdf_mapper_spark.spec import MappingSpec


def _recover_state_dir(state_path: str) -> None:
    """Restore the incremental-KG state dir after a crash mid-swap.

    The swap protocol (`stream_incremental_kg`) renames the live dir to
    `<state>.old-<batch>` before renaming `<state>.tmp-<batch>` into
    place.  If the process died in the gap, the live path is missing but
    exactly one survivor exists; prefer the tmp (the fully-written NEW
    state — it is only renamed after the write completes) over the old
    backup, and clean up whichever remains."""
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


def _start(stream_df: DataFrame,
           process_batch: Callable[[DataFrame, int], None],
           checkpoint_path: str,
           trigger_available_now: bool) -> StreamingQuery:
    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
        quads.write.mode("append").parquet(out_path)

    return _start(stream_df, process_batch, checkpoint_path,
                  trigger_available_now)


def _kg_batch(batch_df: DataFrame, aliases: DataFrame,
              mapping: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One micro-batch of pages through `kg_step` -> (extracted, page quads,
    canonicalized entity-linked quads).

    The extraction is persisted and counted before anything reads it, so
    the batch's concurrent branches hit a full cache.  This barrier is a
    measured trade.  On `stream_kg_pipeline` (the perfbench kg workload)
    it costs ~5% quads/s and saves ~10% peak RSS.  On
    `stream_incremental_kg` it saves no RSS and costs ~6% of the wall
    time, one extra job per batch (3 batches of 2,000 pages, 5 pairs;
    both on a 4-core host).  The caller unpersists ``extracted`` after
    its write."""
    extracted = None

    def stage(name: str, build: Callable[[], DataFrame]) -> DataFrame:
        nonlocal extracted
        df = build()
        if name == "extract":
            extracted = df = df.persist()
            df.count()
        return df

    page_q, canonical = kg_step(batch_df, aliases, lambda: mapping, stage)
    return extracted, page_q, canonical()


def stream_kg_pipeline(
    pages_stream: DataFrame,
    aliases: DataFrame,
    out_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """The full KG-construction flow as incremental ingest: each micro-batch
    of pages runs `kg_step` (extract -> link -> natural-key triple emission
    -> canonical rewrite -> dedup), appending to the quad sink.

    Canonicalization evidence (the sameAs alias table) is batch-side and
    broadcast, so the per-batch rewrite is identical to the batch
    pipeline's; page/link determinism (content-keyed IRIs) makes replays
    idempotent under downstream dedup/compaction. Connected components run
    on the dictionary, not the stream — per-batch output needs no global
    state."""
    mapping = canonical_mapping(sameas_edges_from_aliases(aliases))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        extracted, page_q, dyn = _kg_batch(batch_df, aliases, mapping)
        union_quads([page_q, dyn]).write.mode("append").parquet(out_path)
        extracted.unpersist()

    return _start(pages_stream, process_batch, checkpoint_path,
                  trigger_available_now)


def stream_incremental_kg(
    pages_stream: DataFrame,
    aliases: DataFrame,
    state_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Continuous re-crawl maintenance: each micro-batch runs `kg_step`,
    then REPLACES the page-keyed triples of exactly the pages it contains
    and grows the entity dictionary monotonically — the streaming form of
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
    mapping = canonical_mapping(sameas_edges_from_aliases(aliases))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        extracted, page_q, dyn = _kg_batch(batch_df, aliases, mapping)
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

    return _start(pages_stream, process_batch, checkpoint_path,
                  trigger_available_now)


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
