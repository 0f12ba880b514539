"""Structured-Streaming ingest: the compiled mapping per micro-batch."""

from pyspark.sql import functions as F

from rdf_mapper_spark.spec import MappingSpec
from rdf_mapper_spark.streaming import stateful_quad_dedup, stream_mapping


def test_stream_mapping_available_now(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "quads")
    ckpt = str(tmp_path / "ckpt")
    spark.range(0, 20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    ).write.parquet(src)

    spec = MappingSpec({
        "globals": {"$datasetBase": "http://example.org/kg"},
        "resources": [{
            "name": "doc",
            "properties": {
                "@id": "<http://example.org/kg/data/doc/{doc_id}>",
                "<{$datasetBase}/def/text>": "{text}",
            },
        }],
    }, auto_declare=False)

    stream_df = spark.readStream.schema("doc_id long, text string").parquet(src)
    query = stream_mapping(spec, stream_df, out, ckpt)
    query.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 20
    assert got.where(F.col("p") == "http://example.org/kg/def/text").count() == 20


def test_stateful_quad_dedup_across_restarts(spark, tmp_path):
    """The applyInPandasWithState dedup suppresses duplicates across
    micro-batches AND across query restarts (state store persistence)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "g string, sk string, s string, p string, ok string, " \
             "o string, odt string, olg string"

    def quad_row(i):
        return (None, "iri", f"http://x/{i}", "http://x/p", "literal",
                f"v{i}", None, None)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (stateful_quad_dedup(stream)
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    batch1 = [quad_row(i) for i in range(5)] + [quad_row(0), quad_row(1)]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append") \
        .parquet(src)
    run_once()
    assert spark.read.parquet(out).count() == 5  # intra-batch dups absorbed

    # second file: 3 replays + 2 new quads; restart restores state
    batch2 = [quad_row(0), quad_row(2), quad_row(4), quad_row(7), quad_row(8)]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append") \
        .parquet(src)
    run_once()
    result = spark.read.parquet(out)
    assert result.count() == 7  # 5 + only the 2 genuinely new quads
    assert result.select("s").distinct().count() == 7


def test_stream_kg_pipeline_matches_batch(spark, tmp_path):
    """Streaming ingest of the full KG flow: two micro-batches of pages must
    produce (after compaction-dedup) the same quad set as one batch run."""
    from pyspark.sql import functions as F

    from rdf_mapper_spark.pipeline.datagen import make_alias_dict, make_pages
    from rdf_mapper_spark.pipeline.run import run_pipeline
    from rdf_mapper_spark.quads import dedup_quads
    from rdf_mapper_spark.streaming import stream_kg_pipeline

    pages_dir = str(tmp_path / "pages")
    make_pages(spark, 200, n_entities=30).repartition(2).write.parquet(
        pages_dir
    )
    aliases = make_alias_dict(spark, 30)

    out = str(tmp_path / "quads")
    ck = str(tmp_path / "ck")
    stream = (
        spark.readStream.schema(spark.read.parquet(pages_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pages_dir)
    )
    q = stream_kg_pipeline(stream, aliases, out, ck)
    q.awaitTermination(300)

    streamed = dedup_quads(spark.read.parquet(out))
    batch = run_pipeline(spark, spark.read.parquet(pages_dir), aliases,
                         workdir=None, materialize=False)
    assert streamed.count() == batch["triples"]
    # replay the whole stream into the same sink: dedup absorbs everything
    q2 = stream_kg_pipeline(
        spark.readStream.schema(spark.read.parquet(pages_dir).schema)
        .parquet(pages_dir),
        aliases, out, str(tmp_path / "ck2"),
    )
    q2.awaitTermination(300)
    assert dedup_quads(spark.read.parquet(out)).count() == batch["triples"]


def test_stream_incremental_kg_recrawl(spark, tmp_path):
    """Re-crawl maintenance: batch 1 ingests pages A(v1)+B; batch 2
    re-crawls A(v2) with a different mention set. Final state must equal
    the batch pipeline over the CURRENT corpus {A(v2), B} on page-keyed
    triples, with the entity dictionary a monotone superset (entities only
    A(v1) mentioned are kept, not deleted)."""
    from pyspark.sql import functions as F

    from rdf_mapper_spark.pipeline.datagen import make_alias_dict
    from rdf_mapper_spark.pipeline.run import run_pipeline
    from rdf_mapper_spark.streaming import stream_incremental_kg

    aliases = make_alias_dict(spark, 6)

    def pages(rows):
        df = spark.createDataFrame(rows, ["url", "text"])
        return df.select(
            "url",
            F.lit("2025-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
            F.concat(F.lit("<html><body><p>"), F.col("text"),
                     F.lit("</p></body></html>")).cast("binary")
            .alias("html"),
            "text",
            F.lit("en").alias("lang"),
        )

    a_v1 = "report about entity0 and entity1 with background"
    a_v2 = "updated report about entity2 only"
    b = "notes mentioning entity3 and entity 4 here"

    crawl_dir = str(tmp_path / "crawl")
    # two files -> two micro-batches in arrival order (file mtime)
    pages([("http://ex.com/a", a_v1), ("http://ex.com/b", b)]) \
        .coalesce(1).write.parquet(crawl_dir + "/c1")
    pages([("http://ex.com/a", a_v2)]) \
        .coalesce(1).write.parquet(crawl_dir + "/c2")

    schema = spark.read.parquet(crawl_dir + "/c1").schema
    state = str(tmp_path / "state")
    q = stream_incremental_kg(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(crawl_dir + "/c*"),
        aliases, state, str(tmp_path / "ck"),
    )
    q.awaitTermination(300)

    got = spark.read.parquet(state)
    current = pages([("http://ex.com/a", a_v2), ("http://ex.com/b", b)])
    run_pipeline(spark, current, aliases, workdir=str(tmp_path / "w"),
                 materialize=True)
    want = spark.read.parquet(str(tmp_path / "w") + "/graph_tables")

    def quadset(df, where=None):
        if where is not None:
            df = df.where(where)
        return {tuple(r) for r in
                df.select("g", "sk", "s", "p", "ok", "o", "odt", "olg")
                .collect()}

    page_keyed = F.col("s").startswith("http://ex.com/")
    # page + mention triples: exact replace semantics
    assert quadset(got, page_keyed) == quadset(want, page_keyed)
    # v1's dropped mentions are gone
    assert not [r for r in got.collect()
                if r.s == "http://ex.com/a" and "entity/0" in (r.o or "")]
    # entity dictionary: monotone superset of the current corpus's
    assert quadset(got, ~page_keyed) >= quadset(want, ~page_keyed)


def test_recover_state_dir_after_crash(tmp_path):
    """Swap-protocol crash windows: whichever of (live, tmp, old) survives,
    `_recover_state_dir` restores the newest state and sweeps leftovers."""
    import os

    from rdf_mapper_spark.streaming import _recover_state_dir

    def mk(name, marker):
        d = tmp_path / name
        d.mkdir()
        (d / "part-0.parquet").write_text(marker)
        return d

    state = str(tmp_path / "state")

    # crash between rename-aside and rename-in: only old + tmp exist
    mk("state.old-3", "old3")
    mk("state.tmp-3", "new3")
    _recover_state_dir(state)
    assert (tmp_path / "state" / "part-0.parquet").read_text() == "new3"
    assert not (tmp_path / "state.old-3").exists()
    assert not (tmp_path / "state.tmp-3").exists()

    # crash after rename-in but before backup delete: live + stale old
    mk("state.old-4", "old4")
    _recover_state_dir(state)
    assert (tmp_path / "state" / "part-0.parquet").read_text() == "new3"
    assert not (tmp_path / "state.old-4").exists()

    # crash before the tmp write finished a later batch is not possible
    # (tmp is renamed only after the write returns) — but an old-only
    # survivor (crash right after rename-aside) must restore the backup
    os.rename(state, str(tmp_path / "gone"))
    mk("state.old-9", "old9")
    _recover_state_dir(state)
    assert (tmp_path / "state" / "part-0.parquet").read_text() == "old9"


def test_stateful_doc_dedup_across_batches_and_restart(spark, tmp_path):
    """Continuous-ingestion exact dedup: first occurrence wins across
    micro-batches; whitespace variants collapse (normalized-token
    fingerprint); replays after a RESTART stay suppressed (state is
    checkpointed)."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from rdf_mapper_spark.streaming import stateful_doc_dedup

    schema = StructType([StructField("doc_id", LongType(), False),
                         StructField("text", StringType(), True)])
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")

    def add_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(src / name))

    add_batch("b1", [(1, "alpha beta gamma"), (2, "delta epsilon zeta")])
    add_batch("b2", [(3, "alpha  beta   gamma"),   # ws variant of doc 1
                     (4, "eta theta iota")])

    def run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
        q = (stateful_doc_dedup(stream).writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    run()
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {1, 2, 4}

    # restart: replay doc 1 verbatim + one genuinely new doc
    add_batch("b3", [(1, "alpha beta gamma"), (5, "kappa lambda mu")])
    run()
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {1, 2, 4, 5}


def test_windowed_quad_counts_append_semantics(spark, tmp_path):
    """aggregate_quads_windowed: append mode emits each window exactly
    ONCE, only after the watermark passes its end; rows arriving within
    the allowed lateness are counted into their still-open window.
    (Spark guarantees acceptance within the watermark delay; dropping
    beyond it is best-effort, so that side is deliberately not
    asserted.)"""
    import datetime as dt

    from pyspark.sql.types import (StringType, StructField, StructType,
                                   TimestampType)

    from rdf_mapper_spark.streaming import aggregate_quads_windowed

    schema = StructType([StructField("ts", TimestampType(), True),
                         StructField("p", StringType(), True)])
    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    m = dt.timedelta(minutes=1)
    src = tmp_path / "src"
    src.mkdir()

    def add_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(src / name))

    # batch 1: the 9:00 window + a 9:10 row -> watermark advances to 9:08
    add_batch("b1", [(t0, "P"), (t0 + 0.5 * m, "P"), (t0 + 10 * m, "P")])
    # batch 2: 9:09:30 is AHEAD of the 9:08 watermark (within lateness)
    # -> must be accepted into its open [9:09,9:10) window; 9:15 then
    # pushes the watermark past both windows, finalizing them
    add_batch("b2", [(t0 + 9.5 * m, "P"), (t0 + 15 * m, "Q")])

    out = str(tmp_path / "out")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    q = (aggregate_quads_windowed(stream, window="1 minute",
                                  watermark="2 minutes")
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    emitted = [((r.window.start, r.p), r.n_quads)
               for r in spark.read.parquet(out).collect()]
    rows = dict(emitted)
    # append mode: one emission per finalized window, never duplicates
    assert len(emitted) == len(rows)
    assert rows[(t0, "P")] >= 2                 # the 9:00 window emitted
    assert rows[(t0 + 9.5 * m - 0.5 * m, "P")] == 1   # in-lateness row counted
    assert rows[(t0 + 10 * m, "P")] == 1        # 9:10 window finalized by 9:15


def test_stream_session_stats_matches_batch(spark, tmp_path):
    """Native session_window streaming sessionization == the batch
    gap-split operator on the same events (no exact-boundary gaps in
    the fixture; see the boundary-contract note in
    streaming.stream_session_stats)."""
    import datetime as dt

    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType, TimestampType)

    from rdf_mapper_spark.ops.events import session_stats
    from rdf_mapper_spark.streaming import stream_session_stats

    schema = StructType([StructField("event_id", LongType(), True),
                         StructField("ts", TimestampType(), True),
                         StructField("user_id", LongType(), True),
                         StructField("value", DoubleType(), True)])
    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, t0, 7, 1.5), (2, t0 + 10 * m, 7, 2.5),     # session A (u7)
        (3, t0 + 50 * m, 7, 4.0),                      # gap 40m -> B
        (4, t0 + 5 * m, 8, 1.0),                       # u8 session
        # far-future row per user so the watermark closes every session
        (5, t0 + 600 * m, 7, 0.0), (6, t0 + 600 * m, 8, 0.0),
    ]
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(rows[:4], schema).coalesce(1) \
        .write.parquet(str(src / "b1"))
    spark.createDataFrame(rows[4:], schema).coalesce(1) \
        .write.parquet(str(src / "b2"))

    out = str(tmp_path / "out")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    q = (stream_session_stats(stream, gap="30 minutes",
                              watermark="10 minutes")
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    streamed = {(r.user_id, r.session_start): (r.n_events, r.value_sum)
                for r in spark.read.parquet(out).collect()}
    batch = session_stats(
        spark.createDataFrame(rows, schema), gap_minutes=30)
    expected = {(r.user_id, r.session_start): (r.n_events, r.value_sum)
                for r in batch.collect()
                if r.session_start < t0 + 600 * m}  # sentinels still open
    assert expected.items() <= streamed.items()
    assert len(expected) == 3  # u7 x2 + u8 x1 closed sessions


def test_stream_mapping_releases_cached_batches(spark, tmp_path):
    """A spec of more than two resources persists each micro-batch's input
    (MapperEngine.apply); the stream unpersists it once the batch is
    written, so a long stream holds no cached batch per trigger."""
    import time

    src = str(tmp_path / "src")
    for part in range(4):
        spark.range(part * 5, part * 5 + 5).select(
            F.col("id").alias("doc_id"),
        ).coalesce(1).write.mode("append").parquet(src)
    spec = MappingSpec({
        "resources": [
            {"name": n, "properties": {
                "@id": f"<http://example.org/{n}/{{doc_id}}>",
                "<http://example.org/def/id>": "{doc_id}"}}
            for n in ("a", "b", "c")
        ],
    }, auto_declare=False)

    def cached_ids():
        return {s.id() for s in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached_ids()  # other tests may legitimately hold caches
    stream_df = (spark.readStream.schema("doc_id long")
                 .option("maxFilesPerTrigger", 1).parquet(src))
    query = stream_mapping(spec, stream_df, str(tmp_path / "quads"),
                           str(tmp_path / "ckpt"))
    query.awaitTermination(120)
    assert query.lastProgress["batchId"] == 3  # one batch per file
    assert spark.read.parquet(str(tmp_path / "quads")).count() == 60
    deadline = time.time() + 10  # unpersist is asynchronous
    while cached_ids() - before and time.time() < deadline:
        time.sleep(0.2)
    leaked = cached_ids() - before
    assert not leaked, leaked
