"""Corpus prefilter stage (pipeline/prefilter.py): quality verdict +
canonical-URL dedup composed into the KG pipeline."""

from pyspark.sql import functions as F

from rdf_mapper_spark.pipeline.prefilter import prefilter_pages

# passes every quality rule: 27 tokens, stopword-rich, all-alpha words
GOOD = ("the curious researchers examined the ancient library and the "
        "students gathered around the wooden tables to discuss the findings "
        "of the expedition in the quiet evening")


def _extracted(spark, rows):
    df = spark.createDataFrame(rows, ["url", "text", "lang"])
    return df.withColumn(
        "warc_ts", F.lit("2025-01-01 00:00:00").cast("timestamp")
    ).select("url", "warc_ts", "text", "lang")


def test_prefilter_quality_and_canonical_dedup(spark):
    rows = [
        # two URLs with the same canonical form -> one survivor, and the
        # survivor is the lexicographically smallest RAW url
        ("http://X.com:80/p?utm_source=a", GOOD, "en"),
        ("http://x.com/p", GOOD, "en"),
        ("http://y.com/q", GOOD, "en"),
        # junk: 3 tokens -> too_short -> dropped
        ("http://z.com/r", "aa bb cc", "en"),
    ]
    out = prefilter_pages(_extracted(spark, rows))
    assert {r.url for r in out.collect()} == {
        "http://X.com:80/p?utm_source=a", "http://y.com/q",
    }


def test_prefilter_flags_independent(spark):
    rows = [
        ("http://x.com/p", GOOD, "en"),
        ("http://X.com:80/p", GOOD, "en"),
        ("http://z.com/r", "aa bb cc", "en"),
    ]
    ex = _extracted(spark, rows)
    assert prefilter_pages(ex, quality=False).count() == 2      # dedup only
    assert prefilter_pages(ex, dedup_canonical_url=False).count() == 2
    assert prefilter_pages(ex, quality=False,
                           dedup_canonical_url=False).count() == 3


def test_run_pipeline_with_prefilter(spark):
    """End-to-end: junk and duplicate-canonical pages emit no triples."""
    from rdf_mapper_spark.pipeline.datagen import make_alias_dict
    from rdf_mapper_spark.pipeline.run import run_pipeline

    rows = [
        ("http://X.com:80/p?utm_source=a", GOOD, "en"),
        ("http://x.com/p", GOOD, "en"),
        ("http://y.com/q", GOOD, "en"),
        ("http://z.com/r", "aa bb cc", "en"),
    ]
    pages = _extracted(spark, rows).select(
        "url", "warc_ts",
        F.concat(F.lit("<html><body><p>"), F.col("text"),
                 F.lit("</p></body></html>")).cast("binary").alias("html"),
        "text", "lang",
    ).select("url", "warc_ts", "html", "text", "lang")
    run = run_pipeline(spark, pages, make_alias_dict(spark, 5),
                       workdir=None, materialize=False, prefilter=True)
    assert run["triples"] > 0
    # page subjects: only the two surviving urls
    from rdf_mapper_spark.engine import MapperEngine  # noqa: F401 (import parity)
    from rdf_mapper_spark.pipeline.run import page_quads
    from rdf_mapper_spark.pipeline.prefilter import prefilter_pages as pf

    kept = pf(pages.select("url", "warc_ts", "text", "lang"))
    page_q = page_quads(kept)
    subjects = {r.s for r in page_q.select("s").distinct().collect()}
    assert subjects == {"http://X.com:80/p?utm_source=a", "http://y.com/q"}


def test_link_entities_shuffle_join_matches_broadcast(spark):
    """broadcast_dict=False (the too-big-to-broadcast escape hatch) must
    produce the identical link set, and the plan must not broadcast."""
    from rdf_mapper_spark.pipeline.datagen import make_alias_dict, make_pages
    from rdf_mapper_spark.pipeline.linking import link_entities

    pages = make_pages(spark, 300, n_entities=25).select(
        "url", "warc_ts", "text", "lang")
    aliases = make_alias_dict(spark, 25)
    b = link_entities(pages, aliases)
    s = link_entities(pages, aliases, broadcast_dict=False)
    assert sorted(map(tuple, b.collect())) == sorted(map(tuple, s.collect()))
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, "escape hatch still broadcasts"


def test_prefilter_stage_checkpoints_and_resumes(spark, tmp_path):
    """prefilter=True in checkpointed mode: the stage parquet exists, and a
    re-run with identical inputs reuses every stage (resume contract holds
    for the new stage name)."""
    from rdf_mapper_spark.pipeline.datagen import make_alias_dict
    from rdf_mapper_spark.pipeline.run import run_pipeline

    rows = [
        ("http://x.com/p", GOOD, "en"),
        ("http://X.com:80/p", GOOD, "en"),
        ("http://z.com/r", "aa bb cc", "en"),
    ]
    pages = _extracted(spark, rows).select(
        "url", "warc_ts",
        F.concat(F.lit("<html><body><p>"), F.col("text"),
                 F.lit("</p></body></html>")).cast("binary").alias("html"),
        "text", "lang",
    )
    pdir = str(tmp_path / "pages")
    pages.write.parquet(pdir)
    pages = spark.read.parquet(pdir)
    w = str(tmp_path / "work")
    aliases = make_alias_dict(spark, 5)
    r1 = run_pipeline(spark, pages, aliases, workdir=w, prefilter=True)
    assert (tmp_path / "work" / "prefilter").exists()
    r2 = run_pipeline(spark, pages, aliases, workdir=w, prefilter=True)
    assert r1["triples"] == r2["triples"]
    assert all(s.get("resumed") for s in r2["stages"].values()), r2["stages"]


# healthy native-stopword ratios, >= 20 tokens, zero EN-list stopwords —
# so each survives ONLY if the stopword rule routes by its lang column
GOOD_FR = ("le chercheur examine la vieille bibliothèque et les étudiants "
           "se rassemblent autour de la grande table pour discuter les "
           "résultats de la mission dans une soirée tranquille")
GOOD_DE = ("der alte forscher untersucht die grosse bibliothek und die "
           "studenten sammeln sich um den tisch zu besprechen die "
           "ergebnisse von der reise an einem stillen abend")


def test_prefilter_routes_stopword_rule_by_lang(spark):
    """Round-3 verdict bug: prefilter judged every page against the
    ENGLISH stopword list, silently dropping healthy fr/de pages.  The
    rule must route per row by the lang column (and still default to the
    en list when routing is disabled)."""
    rows = [
        ("http://en.com/p", GOOD, "en"),
        ("http://fr.com/p", GOOD_FR, "fr"),
        ("http://de.com/p", GOOD_DE, "de"),
    ]
    ex = _extracted(spark, rows)
    routed = {r.url for r in prefilter_pages(ex).collect()}
    assert routed == {"http://en.com/p", "http://fr.com/p",
                      "http://de.com/p"}
    # the pre-fix behavior, kept opt-in: English-only rule drops fr/de
    unrouted = {r.url for r in prefilter_pages(ex, lang_col=None).collect()}
    assert unrouted == {"http://en.com/p"}


def test_prefilter_recrawl_survivor_is_latest(spark):
    """Two crawls of the SAME raw URL (url-only ordering ties): the
    survivor must be deterministic — latest warc_ts wins."""
    df = spark.createDataFrame(
        [
            ("http://x.com/p", "2025-01-01 00:00:00", GOOD + " old", "en"),
            ("http://x.com/p", "2025-06-01 00:00:00", GOOD + " new", "en"),
        ],
        ["url", "ts", "text", "lang"],
    ).select("url", F.col("ts").cast("timestamp").alias("warc_ts"),
             "text", "lang")
    out = prefilter_pages(df).collect()
    assert len(out) == 1
    assert out[0].text.endswith(" new")
