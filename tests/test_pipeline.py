"""Web-scale pipeline tests at toy scale: extraction byte-identity,
linking, connected-components canonicalization, checkpoint resume."""

import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F

from rdf_mapper_spark.pipeline.canonicalize import (
    canonical_mapping,
    connected_components,
    sameas_edges_from_aliases,
)
from rdf_mapper_spark.pipeline.datagen import make_alias_dict, make_pages
from rdf_mapper_spark.pipeline.extract import extract_text, with_extracted_text
from rdf_mapper_spark.pipeline.linking import detect_mentions, link_entities
from rdf_mapper_spark.pipeline.run import run_pipeline


def test_extraction_byte_identity(spark):
    """Distributed extraction must match the reference extractor per url."""
    pages = make_pages(spark, 200, n_entities=30)
    got = {
        r["url"]: r["t"]
        for r in with_extracted_text(pages)
        .select("url", F.col("extracted_text").alias("t")).collect()
    }
    for r in pages.select("url", "html").collect():
        assert got[r["url"]] == extract_text(bytes(r["html"])), r["url"]


def test_extraction_determinism(spark):
    pages = make_pages(spark, 50, n_entities=10)
    a = sorted(with_extracted_text(pages).select("extracted_text").toPandas()
               ["extracted_text"])
    b = sorted(with_extracted_text(pages).select("extracted_text").toPandas()
               ["extracted_text"])
    assert a == b


def test_linking_finds_planted_entities(spark):
    pages = make_pages(spark, 300, n_entities=40)
    aliases = make_alias_dict(spark, 40)
    links = link_entities(pages, aliases)
    n = links.count()
    # 3 mentions planted per page; every mention is in the dictionary
    assert n >= 300 * 2, n
    assert links.where(~F.col("entity_iri").startswith("http://")).count() == 0


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("z", "z")], ["src", "dst"]
    )
    # both execution paths: driver union-find and the distributed loop
    for threshold in (2_000_000, 0):
        comp = {
            r["node"]: r["comp"]
            for r in connected_components(
                edges, driver_threshold=threshold
            ).collect()
        }
        assert comp["a"] == comp["b"] == comp["c"] == "a"
        assert comp["x"] == comp["y"] == "x"


def test_connected_components_chain_distributed(spark):
    """A length-9 path exercises multiple propagation+jump rounds."""
    nodes = [f"n{i}" for i in range(10)]
    edges = spark.createDataFrame(
        [(nodes[i + 1], nodes[i]) for i in range(9)], ["src", "dst"]
    )
    comp = {
        r["node"]: r["comp"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert set(comp.values()) == {"n0"}


def test_canonical_mapping_merges_legacy(spark):
    aliases = make_alias_dict(spark, 30)
    mapping = canonical_mapping(sameas_edges_from_aliases(aliases))
    rows = {r["iri"]: r["canonical"] for r in mapping.collect()}
    # every legacy IRI maps to the canonical entity IRI
    assert rows["http://kg.example.org/legacy/0"] == \
        "http://kg.example.org/entity/0"
    assert all("/legacy/" in k for k in rows), rows


def test_pipeline_end_to_end_and_resume(spark, tmp_path, monkeypatch):
    import rdf_mapper_spark.pipeline.run as run_mod
    from rdf_mapper_spark.engine import MapperEngine

    pages = make_pages(spark, 400, n_entities=50)
    aliases = make_alias_dict(spark, 50)
    workdir = str(tmp_path / "ckpt")
    m1 = run_pipeline(spark, pages, aliases, workdir=workdir,
                      materialize=False)
    assert m1["triples"] > 400
    # no legacy IRIs survive canonicalization
    final = spark.read.parquet(f"{workdir}/canonical")
    assert final.where(F.col("s").contains("/legacy/")).count() == 0
    assert final.where((F.col("ok") == "iri")
                       & F.col("o").contains("/legacy/")).count() == 0
    # second run resumes every stage from checkpoint, and a resumed stage
    # compiles no spec and builds no canonical mapping
    calls = []

    def counted(fn):
        return lambda *a, **k: calls.append(fn.__name__) or fn(*a, **k)

    monkeypatch.setattr(MapperEngine, "__init__",
                        counted(MapperEngine.__init__))
    monkeypatch.setattr(run_mod, "canonical_mapping",
                        counted(run_mod.canonical_mapping))
    m2 = run_pipeline(spark, pages, aliases, workdir=workdir,
                      materialize=False)
    assert calls == []
    assert m2["triples"] == m1["triples"]
    assert all(v.get("resumed") for v in m2["stages"].values()), m2["stages"]
    # lineage metrics recorded per partition
    assert all("per_partition" in v or v.get("resumed")
               for v in m1["stages"].values())


def test_connected_components_hybrid_threshold_switches(spark):
    """Above driver_threshold the distributed loop must engage and agree
    with the driver union-find on the same graph."""
    from pyspark.sql import functions as F

    # 3 chains of 40 nodes each -> 117 edges
    rows = []
    for c in range(3):
        for i in range(39):
            rows.append((f"c{c}-n{i:02d}", f"c{c}-n{i+1:02d}"))
    edges = spark.createDataFrame(rows, ["src", "dst"])
    driver = {(r.node, r.comp) for r in connected_components(
        edges, driver_threshold=1_000_000).collect()}
    distributed = {(r.node, r.comp) for r in connected_components(
        edges, driver_threshold=10).collect()}   # 117 > 10 -> distributed
    assert driver == distributed
    comps = {c for _, c in distributed}
    assert comps == {"c0-n00", "c1-n00", "c2-n00"}


def test_resume_invalidated_by_changed_inputs(spark, tmp_path):
    """A changed alias table (same column count!) must force recompute —
    the fingerprint covers input content, not just shape."""
    pages = make_pages(spark, 100, n_entities=20)
    aliases = make_alias_dict(spark, 20)
    workdir = str(tmp_path / "ckpt2")
    m1 = run_pipeline(spark, pages, aliases, workdir=workdir,
                      materialize=False)
    assert not any(v.get("resumed") for v in m1["stages"].values())
    # drop half the dictionary: stages must NOT resume from stale parquet
    smaller = aliases.limit(aliases.count() // 2)
    m2 = run_pipeline(spark, pages, smaller, workdir=workdir,
                      materialize=False)
    assert not any(v.get("resumed") for v in m2["stages"].values()), \
        m2["stages"]


def test_jvm_extractor_matches_reference_fuzz(spark):
    """JVM extract_text_col vs the pure-Python reference on adversarial
    valid-UTF-8 html: tag soup, nested script/style, comments, unicode
    whitespace, unclosed tags."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F
    from pyspark.sql.types import (BinaryType, StructField, StructType)

    from rdf_mapper_spark.pipeline.extract import extract_text, extract_text_col

    frag = st.sampled_from([
        "<p>", "</p>", "text", "mot cle", "<script>var x=1;</script>",
        "<SCRIPT a=b>ignored</SCRIPT>", "<style>.c{}</style>",
        "<!-- hidden -->", "<!--", "-->", "<div class='x'", ">", "<",
        " ", " ", "  ", "\t", "café", "<br/>",
        "<script>", "</script>", "&amp;",
    ])
    html_s = st.lists(frag, min_size=0, max_size=12).map("".join)

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.lists(html_s, min_size=1, max_size=6))
    def run(docs):
        rows = [(d.encode("utf-8"),) for d in docs]
        df = spark.createDataFrame(
            rows, StructType([StructField("html", BinaryType())]))
        got = [r.e for r in df.select(
            extract_text_col(F.col("html")).alias("e")).collect()]
        want = [extract_text(d.encode("utf-8")) for d in docs]
        assert got == want

    run()


def test_make_pages_hot_entity_plant(spark):
    from pyspark.sql import functions as F

    hot = make_pages(spark, 1000, n_entities=50, hot_entity_frac=0.10,
                     hot_entity="Entity1")
    n_hot = hot.where(F.col("text").rlike(r"\bEntity1\b")).count()
    # ~10% planted (plus natural Entity1 occurrences); deterministic
    assert 80 <= n_hot <= 250
    again = make_pages(spark, 1000, n_entities=50, hot_entity_frac=0.10,
                       hot_entity="Entity1")
    assert hot.select("url", "text").exceptAll(
        again.select("url", "text")).count() == 0


def test_failed_stage_leaves_no_pool_thread(spark):
    """A fused run whose extraction raises must shut its canonical-mapping
    thread pool down: no ThreadPoolExecutor worker may outlive the call."""
    def pool_threads():
        return {t for t in threading.enumerate()
                if t.name.startswith("ThreadPoolExecutor-")}

    before = pool_threads()
    no_html = spark.createDataFrame([("http://p/1", "2020")],
                                    "url string, warc_ts string")
    with pytest.raises(Exception, match="html"):
        run_pipeline(spark, no_html, make_alias_dict(spark, n_entities=5))
    assert not (pool_threads() - before)
