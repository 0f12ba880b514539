"""Physical-plan regression guards: the properties that keep the engine
fast at 100 TB — predicate pushdown, column pruning, no interpreted
higher-order functions on the emission path."""

from pyspark.sql import functions as F

from rdf_mapper_spark.engine import MapperEngine
from rdf_mapper_spark.spec import MappingSpec


def _formatted_plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )


def test_filters_push_into_parquet_scan(spark, tmp_path):
    src = str(tmp_path / "t")
    spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), F.col("id")).alias("source"),
        (F.col("id") * 3).alias("n_chars"),
    ).write.parquet(src)
    df = spark.read.parquet(src)
    spec = MappingSpec({
        "globals": {"$datasetBase": "http://x"},
        "resources": [{
            "name": "d",
            "requires": {"source": "s3"},
            "guard": "n_chars > 20",
            "properties": {"@id": "<http://x/{doc_id}>",
                           "<http://x/def/src>": "{source}"},
        }],
    }, auto_declare=False)
    quads = MapperEngine(spec).apply(df, dedup=False)
    plan = _formatted_plan(quads)
    assert "PushedFilters:" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "EqualTo(source,s3)" in pushed
    assert "GreaterThan(n_chars,20)" in pushed
    # column pruning: doc_id/source/n_chars only
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read and "source" in read
    assert "extra" not in read


def test_no_interpreted_hofs_on_scalar_emission(spark, tmp_path):
    """The scalar quad-emission path must stay free of transform/filter
    (ArrayTransform/ArrayFilter disable whole-stage codegen)."""
    src = str(tmp_path / "t2")
    spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
    ).write.parquet(src)
    df = spark.read.parquet(src)
    spec = MappingSpec({
        "globals": {"$datasetBase": "http://x"},
        "resources": [{
            "name": "d",
            "properties": {
                "@id": "<http://x/{doc_id}>",
                "<http://x/def/a>": "{val}",
                "<http://x/def/b>": "{val | toUpper}",
                "<http://x/def/c>": "{doc_id | asInt}",
            },
        }],
    }, auto_declare=False)
    quads = MapperEngine(spec).apply(df, dedup=False)
    plan = _formatted_plan(quads)
    assert "transform(" not in plan
    assert "filter(" not in plan.replace("PushedFilters", "")
    # formatted mode marks codegen'd operators with "[codegen id : N]"
    assert "codegen id" in plan


def test_simhash_hash_udf_computed_once(spark):
    """The banded pair generation must not recompute the hash UDF per join
    side.  The groupBy + in-bucket array expansion formulation has a single
    scan branch, so the plan carries exactly ONE ArrowEvalPython node and —
    unlike the old persisted-self-join formulation — no cached state to
    leak (no InMemoryTableScan, nothing left in the cache manager)."""
    from rdf_mapper_spark.ops.dedup import simhash_near_dups

    docs = spark.createDataFrame(
        [(i, f"token{i} alpha beta gamma") for i in range(20)],
        ["doc_id", "text"],
    )
    def cached_ids():
        return {s.id() for s in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached_ids()  # other tests may legitimately hold caches
    pairs = simhash_near_dups(docs, max_hamming=3)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "InMemoryTableScan" not in plan, plan
    pairs.count()
    # the old formulation leaked a session-lifetime persist per call
    leaked = cached_ids() - before
    assert not leaked, leaked


def test_embedding_near_dups_is_not_cartesian(spark):
    """The bucketed near-dup plan must join on the bucket key — a
    CartesianProduct/BroadcastNestedLoop node means the LSH bucketing fell
    out of the plan."""
    from rdf_mapper_spark.ops.dedup import embedding_near_dups

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0, 0.5]) for i in range(30)],
        ["vec_id", "embedding"],
    )
    pairs = embedding_near_dups(emb, threshold=0.9, n_planes=3, dim=4)
    plan = _formatted_plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_text_ops_no_python_no_shuffle(spark):
    """analyze_documents + winnow fingerprints are map-only JVM plans: no
    *EvalPython (would mean a Python worker round-trip per batch) and no
    Exchange (a shuffle in a per-row projection would be a planning bug)."""
    from pyspark.sql import functions as F

    from rdf_mapper_spark.ops.text import analyze_documents, winnow_fingerprints

    docs = spark.createDataFrame(
        [(i, f"some sample text number {i} with words") for i in range(10)],
        ["doc_id", "text"],
    )
    for df in (
        analyze_documents(docs),
        docs.select("doc_id",
                    F.explode(winnow_fingerprints(F.col("text"))).alias("fp")),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, plan
        assert "Exchange" not in plan, plan


def test_kg_pipeline_plan_is_pure_jvm(spark):
    """With the JVM extractor, the ENTIRE fused KG pipeline plan (extract
    -> link -> triples -> canonicalize -> dedup) contains zero *EvalPython
    nodes — no Python workers anywhere on the 100-TB path."""
    from rdf_mapper_spark.pipeline.canonicalize import (
        canonical_mapping,
        sameas_edges_from_aliases,
    )
    from rdf_mapper_spark.pipeline.datagen import make_alias_dict, make_pages
    from rdf_mapper_spark.pipeline.run import kg_step
    from rdf_mapper_spark.quads import union_quads

    pages = make_pages(spark, 500, n_entities=50)
    aliases = make_alias_dict(spark, 50)
    mapping = canonical_mapping(sameas_edges_from_aliases(aliases))
    page_q, canonical = kg_step(pages, aliases, lambda: mapping,
                                lambda name, build: build())
    final = union_quads([page_q, canonical()])
    plan = final._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_decontaminate_probe_is_broadcast_no_cartesian(spark, tmp_path):
    """Decontamination: benchmark gram set broadcasts (probe fused into the
    exploded scan), no cartesian product, no Python on the path."""
    from rdf_mapper_spark.ops.dedup import contaminated_docs

    src = str(tmp_path / "docs")
    spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta word"),
                 (F.col("id") % 7).cast("string")).alias("text"),
    ).write.parquet(src)
    d = spark.read.parquet(src)
    out = contaminated_docs(d.where("doc_id % 10 != 0"),
                            d.where("doc_id % 10 = 0"), n=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "EvalPython" not in plan
    assert out.count() > 0


def test_curation_single_logical_shuffle(spark):
    """curate_corpus = scan-absorbed quality+scrub projections, ONE
    shuffle (the content-hash dedup window), one sample filter — no
    joins, no Python."""
    from rdf_mapper_spark.pipeline.curation import curate_corpus

    d = spark.createDataFrame(
        [(i, "en", "the quick brown fox jumps over the lazy dog and then "
          "the curious cat watched the garden birds in the quiet morning "
          f"note {i}") for i in range(50)],
        ["doc_id", "lang", "text"])
    plan = (curate_corpus(d, {"en": 1.0}, seed=1)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1, plan
    assert "EvalPython" not in plan
    assert "Join" not in plan


def test_unigram_vocab_topk_is_distributed(spark):
    """The vocabulary cap must compile to TakeOrderedAndProject
    (per-partition bounded heaps), never an unpartitioned row_number
    window that funnels every distinct token into one task — on a web
    corpus distinct tokens run to billions of unicode-noise strings."""
    from rdf_mapper_spark.ops.lm import unigram_vocab

    d = spark.createDataFrame(
        [(i, f"the quick token{i % 13} fox") for i in range(40)],
        ["doc_id", "text"])
    plan = (unigram_vocab(d, top_k=5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    # No full-width global sort: the token-keyed branch feeds straight
    # into the bounded-heap top-k.  (The scalar `total` aggregate's
    # 1-row-per-partition SinglePartition exchange is bounded and fine.)
    assert "Sort [" not in plan, plan


def test_dedup_paragraphs_two_shuffles_no_python(spark):
    """One md5(paragraph)-keyed window exchange + one doc regroup —
    never a paragraph-text shuffle key, never Python."""
    from rdf_mapper_spark.ops.dedup import dedup_paragraphs

    d = spark.createDataFrame(
        [(i, f"alpha {i}\nshared line\nbeta {i}") for i in range(20)],
        ["doc_id", "text"])
    plan = (dedup_paragraphs(d)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 2, plan
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan


def test_cap_per_key_no_single_partition(spark):
    from rdf_mapper_spark.ops.sampling import cap_per_key

    d = spark.createDataFrame(
        [(i, "hot" if i % 2 else f"k{i}") for i in range(40)],
        ["doc_id", "k"])
    plan = (cap_per_key(d, "k", 3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange SinglePartition" not in plan, plan
    assert "EvalPython" not in plan


def _embedded_subject_plan(spark, id_template):
    spec = MappingSpec({
        "globals": {"$datasetBase": "http://base.example/ds"},
        "resources": [{
            "name": "r",
            "properties": {"@id": "<http://x/r/{id}>",
                           "<http://x/def/part>": "{parts | map_to('part')}"},
        }],
        "embedded": [{
            "name": "part",
            "properties": {"@id": id_template, "<http://x/def/n>": "{n}"},
        }],
    }, auto_declare=False)
    df = spark.createDataFrame(
        [("1", [("s1", 1)])],
        "id string, parts array<struct<sku:string,n:bigint>>")
    quads = MapperEngine(spec).apply(df, dedup=False)
    return quads._jdf.queryExecution().optimizedPlan().toString()


def test_scheme_headed_embedded_subject_has_no_curie_lookup(spark):
    """'<http://x/c/{sku}>' keeps its scheme and its '/' through the suffix
    strip, so the CURIE expansion (a namespace map lookup) and absolutize
    fold away; a head a CURIE could extend ('urn:') keeps the lookup."""
    assert "map(keys:" not in _embedded_subject_plan(
        spark, "<http://x/c/{sku}>")
    assert "map(keys:" in _embedded_subject_plan(spark, "<urn:{sku}>")


def test_products_json_plan_stays_small(spark):
    """A products-shaped JSON spec (hash subject, date parse, autoCV,
    map_by, lang literals, split, map_to components with a scheme-headed
    subject) keeps a small analyzed plan. Carrying the unfolded
    strip/CURIE/absolutize tree into every subject reference makes it
    ~840k chars and pushes the emission stage past the 64 KB
    generated-method limit; folded, it is ~115k."""
    spec = MappingSpec({
        "globals": {"$datasetBase": "http://data.example.org/reg"},
        "mappings": {"status": {
            "A": "<http://data.example.org/def/status/Approved>",
            "W": "<http://data.example.org/def/status/Withdrawn>"}},
        "resources": [{"name": "product", "properties": {
            "@id": "<hash(id,name)>",
            "@type": "<http://data.example.org/def/Product>",
            "<rdfs:label>": "{name}@en",
            "regNo": "{id}",
            "registered": "{registered | asDate}",
            "category": "{category | autoCV('category')}",
            "status": "{status | map_by('status')}",
            "quantity": "{qty | asInt}",
            "description": "{description}@en",
            "tag": "{tags | splitComma}",
            "component": "{components | map_to('component')}"}}],
        "embedded": [{"name": "component", "properties": {
            "@id": "<http://data.example.org/component/{sku}>",
            "share": "{share}"}}],
    })
    df = spark.createDataFrame(
        [("1", "n", "2020-01-01", "c", "A", "3", "d", "a,b", [("s", 0.5)])],
        "id string, name string, registered string, category string, "
        "status string, qty string, description string, tags string, "
        "components array<struct<sku:string,share:double>>")
    quads = MapperEngine(spec).apply(df)
    analyzed = quads._jdf.queryExecution().analyzed().toString()
    assert len(analyzed) < 250_000, len(analyzed)


def test_minting_only_spec_runs_no_python(spark):
    """sha1-base32hex minting is Catalyst: <hash(..)> subjects, autoCV
    hash concepts and the hash() transformer leave no *EvalPython node."""
    spec = MappingSpec({
        "globals": {"$datasetBase": "http://x"},
        "resources": [{
            "name": "d",
            "properties": {
                "@id": "<hash(id,name)>",
                "<http://x/def/cv>": "{name | autoCV('names', 'hash')}",
                "<http://x/def/h>": "{name | hash('salt')}",
                "<http://x/def/c>": "<http://x/c/{name}>",
            },
        }],
    }, auto_declare=False)
    df = spark.createDataFrame([("1", "a"), ("2", None)], "id string, name string")
    quads = MapperEngine(spec).apply(df)
    plan = quads._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def _one_scan_plan_collects_with_codegen(spark, quads):
    """One file scan, no limit(1) gate, one exchange (the set-dedup); the
    collect runs with codegen fallback off, so a generated method over
    the 64 KB limit fails here instead of silently running interpreted."""
    plan = quads._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert plan.count("GlobalLimit") == 0, plan
    assert plan.count("Exchange") == 1, plan
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        return quads.collect()
    finally:
        spark.conf.unset("spark.sql.codegen.fallback")


def test_products_csv_apply_is_one_scan(spark, tmp_path):
    import csv

    from rdf_mapper_spark.sources import read_csv
    from tests.test_py4j_budget import _COLS, _ROW, CSV_SPEC

    path = str(tmp_path / "p.csv")
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow([c.split()[0] for c in _COLS.split(", ")])
        w.writerow(_ROW)
        w.writerow(("R2", "Other", "", "", "Z", "7", "", ""))
    quads = MapperEngine(MappingSpec(CSV_SPEC)).apply(
        read_csv(spark, path), file_name="p")
    assert _one_scan_plan_collects_with_codegen(spark, quads)


def test_products_json_apply_with_map_to_is_one_scan(spark, tmp_path):
    import json

    from rdf_mapper_spark.sources import read_jsonlines
    from tests.test_py4j_budget import _COLS, _ROW, JSON_SPEC

    names = [c.split()[0] for c in _COLS.split(", ")]
    rows = [dict(zip(names, _ROW), components=[
                {"sku": "C1", "share": 40}, {"sku": "C2", "share": 60}]),
            dict(zip(names, _ROW), id="R2", components=None)]
    path = str(tmp_path / "p.jsonl")
    with open(path, "w") as fh:
        fh.write("".join(json.dumps(r) + "\n" for r in rows))
    quads = MapperEngine(MappingSpec(JSON_SPEC)).apply(
        read_jsonlines(spark, path), file_name="p")
    out = _one_scan_plan_collects_with_codegen(spark, quads)
    assert any(r.s == "http://data.example.org/component/C2" for r in out)
