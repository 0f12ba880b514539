"""A mapping compiles once per (spec, input schema) and every apply binds
that compile to its own frame (engine.PreparedMapping, plan_cache)."""

from rdf_mapper_spark import plan_cache
from rdf_mapper_spark.engine import MapperEngine
from rdf_mapper_spark.spec import MappingSpec

from tests.conftest import quads_of_df

SPEC = {
    "globals": {"$datasetBase": "http://b.example/ds"},
    "mappings": {"status": {"A": "<http://b.example/s/A>"}},
    "resources": [{"name": "r", "properties": {
        "@id": "<http://x/r/{id}>",
        "status": "{status | map_by('status')}"}}],
}
COLS = "id string, status string"


def _counting_prepare(monkeypatch) -> list:
    calls = []
    prepare = MapperEngine.prepare

    def counted(self, prepared):
        calls.append(1)
        return prepare(self, prepared)

    monkeypatch.setattr(MapperEngine, "prepare", counted)
    return calls


def test_second_file_binds_its_own_rows(spark, monkeypatch):
    calls = _counting_prepare(monkeypatch)
    plan_cache.clear()
    first = spark.createDataFrame([("1", "A"), ("2", "X")], COLS)
    second = spark.createDataFrame([("3", "Y"), ("4", "Z"), ("5", "A")],
                                   COLS)
    e1 = MapperEngine(MappingSpec(SPEC, auto_declare=False))
    q1 = quads_of_df(e1.apply(first, file_name="a"))
    e2 = MapperEngine(MappingSpec(SPEC, auto_declare=False))
    q2 = quads_of_df(e2.apply(second, file_name="b"))
    assert len(calls) == 1
    assert list(e1.count_errors().values()) == [1]
    assert list(e2.count_errors().values()) == [2]
    assert {q.s.value for q in q1} == {"http://x/r/1"}
    assert {q.s.value for q in q2} == {"http://x/r/5"}


def test_schema_or_spec_change_misses(spark, monkeypatch):
    calls = _counting_prepare(monkeypatch)
    plan_cache.clear()
    df = spark.createDataFrame([("1", "A")], COLS)
    MapperEngine(MappingSpec(SPEC)).apply(df)
    MapperEngine(MappingSpec(SPEC)).apply(
        df.withColumnRenamed("status", "state"))
    MapperEngine(MappingSpec(SPEC)).apply(
        spark.createDataFrame([(1, "A")], "id bigint, status string"))
    edited = {**SPEC, "mappings": {"status": {"A": "<http://b.example/s/B>"}}}
    out = MapperEngine(MappingSpec(edited)).apply(df)
    assert len(calls) == 4
    assert "http://b.example/s/B" in {q.o.value for q in quads_of_df(out)}


def test_row_templated_graph_add_resolves_per_bind(spark):
    spec = {"globals": {"$datasetBase": "http://b.example/ds"},
            "resources": [{"name": "r", "@graphAdd": "<http://g/{grp}>",
                           "properties": {"@id": "<http://x/r/{id}>",
                                          "v": "{id}"}}]}
    plan_cache.clear()
    e1 = MapperEngine(MappingSpec(spec, auto_declare=False))
    e1.apply(spark.createDataFrame([("1", "a")], "id string, grp string"))
    e2 = MapperEngine(MappingSpec(spec, auto_declare=False))
    e2.apply(spark.createDataFrame([("2", "b")], "id string, grp string"))
    assert e1.resolve_preserved_graphs() == {"http://g/a"}
    assert e2.resolve_preserved_graphs() == {"http://g/b"}


def test_clock_spec_is_never_kept(spark, monkeypatch):
    calls = _counting_prepare(monkeypatch)
    spec = {"globals": {"$datasetBase": "http://b.example/ds"},
            "resources": [{"name": "r", "properties": {
                "@id": "<http://x/r/{id}>", "at": "{id | now}"}}]}
    df = spark.createDataFrame([("1",)], "id string")
    for _ in range(2):
        MapperEngine(MappingSpec(spec, auto_declare=False)).apply(df)
    assert len(calls) == 2


def test_other_application_never_sees_an_entry(spark, monkeypatch):
    calls = _counting_prepare(monkeypatch)
    df = spark.createDataFrame([("1", "A")], COLS)
    MapperEngine(MappingSpec(SPEC)).apply(df)
    sc_type = type(spark.sparkContext)
    monkeypatch.setattr(sc_type, "applicationId",
                        property(lambda self: "another-application"))
    MapperEngine(MappingSpec(SPEC)).apply(df)
    assert len(calls) == 2


def test_stream_micro_batches_prepare_once(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from rdf_mapper_spark.streaming import stream_mapping

    calls = _counting_prepare(monkeypatch)
    plan_cache.clear()
    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).select(
            F.col("id").cast("string").alias("id"),
            F.lit("A").alias("status")).coalesce(1).write.mode(
            "append").parquet(src)
    stream_df = (spark.readStream.schema(COLS)
                 .option("maxFilesPerTrigger", 1).parquet(src))
    query = stream_mapping(MappingSpec(SPEC, auto_declare=False), stream_df,
                           str(tmp_path / "out"), str(tmp_path / "ckpt"))
    query.awaitTermination(120)
    batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 3
    assert len(calls) == 1
    assert spark.read.parquet(str(tmp_path / "out")).count() == 30


def test_reconcile_spec_is_never_kept(spark, monkeypatch):
    calls = _counting_prepare(monkeypatch)
    spec = {"globals": {"$datasetBase": "http://b.example/ds"},
            "resources": [{"name": "r", "properties": {
                "@id": "<http://x/r/{id}>",
                "org": "{org | reconcile('orgname')}"}}]}
    df = spark.createDataFrame([("1", "acme")], "id string, org string")
    for _ in range(2):
        out = MapperEngine(MappingSpec(spec, auto_declare=False),
                           alias_map={"acme": "http://o/acme"}).apply(df)
    assert len(calls) == 2
    assert "http://o/acme" in {q.o.value for q in quads_of_df(out)}


def test_one_off_quads_are_each_engines_own(spark, monkeypatch):
    """A one-off minted per engine (<uuid>, now) is folded by each engine;
    a kept compile never carries another engine's value, neither in its
    quads nor in a <::name> reference to the one-off subject."""
    calls = _counting_prepare(monkeypatch)
    plan_cache.clear()
    spec = {"globals": {"$datasetBase": "http://b.example/ds"},
            "one_offs": [{"name": "run", "properties": {
                "@id": "<uuid>", "at": "{$file | now}"}}],
            "resources": [{"name": "r", "properties": {
                "@id": "<http://x/r/{id}>", "run": "<::run>"}}]}
    df = spark.createDataFrame([("1",)], "id string")
    runs, stamps = [], []
    for _ in range(2):
        quads = quads_of_df(MapperEngine(
            MappingSpec(spec, auto_declare=False)).apply(df))
        run = {q.o.value for q in quads if q.p.endswith("run")}
        assert len(run) == 1
        assert {q.s.value for q in quads if q.p.endswith("at")} == run
        runs.append(run.pop())
        stamps.append({q.o.value for q in quads if q.p.endswith("at")})
    assert runs[0] != runs[1]
    assert len(stamps[0]) == 1 and stamps[0] != stamps[1]
    # the engines' one-off subjects differ, so neither compile serves the
    # other; an engine's second apply is a hit
    assert len(calls) == 2


def test_deterministic_one_offs_share_the_compile(spark, monkeypatch):
    calls = _counting_prepare(monkeypatch)
    plan_cache.clear()
    spec = {"globals": {"$datasetBase": "http://b.example/ds"},
            "one_offs": [{"name": "ds", "properties": {
                "@id": "<http://x/ds>", "label": "products"}}],
            "resources": [{"name": "r", "properties": {
                "@id": "<http://x/r/{id}>", "in": "<::ds>"}}]}
    df = spark.createDataFrame([("1",)], "id string")
    outs = [set(quads_of_df(MapperEngine(
        MappingSpec(spec, auto_declare=False)).apply(df))) for _ in range(2)]
    assert len(calls) == 1
    assert outs[0] == outs[1]
    assert any(q.o.value == "http://x/ds" for q in outs[0])


def test_api_reconcile_spec_is_never_kept(spark, tmp_path, monkeypatch):
    """A $reconciliationAPI lookup reads the input's keys: each apply
    prepares again and asks the service for its own keys."""
    import json

    calls = _counting_prepare(monkeypatch)
    log = tmp_path / "calls.jsonl"

    def transport(endpoint, batch):
        with open(log, "a") as fh:
            fh.write(json.dumps(batch) + "\n")
        return {i: {"result": [{"id": "http://o/" + q["query"],
                                "match": True}]}
                for i, q in batch.items()}

    spec = {"globals": {"$datasetBase": "http://b.example/ds",
                        "$reconciliationAPI": "http://svc/reconcile"},
            "resources": [{"name": "r", "properties": {
                "@id": "<http://x/r/{id}>",
                "org": "{org | reconcile('orgname')}"}}]}
    objects = []
    for key in ("acme", "globex"):
        df = spark.createDataFrame([("1", key)], "id string, org string")
        out = MapperEngine(MappingSpec(spec, auto_declare=False),
                           reconcile_transport=transport).apply(df)
        objects.append({q.o.value for q in quads_of_df(out)})
    assert len(calls) == 2
    assert "http://o/acme" in objects[0] and "http://o/globex" in objects[1]
    asked = [q["query"] for line in log.read_text().splitlines()
             for q in json.loads(line).values()]
    assert sorted(set(asked)) == ["acme", "globex"]


def test_kg_step_from_the_cache_equals_a_fresh_compile(spark, monkeypatch):
    """The KG step's page, link and entity specs bound from kept compiles
    give the same quads as a compile of their own."""
    from rdf_mapper_spark.pipeline.canonicalize import (
        canonical_mapping,
        sameas_edges_from_aliases,
    )
    from rdf_mapper_spark.pipeline.datagen import make_alias_dict, make_pages
    from rdf_mapper_spark.pipeline.run import kg_step
    from rdf_mapper_spark.quads import union_quads

    aliases = make_alias_dict(spark, 20)
    mapping = canonical_mapping(sameas_edges_from_aliases(aliases))

    def quads(pages) -> set:
        page_q, canonical = kg_step(pages, aliases, lambda: mapping,
                                    lambda name, build: build())
        return {tuple(r) for r in union_quads([page_q, canonical()])
                .collect()}

    calls = _counting_prepare(monkeypatch)
    plan_cache.clear()
    quads(make_pages(spark, 40, n_entities=20, seed=1))
    pages = make_pages(spark, 40, n_entities=20, seed=2)
    kept = quads(pages)
    assert len(calls) == 3
    plan_cache.clear()
    fresh = quads(pages)
    assert len(calls) == 6
    assert kept == fresh and len(kept) > 100
