"""py4j sends per compile: the compiler crosses into the JVM about once
per expression, not once per expression node.

Each test wraps the gateway client's ``send_command`` and counts the
sends the compiling thread makes over one warm compile.  py4j's own
thread releases dead JVM objects at times of its choosing, so its sends
are left out to keep the count exact.  A budget is the count measured
when it was set plus 15%; it may go down, never up."""

import contextlib
import threading

from rdf_mapper_spark.engine import MapperEngine
from rdf_mapper_spark.spec import MappingSpec

CSV_BUDGET = 3_702   # 3,219 measured
JSON_BUDGET = 4_547  # 3,954 measured
KG_BUDGET = 5_776    # 5,023 measured

_GLOBALS = {"$datasetBase": "http://data.example.org/reg"}
_STATUS = {
    "A": "<http://data.example.org/def/status/Approved>",
    "W": "<http://data.example.org/def/status/Withdrawn>",
}
_PRODUCT = {
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
}
CSV_SPEC = {
    "globals": _GLOBALS,
    "mappings": {"status": _STATUS},
    "resources": [{"name": "product", "properties": dict(_PRODUCT)}],
}
JSON_SPEC = {
    "globals": _GLOBALS,
    "mappings": {"status": _STATUS},
    "resources": [{"name": "product", "properties": {
        **_PRODUCT, "component": "{components | map_to('component')}"}}],
    "embedded": [{"name": "component", "properties": {
        "@id": "<http://data.example.org/component/{sku}>",
        "share": "{share}"}}],
}
_ROW = ("R1", "Field Blend", "2001-02-03", "Herbicide", "A", "12",
        "winter crop supply", "outdoor, liquid")
_COLS = ("id string, name string, registered string, category string, "
         "status string, qty string, description string, tags string")


@contextlib.contextmanager
def _counting_sends(spark):
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    count = [0]

    caller = threading.get_ident()

    def counted(*args, **kwargs):
        count[0] += threading.get_ident() == caller
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        yield count
    finally:
        client.send_command = send


def _warm_sends(spark, compile_once) -> int:
    compile_once()  # first call pays one-time JVM lookups
    with _counting_sends(spark) as count:
        compile_once()
    return count[0]


def test_csv_products_apply_send_budget(spark):
    df = spark.createDataFrame([_ROW], _COLS)
    n = _warm_sends(spark, lambda: MapperEngine(MappingSpec(CSV_SPEC))
                    .apply(df, file_name="f"))
    assert n <= CSV_BUDGET, n


def test_json_products_apply_send_budget(spark):
    df = spark.createDataFrame(
        [_ROW + ([("C1", 40), ("C2", 60)],)],
        _COLS + ", components array<struct<sku:string,share:bigint>>")
    n = _warm_sends(spark, lambda: MapperEngine(MappingSpec(JSON_SPEC))
                    .apply(df, file_name="f"))
    assert n <= JSON_BUDGET, n


def test_kg_build_quads_split_send_budget(spark):
    from rdf_mapper_spark.pipeline.run import build_quads_split

    extracted = spark.createDataFrame(
        [("http://a.org/p1", "2020-01-01", "text", "en")],
        "url string, warc_ts string, text string, lang string")
    links = spark.createDataFrame(
        [("http://a.org/p1", "Berlin", "http://e.org/B", "http://e.org/C")],
        "url string, mention string, entity_iri string, entity_type string")
    n = _warm_sends(spark, lambda: build_quads_split(extracted, links))
    assert n <= KG_BUDGET, n
