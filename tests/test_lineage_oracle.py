"""Edge cases of the single-lineage compile against the ``pyeval`` oracle.

Every resource of a spec emits from one projection and one generate: a
row's quads are one array, so a NULL piece must not drop the rest of the
row; map_to elements are an exploded level, so the parent's quads must be
emitted once whether the source is NULL, empty or long; vocabulary and
concept-scheme quads are per-row constants gated on the rows that fire."""

from rdf_mapper_spark.engine import MapperEngine
from rdf_mapper_spark.pyeval import run_mapping
from rdf_mapper_spark.spec import OWL_CLASS, RDF_PROPERTY, RDF_TYPE, MappingSpec
from rdf_mapper_spark.turtle import canonical_quadset

from tests.conftest import quads_of_df, rows_to_df

BASE = "http://b.example/ds"
SKOS = "http://www.w3.org/2004/02/skos/core#"


def _same_as_oracle(spark, spec_dict, rows, auto_declare=True):
    """Engine quads == pyeval quads; returns them as (g, s, p, o) tuples."""
    want = canonical_quadset(run_mapping(
        MappingSpec(spec_dict, auto_declare=auto_declare),
        [dict(r) for r in rows], filename="file").quads)
    engine = MapperEngine(MappingSpec(spec_dict, auto_declare=auto_declare))
    got_quads = quads_of_df(engine.apply(rows_to_df(spark, rows),
                                         file_name="file"))
    got = canonical_quadset(got_quads)
    assert got == want, (f"\n extra={sorted(map(str, got - want))}"
                         f"\n missing={sorted(map(str, want - got))}")
    return {(q.g, q.s.value, q.p, q.o.value) for q in got_quads}


def test_split_comma_over_null_and_empty_keeps_scalar_quads(spark):
    spec = {"globals": {"$datasetBase": BASE},
            "resources": [{"name": "r", "properties": {
                "@id": "<http://x/r/{id}>",
                "label": "{name}",
                "tag": "{tags | splitComma}"}}]}
    rows = [{"id": "1", "name": "a", "tags": "x, y"},
            {"id": "2", "name": "b", "tags": None},
            {"id": "3", "name": "c", "tags": ""}]
    quads = _same_as_oracle(spark, spec, rows, auto_declare=False)
    labels = {s for _, s, p, _ in quads if p == f"{BASE}/def/label"}
    assert labels == {"http://x/r/1", "http://x/r/2", "http://x/r/3"}


_PARTS_SPEC = {
    "globals": {"$datasetBase": BASE},
    "resources": [{"name": "r", "properties": {
        "@id": "<http://x/r/{id}>",
        "label": "{name}",
        "part": "{parts | map_to('part')}",
        "^partOf": "{parts | map_to('part')}"}}],
    "embedded": [{"name": "part", "properties": {
        "@id": "<http://x/p/{sku}>", "n": "{n}"}}],
}


def test_map_to_null_empty_and_long_sources_keep_parent_quads(spark):
    rows = [{"id": "1", "name": "a",
             "parts": [{"sku": "s1", "n": "1"}, {"sku": "s2", "n": "2"},
                       {"sku": "s3", "n": None}]},
            {"id": "2", "name": "b", "parts": None},
            {"id": "3", "name": "c", "parts": []}]
    quads = _same_as_oracle(spark, _PARTS_SPEC, rows)
    labels = {s for _, s, p, _ in quads if p == f"{BASE}/def/label"}
    assert labels == {"http://x/r/1", "http://x/r/2", "http://x/r/3"}
    # ^prop: the link's subject is the child, its object the parent
    part_of = {(s, o) for _, s, p, o in quads if p == f"{BASE}/def/partOf"}
    assert part_of == {(f"http://x/p/s{i}", "http://x/r/1") for i in (1, 2, 3)}


def test_map_to_missing_source_keeps_parent_quads(spark):
    spec = {**_PARTS_SPEC, "resources": [{"name": "r", "properties": {
        "@id": "<http://x/r/{id}>", "label": "{name}",
        "part": "{nope | map_to('part')}"}}]}
    quads = _same_as_oracle(spark, spec, [{"id": "1", "name": "a"}])
    assert (None, "http://x/r/1", f"{BASE}/def/label", "a") in quads


def test_autocv_over_array_labels_and_empty_label(spark):
    spec = {"globals": {"$datasetBase": BASE},
            "resources": [{"name": "r", "properties": {
                "@id": "<http://x/r/{id}>",
                "tag": "{tags | splitComma | autoCV('tags')}",
                "kind": "{kind | autoCV('kinds')}"}}]}
    rows = [{"id": "1", "tags": "red, blue", "kind": "k1"},
            {"id": "2", "tags": "", "kind": ""},
            {"id": "3", "tags": None, "kind": None}]
    quads = _same_as_oracle(spark, spec, rows)
    concepts = {s for _, s, p, o in quads
                if p == RDF_TYPE and o == SKOS + "Concept"}
    assert concepts == {f"{BASE}/def/tags/red", f"{BASE}/def/tags/blue",
                        f"{BASE}/def/kinds/k1"}


def test_autocv_over_only_empty_labels_emits_no_scheme(spark):
    spec = {"globals": {"$datasetBase": BASE},
            "resources": [{"name": "r", "properties": {
                "@id": "<http://x/r/{id}>",
                "kind": "{kind | autoCV('kinds')}"}}]}
    quads = _same_as_oracle(spark, spec, [{"id": "1", "kind": ""}])
    assert not [q for q in quads if "kinds" in q[1]]


def test_filter_rejecting_every_row_declares_nothing(spark):
    spec = {"globals": {"$datasetBase": BASE},
            "resources": [{"name": "r", "requires": {"kind": "a"},
                           "properties": {
                               "@id": "<http://x/r/{id}>",
                               "val": "{v}",
                               "cv": "{v | autoCV('vals')}"}}]}
    quads = _same_as_oracle(spark, spec, [{"id": "1", "kind": "b", "v": "p"}])
    assert quads == set()


def test_two_filters_and_a_nested_resource(spark):
    spec = {"globals": {"$datasetBase": BASE},
            "resources": [
                {"name": "A", "requires": {"kind": "a"},
                 "properties": {"@id": "<http://x/a/{id}>", "va": "{v}"}},
                {"name": "B", "unless": {"kind": "a"},
                 "properties": {
                     "@id": "<http://x/b/{id}>", "vb": "{v}",
                     "nest": {"name": "child", "requires": {"w": None},
                              "properties": {"@id": "<http://x/c/{w}>",
                                             "ww": "{w}"}}}}]}
    rows = [{"id": "1", "kind": "a", "v": "p", "w": "z1"},
            {"id": "2", "kind": "b", "v": "q", "w": "z2"},
            {"id": "3", "kind": None, "v": "r", "w": None}]
    quads = _same_as_oracle(spark, spec, rows)
    subjects = {s for _, s, p, _ in quads if p == RDF_TYPE}
    assert {"http://x/a/1", "http://x/b/2", "http://x/b/3",
            "http://x/c/z2"} <= subjects
    assert "http://x/a/2" not in subjects and "http://x/c/z1" not in subjects


def test_shared_property_declared_when_only_second_resource_fires(spark):
    """Resource A never fires; B uses the same property and fires, so the
    property is declared (it used to be gated on A alone)."""
    spec = {"globals": {"$datasetBase": BASE},
            "resources": [
                {"name": "A", "requires": {"kind": "a"},
                 "properties": {"@id": "<http://x/a/{id}>", "val": "{v}"}},
                {"name": "B",
                 "properties": {"@id": "<http://x/b/{id}>", "val": "{v}"}}]}
    quads = _same_as_oracle(spark, spec, [{"id": "1", "kind": "b", "v": "p"}])
    assert (None, f"{BASE}/def/val", RDF_TYPE, RDF_PROPERTY) in quads
    assert (None, f"{BASE}/def/A", RDF_TYPE, OWL_CLASS) not in quads


def test_vocabulary_in_the_resource_constant_graph(spark):
    spec = {"globals": {"$datasetBase": BASE},
            "resources": [{"name": "r", "@graph": "<http://x/g1>",
                           "properties": {"@id": "<http://x/r/{id}>",
                                          "val": "{v}",
                                          "cv": "{v | autoCV('vals')}"}}]}
    quads = _same_as_oracle(spark, spec, [{"id": "1", "v": "p"}])
    assert ("http://x/g1", f"{BASE}/def/r", RDF_TYPE, OWL_CLASS) in quads
    assert ("http://x/g1", f"{BASE}/def/val", RDF_TYPE, RDF_PROPERTY) in quads
    assert {g for g, *_ in quads} == {"http://x/g1"}


# A filter guards the terms of its resource: `qty | asInt` casts under
# ANSI, so computing it on a row the filter rejects fails the whole job.
_GUARDED_ROWS = [{"id": "1", "kind": "a", "qty": "n/a"},
                 {"id": "2", "kind": "b", "qty": "3"}]


def test_second_resource_guard_protects_its_cast(spark):
    spec = {"globals": {"$datasetBase": BASE},
            "resources": [
                {"name": "A", "requires": {"kind": "a"},
                 "properties": {"@id": "<http://x/a/{id}>", "v": "{id}"}},
                {"name": "B", "guard": "qty != 'n/a'",
                 "properties": {"@id": "<http://x/b/{id}>",
                                "q": "{qty | asInt}"}}]}
    quads = _same_as_oracle(spark, spec, _GUARDED_ROWS)
    assert (None, "http://x/b/2", f"{BASE}/def/q", "3") in quads
    assert not [q for q in quads if q[1] == "http://x/b/1"]


def test_nested_resource_requires_protects_its_cast(spark):
    spec = {"globals": {"$datasetBase": BASE},
            "resources": [{"name": "r", "properties": {
                "@id": "<http://x/r/{id}>", "v": "{id}",
                "has": {"name": "c", "requires": {"kind": "b"},
                        "properties": {"@id": "<http://x/c/{id}>",
                                       "q": "{qty | asInt}"}}}}]}
    quads = _same_as_oracle(spark, spec, _GUARDED_ROWS)
    assert (None, "http://x/c/2", f"{BASE}/def/q", "3") in quads
    assert ("http://x/r/1", "http://x/c/1") not in {
        (s, o) for _, s, _, o in quads}


def test_map_to_child_requires_protects_its_cast(spark):
    spec = {**_PARTS_SPEC,
            "embedded": [{"name": "part", "requires": {"ok": "y"},
                          "properties": {"@id": "<http://x/p/{sku}>",
                                         "n": "{n | asInt}"}}]}
    rows = [{"id": "1", "name": "a",
             "parts": [{"sku": "s1", "n": "1", "ok": "y"},
                       {"sku": "s2", "n": "n/a", "ok": "n"}]}]
    quads = _same_as_oracle(spark, spec, rows)
    assert (None, "http://x/p/s1", f"{BASE}/def/n", "1") in quads
    assert not [q for q in quads if q[1] == "http://x/p/s2"]


def test_plugin_udf_sees_no_row_its_resource_rejects(spark):
    """Python UDFs run on every row of the projection; a plugin gets NULL
    (and is not called) on the rows its resource does not fire on."""
    from pyspark.sql.types import StringType

    from rdf_mapper_spark.compiler.functions import register_udf

    def strict_upper(value):
        if value == "n/a":
            raise ValueError("called on a rejected row")
        return value.upper()

    register_udf("strictUpper", strict_upper, StringType())
    spec = {"globals": {"$datasetBase": BASE},
            "resources": [
                {"name": "A", "requires": {"kind": "a"},
                 "properties": {"@id": "<http://x/a/{id}>", "v": "{id}"}},
                {"name": "B", "requires": {"kind": "b"},
                 "properties": {"@id": "<http://x/b/{id}>",
                                "u": "{qty | strictUpper}"}}]}
    engine = MapperEngine(MappingSpec(spec, auto_declare=False))
    quads = quads_of_df(engine.apply(rows_to_df(spark, [
        {"id": "1", "kind": "a", "qty": "n/a"},
        {"id": "2", "kind": "b", "qty": "x"}]), file_name="file"))
    assert {(q.s.value, q.p, q.o.value) for q in quads} == {
        ("http://x/a/1", f"{BASE}/def/v", "1"),
        ("http://x/b/2", f"{BASE}/def/u", "X")}


def test_malformed_numbers_skip_the_property(spark):
    """asInt / asDecimal over a malformed number skip that row's property,
    as pyeval does; an ANSI cast would fail the whole job instead."""
    spec = {"globals": {"$datasetBase": BASE},
            "resources": [{"name": "r", "properties": {
                "@id": "<http://x/r/{id}>", "label": "{id}",
                "i": "{qty | asInt}", "d": "{qty | asDecimal}"}}]}
    values = ["x", "1.5", "-2.7", "1e3", "", None]
    rows = [{"id": str(i), "qty": v} for i, v in enumerate(values)]
    quads = _same_as_oracle(spark, spec, rows, auto_declare=False)
    ints = {(s, o) for _, s, p, o in quads if p == f"{BASE}/def/i"}
    assert ints == {("http://x/r/1", "1"), ("http://x/r/2", "-2"),
                    ("http://x/r/3", "1000")}
    labels = {s for _, s, p, _ in quads if p == f"{BASE}/def/label"}
    assert len(labels) == len(values)


def test_locals_guard_over_null_skips_the_row(spark):
    """`'x' in locals() and <comparison>`: a FALSE comparison must not
    count as a kept non-null value."""
    spec = {"globals": {"$datasetBase": BASE},
            "resources": [{"name": "s",
                           "guard": "'num' in locals() and num > 10",
                           "properties": {"@id": "<http://x/s/{id}>",
                                          "v": "{id}"}}]}
    rows = [{"id": "1", "num": 20}, {"id": "2", "num": None},
            {"id": "3", "num": 5}]
    quads = _same_as_oracle(spark, spec, rows)
    assert {s for _, s, _, _ in quads
            if s.startswith("http://x/s/")} == {"http://x/s/1"}


def test_guard_int_and_float_follow_python(spark):
    """Guard ``int(x)`` / ``float(x)`` over malformed values make the guard
    false, as a raise does in pyeval; ``int("1.5")`` raises in Python, so
    it must not truncate; a JSON double truncates."""
    def spec(guard):
        return {"globals": {"$datasetBase": BASE},
                "resources": [{"name": "r", "guard": guard,
                               "properties": {"@id": "<http://x/r/{id}>",
                                              "v": "{id}"}}]}
    values = ["x", "1.5", " 3 ", "+3", "", None]
    rows = [{"id": str(i), "qty": v} for i, v in enumerate(values)]
    ints = _same_as_oracle(spark, spec("int(qty) > 1"), rows)
    assert {s for _, s, _, _ in ints if s.startswith("http://x/r/")} == {
        "http://x/r/2", "http://x/r/3"}
    floats = _same_as_oracle(spark, spec("float(qty) > 1"), rows)
    assert {s for _, s, _, _ in floats if s.startswith("http://x/r/")} == {
        "http://x/r/1", "http://x/r/2", "http://x/r/3"}
    doubles = [{"id": "1", "qty": 2.7}, {"id": "2", "qty": 0.5}]
    got = _same_as_oracle(spark, spec("int(qty) == 2"), doubles)
    assert {s for _, s, _, _ in got if s.startswith("http://x/r/")} == {
        "http://x/r/1"}
