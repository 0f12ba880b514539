"""IRI minting against the pyeval oracle: the Catalyst sha1-base32hex
digest, and the folded CURIE/absolutize stages of scheme-headed templates."""

from pyspark.sql import functions as F

from rdf_mapper_spark import pyfuncs
from rdf_mapper_spark.compiler.functions import sha1_b32hex_col
from rdf_mapper_spark.engine import MapperEngine
from rdf_mapper_spark.pyeval import run_mapping
from rdf_mapper_spark.spec import MappingSpec
from rdf_mapper_spark.turtle import canonical_quadset

from tests.conftest import quads_of_df, rows_to_df

#: digest parity vectors: ASCII, empty, BMP unicode, an astral-plane
#: character (4 UTF-8 bytes), an embedded NUL, a long string, NULL
HASH_VECTORS = [
    "foobar",
    "",
    "héllo wörld — ünïcode ✓",
    "clef \U0001D11E!",
    "a\x00b",
    "xyz" * 333 + "w",
    None,
]


def _assert_oracle_parity(spark, spec_dict, rows):
    want = canonical_quadset(
        run_mapping(MappingSpec(spec_dict, auto_declare=False),
                    [dict(r) for r in rows], filename="file").quads)
    engine = MapperEngine(MappingSpec(spec_dict, auto_declare=False))
    got = canonical_quadset(quads_of_df(
        engine.apply(rows_to_df(spark, rows), file_name="file")))
    assert got == want, (
        f"\n extra={sorted(map(str, got - want))}\n"
        f" missing={sorted(map(str, want - got))}"
    )
    return got


def _values(quads):
    return {t for q in quads for t in (q[1][1], q[3][1])}


def test_sha1_b32hex_col_matches_pyfuncs(spark):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(HASH_VECTORS)],
                               "i int, s string")
    got = {r.i: r.d for r in
           df.select("i", sha1_b32hex_col(F.col("s")).alias("d")).collect()}
    for i, v in enumerate(HASH_VECTORS):
        assert got[i] == (None if v is None else pyfuncs.sha1_b32hex(v)), v
    assert len(HASH_VECTORS[5]) == 1000


def test_hash_minting_paths_match_oracle(spark):
    """<hash(a,b)> (a NULL part renders as "None"), autoCV(.., 'hash') and
    the hash() transformer all mint through the Catalyst digest."""
    spec = {
        "globals": {"$datasetBase": "http://base.example/ds"},
        "resources": [{
            "name": "H",
            "properties": {
                "@id": "<hash(a,b)>",
                "<http://x/def/cv>": "{a | autoCV('cats', 'hash')}",
                "<http://x/def/h>": "{a | hash}",
                "<http://x/def/hs>": "{a | hash('salt')}",
            },
        }],
    }
    rows = [{"a": v, "b": "k" if i % 2 else None}
            for i, v in enumerate(HASH_VECTORS)]
    got = _values(_assert_oracle_parity(spark, spec, rows))
    base = "http://base.example/ds"
    assert f"{base}/data/H/{pyfuncs.sha1_b32hex('foobar', 'None')}" in got
    assert f"{base}/data/H/{pyfuncs.sha1_b32hex('None', 'None')}" in got
    nul = pyfuncs.sha1_b32hex(HASH_VECTORS[4])
    assert f"{base}/def/cats/{nul}" in got
    assert pyfuncs.sha1_b32hex("clef \U0001D11E!") in got
    assert pyfuncs.sha1_b32hex("salt") in got  # '' value skipped, args kept


_FOLD_VALUES = ["a", "a@en", "a^^<xsd:int>", "rdf:type", "../a", "/a", "",
                None]

_FOLD_SPEC = {
    "globals": {"$datasetBase": "http://base.example/ds"},
    # 'urn' is a declared prefix, so '<urn:{v}>' can expand as a CURIE
    "namespaces": {"urn": "http://urn.example/"},
    "resources": [{
        "name": "R",
        "properties": {
            "@id": "<http://x/c/{v}>",
            "<http://x/def/lang>": "<http://x/l/{v}@en>",
            "<http://x/def/typed>": "<http://x/d/{v}^^<xsd:int>>",
            "<http://x/def/urn>": "<urn:{v}>",
            "<http://x/def/part>": "{parts | map_to('part')}",
        },
    }],
    "embedded": [{
        "name": "part",
        "properties": {
            "@id": "<http://x/c/{v}>",
            "<http://x/def/n>": "{n}",
        },
    }],
}


def test_scheme_headed_templates_match_oracle(spark):
    """Top-level and map_to-embedded '<http://x/c/{v}>' subjects, its
    langstring/datatype-pattern variants, and the unfolded '<urn:{v}>'."""
    rows = [{"v": v, "parts": [{"v": v, "n": i}]}
            for i, v in enumerate(_FOLD_VALUES)]
    got = _values(_assert_oracle_parity(spark, _FOLD_SPEC, rows))
    # the oracle really exercised the suffix strip, the relative-looking
    # values, the NULL default and the CURIE expansion that must not fold
    assert "http://x/c/a" in got
    assert "http://x/c/rdf:type" in got
    assert "http://x/c/../a" in got and "http://x/c//a" in got
    assert "http://base.example/ds/data/R" in got
    assert "http://base.example/ds/data/part" in got
    assert "http://urn.example/a" in got
    assert "urn:rdf:type" in got
