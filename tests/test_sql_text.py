"""The compiler's two SQL-text helpers, and an engine run whose constants
need them: a string literal must parse back to exactly its value, and a
quoted identifier must name exactly its column."""

from rdf_mapper_spark.compiler.context import quoted_col
from rdf_mapper_spark.compiler.values import sql_ident, sql_string
from rdf_mapper_spark.engine import MapperEngine
from rdf_mapper_spark.pyeval import run_mapping
from rdf_mapper_spark.spec import MappingSpec
from rdf_mapper_spark.turtle import canonical_quadset

from tests.conftest import quads_of_df, rows_to_df

#: quote, backslash, an escaped-looking quote, NUL, an astral code point,
#: and `${...}` text the SQL parser would otherwise substitute (an unknown
#: name becomes "", a known one its value)
LITERALS = [
    "'",
    "\\",
    "\\\\'",
    "a\x00b",
    "clef \U0001D11E!",
    "${x}",
    "${spark.app.name}",
    "$",
    "line\nbreak\ttab",
    "",
    "plain",
]


def test_sql_string_parses_back_exactly(spark):
    exprs = [f"{sql_string(s)} AS c{i}" for i, s in enumerate(LITERALS)]
    assert list(spark.range(1).selectExpr(*exprs).first()) == LITERALS


def test_sql_ident_names_exactly_its_column(spark):
    from pyspark.sql.types import StringType, StructField, StructType

    names = ["$file", "a b", "a`b"]
    schema = StructType([StructField(n, StringType()) for n in names])
    df = spark.createDataFrame([("x", "y", "z")], schema)
    assert tuple(df.selectExpr(*map(sql_ident, names)).first()) == (
        "x", "y", "z")
    assert tuple(df.select(*map(quoted_col, names)).first()) == (
        "x", "y", "z")


def test_quote_and_backslash_constants_match_oracle(spark):
    """A constant graph IRI lands in the emission SQL text; a one-off
    literal and a class comment land in the constant-quad literals."""
    spec = {
        "globals": {"$datasetBase": "http://base.example/ds"},
        "one_offs": [{"name": "Org", "properties": {
            "@id": "<http://x/org>",
            "<rdfs:label>": "O'Neil \\ Sons $ co",
        }}],
        "resources": [
            {
                "name": "R",
                "@graph": "<http://x/g'1\\2>",
                "properties": {
                    "@id": "<http://x/r/{id}>",
                    "@type": "<http://x/T>",
                    "<http://x/label>": "{v}",
                    "<http://x/tag>": "{v | splitComma}",
                },
            },
            {
                "name": "V",
                "comment": "it's a \\ comment",
                "properties": {"@id": "<http://x/v/{id}>", "note": "{v}"},
            },
        ],
    }
    rows = [{"id": "1", "v": "a'b,c\\d"}, {"id": "2", "v": None}]
    want = canonical_quadset(
        run_mapping(MappingSpec(spec), [dict(r) for r in rows],
                    filename="file").quads)
    got = canonical_quadset(quads_of_df(MapperEngine(MappingSpec(spec)).apply(
        rows_to_df(spark, rows), file_name="file")))
    assert got == want, (
        f"\n extra={sorted(map(str, got - want))}\n"
        f" missing={sorted(map(str, want - got))}"
    )
    texts = {x for q in got for x in (q[0], q[1][1], q[3][1])}
    assert {"http://x/g'1\\2", "O'Neil \\ Sons $ co",
            "it's a \\ comment"} <= texts
