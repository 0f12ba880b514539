"""localrel.local_df: pure-JVM driver-row relations — value-identical to
createDataFrame, no Python-worker scan tax (r6 optimization)."""

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from rdf_mapper_spark.localrel import local_df


def test_inline_matches_create_dataframe(spark):
    rows = [("a", "b"), ("c", None), (None, "d")]
    schema = "x string, y string"
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    got = sorted(local_df(spark, rows, schema).collect(), key=key)
    want = sorted(spark.createDataFrame(rows, schema).collect(), key=key)
    assert got == want
    # single partition, no Python-pickled RDD in the plan
    df = local_df(spark, rows, schema)
    assert df.rdd.getNumPartitions() == 1
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()


def test_empty_rows_keep_schema(spark):
    df = local_df(spark, [], "x string, y int")
    assert df.count() == 0
    assert [f.dataType for f in df.schema.fields] == [
        T.StringType(), T.IntegerType()]


def test_arrow_path_above_inline_threshold(spark):
    rows = [(i, i * 2) for i in range(700)]
    schema = T.StructType([T.StructField("node", T.LongType()),
                           T.StructField("comp", T.LongType())])
    df = local_df(spark, rows, schema)
    assert df.count() == 700
    assert df.agg(F.sum("comp")).first()[0] == sum(i * 2 for i in range(700))
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(rows)


def test_typed_casts_match(spark):
    rows = [("1", 2, 3.5), ("4", None, None)]
    schema = "a string, b bigint, c double"
    got = sorted(local_df(spark, rows, schema).collect())
    want = sorted(spark.createDataFrame(rows, schema).collect())
    assert got == want


def test_rdfs_materialize_explicit_tbox_matches_collected(spark):
    from rdf_mapper_spark.inference import (
        DOMAIN, SUBCLASS, SUBPROP, rdfs_materialize,
    )
    from rdf_mapper_spark.quads import quads_from_rows

    rows = [
        (None, "iri", "C1", SUBCLASS, "iri", "C2", None, None),
        (None, "iri", "p", SUBPROP, "iri", "q", None, None),
        (None, "iri", "p", DOMAIN, "iri", "C1", None, None),
        (None, "iri", "x", "p", "iri", "y", None, None),
    ]
    quads = quads_from_rows(spark, rows)
    collected = rdfs_materialize(quads).collect()
    explicit = rdfs_materialize(quads, tbox={
        SUBCLASS: [("C1", "C2")],
        SUBPROP: [("p", "q")],
        DOMAIN: [("p", "C1")],
    }).collect()
    assert sorted(map(tuple, explicit)) == sorted(map(tuple, collected))


def test_json_fast_path_matches_createdataframe(spark):
    # the from_json inline path (json-safe schemas) must be value-exact
    # vs createDataFrame, including escapes, unicode, extreme ints,
    # signed zero and subnormal-range doubles
    cases = [
        ([("a\x00b", 1), ('q"\\\n\t', None), ("日本語 ü", -2**31),
          (None, 2**31 - 1)], "s string, i int"),
        ([(1.5, True), (0.1 + 0.2, False), (None, None),
          (1e-300, True), (-0.0, False)], "d double, b boolean"),
        ([(2**63 - 1, "x"), (-2**63, "y")], "l long, s string"),
    ]
    for rows, schema in cases:
        got = local_df(spark, rows, schema).collect()
        want = spark.createDataFrame(rows, schema).collect()
        assert got == want


def test_json_unsafe_types_fall_back(spark):
    import datetime

    rows = [(datetime.date(2020, 1, 2), "x"), (None, None)]
    schema = "d date, s string"
    got = local_df(spark, rows, schema).collect()
    want = spark.createDataFrame(rows, schema).collect()
    assert got == want


def test_name_needing_quotes_matches_createdataframe(spark):
    # a field name a DDL schema string cannot carry unquoted
    schema = T.StructType([T.StructField("a b", T.StringType()),
                           T.StructField("c", T.IntegerType())])
    rows = [("x", 1), (None, 2)]
    got = local_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.columns == want.columns == ["a b", "c"]
    assert got.collect() == want.collect()


def test_duplicate_names_keep_every_value(spark):
    # one JSON object per row would keep only the last duplicate key
    schema = T.StructType([T.StructField("a", T.StringType()),
                           T.StructField("a", T.StringType())])
    got = [tuple(r) for r in local_df(spark, [("x", "y")], schema).collect()]
    want = [tuple(r) for r in
            spark.createDataFrame([("x", "y")], schema).collect()]
    assert got == want == [("x", "y")]


def test_out_of_range_int_raises(spark):
    rows = [(2**40,)]
    with pytest.raises(ValueError):
        spark.createDataFrame(rows, "a int").collect()
    with pytest.raises(ValueError):
        local_df(spark, rows, "a int").collect()
    # in range at the edges stays exact
    edge = [(2**31 - 1,), (-2**31,)]
    assert (local_df(spark, edge, "a int").collect()
            == spark.createDataFrame(edge, "a int").collect())
