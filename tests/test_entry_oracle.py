"""Local replica of the driver's correctness gate: run every
__spark_entry__ query AND its DuckDB oracle on the same parquet, compare
row count + column names + order-insensitive values."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = f"{v:.6f}"
            elif v is None:
                v = "\x00null"
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out), [cols[i] for i in order]


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql().keys()))
def test_query_matches_oracle(spark, name):
    qfn = entry_mod.queries()[name]
    sdf = qfn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    con = _duck(SF_DIR)
    res = con.execute(entry_mod.oracle_sql()[name])
    orows = res.fetchall()
    ocols = [d[0] for d in res.description]
    s_norm, s_cols = _normalize(srows, scols)
    o_norm, o_cols = _normalize(orows, ocols)
    assert s_cols == o_cols, f"{name}: column mismatch {s_cols} vs {o_cols}"
    assert len(s_norm) == len(o_norm), (
        f"{name}: row count {len(s_norm)} vs {len(o_norm)}"
    )
    if s_norm != o_norm:
        extra = [r for r in s_norm if r not in set(o_norm)][:5]
        missing = [r for r in o_norm if r not in set(s_norm)][:5]
        raise AssertionError(
            f"{name}: value mismatch\n extra={extra}\n missing={missing}"
        )


@pytest.mark.parametrize(
    "name", [n for n in entry_mod.queries() if n not in entry_mod.oracle_sql()]
)
def test_rows_only_queries_run(spark, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    assert sdf.count() >= 0
    assert sdf.columns


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_query_registry_order_is_neutral():
    # by family (the name's first word), then alphabetically: the order
    # carries no choice of which queries a sample should reach first
    names = list(entry_mod.queries())
    assert names == sorted(names, key=lambda n: (n.split("_")[0], n))
