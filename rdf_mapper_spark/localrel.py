"""Driver-row DataFrames without the Python-worker tax.

`SparkSession.createDataFrame(list_of_tuples)` parallelizes PYTHON-
pickled rows: the result is an RDD of pickled batches spread over
defaultParallelism partitions, and EVERY downstream scan — including
every broadcast-exchange build — launches one Python worker round-trip
per partition just to deserialize a dictionary-sized table (measured
~5-7 s executorRunTime per 32-task scan of a 45-row frame on this
host).  The helpers here keep dictionary-sized driver rows in the JVM:

* `local_df(rows <= max_inline)`: one `inline()` over an array of
  structs on a single-partition range — a 1-task pure-JVM scan (often
  folded to a LocalTableScan by ConvertToLocalRelation).  When JSON
  carries the rows exactly (`json_rows`), the array is ONE string
  literal parsed by `from_json`; otherwise it is built from one literal
  struct per row.
* larger `rows`: pandas + Arrow (`createDataFrame(pd.DataFrame(...))`),
  whose scan deserializes Arrow batches JVM-side — no Python workers at
  execution time.  Falls back to the classic path only if pandas is
  unavailable.


Semantics are identical to `createDataFrame(rows, schema)`: same rows,
same schema, same null handling, and an integer out of its field's range
raises instead of wrapping or turning NULL.
"""

from __future__ import annotations

import json
import math
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Above this, a literal-struct plan tree costs more to analyze than the
#: Arrow path costs to scan.
MAX_INLINE_ROWS = 512

#: Field types whose values round-trip EXACTLY through one JSON string
#: literal (`json_rows`): JSON strings are lossless, ints/longs/bools are
#: exact, and doubles round-trip because json.dumps emits the
#: shortest-round-trip repr and the JVM parse is IEEE round-to-nearest.
#: Anything else (dates, decimals, binary, nested) takes the per-element
#: literal-struct path.
_JSON_SAFE_TYPES = (T.StringType, T.IntegerType, T.LongType,
                    T.BooleanType, T.DoubleType)

#: field names that `from_json`'s DDL schema string and a JSON object key
#: both carry unquoted and unchanged
_PLAIN_NAME_RX = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32,
             T.LongType: 64}


def _in_range(v: int, dt: T.DataType) -> bool:
    bits = _INT_BITS[type(dt)]
    return -(1 << (bits - 1)) <= v < (1 << (bits - 1))


def _check_int_ranges(rows: list[tuple], st: T.StructType) -> None:
    """Raise as `createDataFrame` does for an int outside its field's
    range: a JSON literal would read it as NULL, a literal cast wraps."""
    for i, f in enumerate(st.fields):
        if type(f.dataType) not in _INT_BITS:
            continue
        for row in rows:
            v = row[i]
            if (isinstance(v, int) and not isinstance(v, bool)
                    and not _in_range(v, f.dataType)):
                raise ValueError(
                    f"field {f.name}: {v} is out of range for "
                    f"{f.dataType.simpleString()}")


def _json_safe(rows: list[tuple], st: T.StructType) -> bool:
    names = [f.name for f in st.fields]
    if len(set(names)) != len(names):
        return False  # one JSON object keeps only the last duplicate key
    for f in st.fields:
        if not isinstance(f.dataType, _JSON_SAFE_TYPES):
            return False
        if not _PLAIN_NAME_RX.fullmatch(f.name):
            return False
    for row in rows:
        for v, f in zip(row, st.fields):
            if v is None:
                continue
            dt = f.dataType
            if isinstance(dt, T.StringType):
                if not isinstance(v, str):
                    return False
            elif isinstance(dt, T.BooleanType):
                if not isinstance(v, bool):
                    return False
            elif isinstance(dt, (T.IntegerType, T.LongType)):
                if (isinstance(v, bool) or not isinstance(v, int)
                        or not _in_range(v, dt)):
                    return False
            elif isinstance(dt, T.DoubleType):
                if isinstance(v, bool) or not isinstance(v, (int, float)):
                    return False
                if isinstance(v, float) and not math.isfinite(v):
                    return False
    return True


def json_rows(rows: list[tuple], st: T.StructType) -> Column | None:
    """``rows`` as ONE ``array<struct>`` Column: a JSON string literal
    parsed by ``from_json`` (folded to a Literal array by
    ConstantFolding) — two py4j calls and a 3-node analyzer tree instead
    of ~3 py4j calls and ~3 nodes PER CELL.  None when JSON cannot carry
    the rows exactly (see `_JSON_SAFE_TYPES`; names must be plain and
    unique; ints must be in their field's range)."""
    if not _json_safe(rows, st):
        return None
    payload = json.dumps([
        {f.name: v for v, f in zip(row, st.fields)} for row in rows
    ])
    return F.from_json(F.lit(payload), f"array<{st.simpleString()}>")


def _parse_schema(schema) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    if isinstance(schema, str):
        parsed = T._parse_datatype_string(schema)
        if not isinstance(parsed, T.StructType):
            raise TypeError(f"schema string must be a struct: {schema!r}")
        return parsed
    raise TypeError(f"unsupported schema: {schema!r}")


def local_df(spark: SparkSession, rows: list[tuple], schema,
             max_inline: int = MAX_INLINE_ROWS) -> DataFrame:
    """`createDataFrame(rows, schema)` for driver-held scalar rows, with
    a pure-JVM execution plan (see module docstring)."""
    st = _parse_schema(schema)
    one = spark.range(0, 1, 1, 1)
    if not rows:
        null_cols = [F.lit(None).cast(f.dataType).alias(f.name)
                     for f in st.fields]
        return one.select(*null_cols).where(F.lit(False))
    if len(rows) <= max_inline:
        # byte-equality with createDataFrame is pinned by
        # tests/test_localrel.py
        _check_int_ranges(rows, st)
        arr = json_rows(rows, st)
        if arr is None:
            arr = F.array(*[
                F.struct(*[
                    (F.lit(None) if v is None else F.lit(v))
                    .cast(f.dataType).alias(f.name)
                    for v, f in zip(row, st.fields)
                ])
                for row in rows
            ])
        return one.select(F.inline(arr))
    try:
        import pandas as pd

        pdf = pd.DataFrame.from_records(
            rows, columns=[f.name for f in st.fields])
        return spark.createDataFrame(pdf, st)
    except ImportError:  # pragma: no cover - pandas ships with pyspark
        return spark.createDataFrame(rows, st)
