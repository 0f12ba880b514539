"""Stored quad tables: the materialized layout BGP queries read at scale.

`pipeline/run.py` materializes graph tables partitioned by named graph
(the write-side layout); this module adds the READ-optimized variant: a
quad table partitioned by PREDICATE.  Predicate cardinality is small
(tens to hundreds — it's the ontology, not the data), every BGP pattern
with a constant predicate prunes to its directory statically, and the
remaining s/o constants push down into parquet row-group stats.  This
is the hive-partitioned stand-in for the Iceberg graph tables the
production deployment writes (SURVEY.md Iceberg notes).

Skew note: hot predicates (rdf:type) make big partitions — harmless
for scans (they split by file), and `files_per_partition` bounds the
file count per directory the same way compaction bounds per-graph
files.  NULL graph rides in a sentinel column value so the default
graph round-trips.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_mapper_spark import plan_cache

_NULL_G = "__default__"
QUAD_COLS = ["g", "sk", "s", "p", "ok", "o", "odt", "olg"]


def write_quad_store(quads: DataFrame, path: str,
                     files_per_partition: int = 4) -> None:
    """Write `partitionBy(p)`; the predicate lands in directory names
    (URL-encoded by Spark) and comes back on read.  Repartition by
    (p, salted s) first so each predicate directory holds a bounded
    number of similar-sized files instead of one shard per input task."""
    spread = F.pmod(F.xxhash64("s"), F.lit(files_per_partition))
    (quads
     .withColumn("g", F.coalesce(F.col("g"), F.lit(_NULL_G)))
     .repartition(F.col("p"), spread)
     .write.mode("overwrite").partitionBy("p").parquet(path))
    plan_cache.invalidate(path)


def read_quad_store(spark: SparkSession, path: str) -> DataFrame:
    """-> the quad DataFrame with the NULL-graph sentinel decoded.  A
    `p = <const>` filter on this frame becomes static partition pruning
    (asserted in tests/test_store.py).

    Listing the predicate-partitioned directory tree is driver-side work
    repeated by every read of the same store snapshot, so the lazy plan
    is kept in the plan cache until `write_quad_store` rewrites the
    path."""
    def read() -> DataFrame:
        return spark.read.parquet(path).select(
            F.when(F.col("g") == _NULL_G, F.lit(None).cast("string"))
            .otherwise(F.col("g")).alias("g"),
            *[c for c in QUAD_COLS if c != "g"],
        )

    return plan_cache.cached(spark, ("quad_store", path), read)


def scan_files_for(spark: SparkSession, path: str, pred: str) -> int:
    """Diagnostic: number of files the pruned scan for predicate `pred`
    actually touches — read from the executed scan node's numFiles
    metric (inputFiles() reports the unfiltered FileIndex; the plan's
    toString omits the metric)."""
    df = spark.read.parquet(path).where(F.col("p") == pred)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(p" in plan, plan
    df.collect()
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().head()
    return scan.metrics().apply("numFiles").value()


def analyze_store(spark: SparkSession, path: str) -> None:
    """Database ANALYZE for the quad store: compute the VoID predicate
    catalog (triples / distinct subjects / distinct objects per
    predicate — query.predicate_stats) over the WHOLE store (all
    graphs) and write it as a parquet sidecar under `_stats`.  One
    aggregation pass at write/compact time; every later query gets
    cost-based BGP join ordering for free via read_stats.  Rerun after
    appends/compaction, exactly like ANALYZE after bulk load."""
    df = spark.read.parquet(path)
    stats = df.groupBy("p").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("s").alias("n_subjects"),
        F.countDistinct("o").alias("n_objects"),
    )
    stats.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "_stats"))


def read_stats(spark: SparkSession, path: str) \
        -> dict[str, tuple[int, int, int]] | None:
    """Load the ANALYZE sidecar as the planner catalog
    (query.stats_catalog shape: predicate -> (n_triples, n_subjects,
    n_objects)).  None when the store was never analyzed — callers
    fall back to the heuristic ordering.  The collect is bounded by
    predicate cardinality (the ontology, not the data)."""
    sidecar = os.path.join(path, "_stats")
    if not os.path.isdir(sidecar):
        return None
    return {r.p: (r.n_triples, r.n_subjects, r.n_objects)
            for r in spark.read.parquet(sidecar).collect()}
