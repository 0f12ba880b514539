"""Materialized ANN index layouts: the bucket/cell assignment computed
ONCE at build time and stored as a parquet PARTITION column, so repeated
similarity queries are partition-pruned scans instead of full-table
re-hashes.

`lsh_topk` / `ivf_topk` (ops/similarity.py) recompute every vector's
bucket/cell per call — correct, but at corpus scale each query batch then
pays a full scan plus (for LSH) the driver-side analysis of the plane
expression tree.  The stored layout moves all of that to build time:

* build: one pass over the embedding table evaluating the seeded
  hash/quantizer expressions, written `partitionBy(<key>)`; the codebook /
  hyperplane config goes in a sidecar JSON so the query path reproduces
  the EXACT assignment without re-deriving it.
* query: compute keys for the (small) query batch only, collect the
  DISTINCT probe keys — bounded by the number of partitions (<= n_cells,
  resp. n_tables * 2^n_planes), NOT by query count — and push them as an
  IN filter, which Spark turns into static partition pruning at the scan
  (asserted in tests/test_ann_index.py).  The probe join itself
  broadcasts the query side.

At 100 TB: the index is the table (cell/bucket = directory), a probe
touches ~nprobe/n_cells of the files, and the build cost amortizes over
every subsequent query batch.  Results are bit-identical to the
recompute-path operators given the same codebook/planes — both indexed
queries are value-checked against the SAME DuckDB oracles as their
non-indexed twins (__spark_entry__.py ann_ivf_indexed / ann_lsh_indexed).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rdf_mapper_spark import plan_cache

from rdf_mapper_spark.ops.similarity import (
    _mat_lit,
    _sql_quote,
    cosine_expr,
    hyperplanes,
    ivf_cell_expr,
    ivf_probe_expr,
    lsh_keys_col,
    norm_expr,
)
from rdf_mapper_spark.ops.similarity import dot_expr as _dot

_META = "_ann_meta.json"

# FileIndex listing of a few hundred partition dirs costs seconds of
# DRIVER time per spark.read.parquet — measured 2.75 s for the 256-bucket
# LSH layout at sandbox scale, dwarfing the pruned scan itself.  A
# long-lived query service lists the index once; the plan cache gives the
# same amortization per (session, path).  Builders invalidate on rewrite.
def _read_index(spark: SparkSession, path: str) -> DataFrame:
    def build() -> DataFrame:
        meta = read_meta(path)
        files = meta.get("files")
        if not files:
            return spark.read.parquet(path)
        # Cold-start path: the sidecar manifest (written at build /
        # append time, when the files were listed anyway) lets the
        # first read skip the recursive partition-dir walk — the
        # driver cost that dominated the cold indexed query.
        # basePath keeps the bucket/cell partition column (and its
        # IN-filter pruning) intact over explicit leaf files.
        reader = spark.read.option("basePath", path)
        if meta.get("schema"):
            # Sidecar schema skips footer-based inference across
            # every index file on the cold read.
            from pyspark.sql.types import StructType
            reader = reader.schema(
                StructType.fromJson(json.loads(meta["schema"])))
        # >32 explicit paths trips Spark's parallelPartitionDiscovery
        # JOB — one tiny task per file, slower than a sequential
        # driver stat for a bounded manifest.  Raise the threshold
        # for this read only (restored after); a manifest past 10k
        # files keeps the parallel job, which is right at that size.
        thr_key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
        prev = spark.conf.get(thr_key, "32")
        if len(files) <= 10_000:
            spark.conf.set(thr_key, str(len(files) + 1))
        try:
            return reader.parquet(*[os.path.join(path, f) for f in files])
        finally:
            spark.conf.set(thr_key, prev)

    return plan_cache.cached(spark, ("ann_index", path), build)


def _refresh_manifest(spark: SparkSession, path: str) -> list[str]:
    """List the index's leaf parquet files (Hadoop FS — works for any
    scheme, not just local) and record them, relative to `path`, in the
    sidecar.  Paid once per build/append; saves it on every cold read."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    base = fs.makeQualified(hpath).toString().rstrip("/") + "/"
    it = fs.listFiles(hpath, True)
    files = []
    while it.hasNext():
        p = it.next().getPath().toString()
        if p.endswith(".parquet"):
            files.append(p[len(base):] if p.startswith(base) else p)
    return sorted(files)


def _manifest_meta(spark: SparkSession, path: str) -> dict:
    """files + resolved read schema for the sidecar (one listing +
    inference pass at build time buys them for every cold read)."""
    files = _refresh_manifest(spark, path)
    schema = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, f) for f in files]).schema.json()
    return {"files": files, "schema": schema}


def _write_meta(path: str, meta: dict) -> None:
    with open(os.path.join(path, _META), "w") as f:
        json.dump(meta, f)


def read_meta(path: str) -> dict:
    with open(os.path.join(path, _META)) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# IVF: one cell per vector, partitioned by cell
# ---------------------------------------------------------------------------
def build_ivf_index(embeddings: DataFrame, path: str,
                    cells: list[list[float]],
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> dict:
    """Assign every vector its best coarse cell (argmax dot — identical
    rule to `ivf_topk`) and write `partitionBy("cell")`.  NULL/empty
    vectors are excluded (they belong to no cell).  Returns the metadata
    also persisted beside the data."""
    assigned = (
        embeddings
        .where(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
        .select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
            norm_expr(F.col(vec_col)).alias("nrm"),
            ivf_cell_expr(F.col(vec_col), cells).alias("cell"),
        )
    )
    # repartition by the partition key first: one file per cell instead
    # of (input partitions x cells) shards — bounded files per key is
    # both the fast-listing cold start and the 100-TB layout.
    assigned.repartition("cell") \
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    plan_cache.invalidate(path)
    meta = {"kind": "ivf", "cells": cells, "dim": len(cells[0]),
            "n_cells": len(cells),
            **_manifest_meta(embeddings.sparkSession, path)}
    _write_meta(path, meta)
    return meta


def ivf_topk_indexed(spark: SparkSession, path: str, queries: DataFrame,
                     k: int = 10, nprobe: int = 4) -> DataFrame:
    """Top-k over a stored IVF index: probe-cell computation touches only
    the query batch; the index scan carries `cell IN (<probe cells>)`,
    i.e. static partition pruning — the collected key set is bounded by
    n_cells regardless of how many queries are in the batch."""
    meta = read_meta(path)
    cells = meta["cells"]
    q_c = queries.select(
        "qid", "qvec", norm_expr(F.col("qvec")).alias("qnrm"),
        F.explode(ivf_probe_expr(F.col("qvec"), cells, nprobe))
        .alias("cell"),
    )
    # materialize the (query-batch-sized) probe frame once: the probe
    # collect and the candidate join would otherwise each re-analyze and
    # re-run the probe expression
    q_c = q_c.localCheckpoint(eager=True)
    # distinct probe cells: <= n_cells rows however large the query batch
    probe_cells = [r.cell for r in q_c.select("cell").distinct().collect()]
    index = _read_index(spark, path).where(F.col("cell").isin(probe_cells))
    cand = index.join(F.broadcast(q_c), "cell").where(
        F.col("vec_id") != F.col("qid")
    )
    return _rank(cand, k)


# ---------------------------------------------------------------------------
# LSH: L table-namespaced bucket keys per vector, partitioned by bucket
# ---------------------------------------------------------------------------
def build_lsh_index(embeddings: DataFrame, path: str, dim: int,
                    n_planes: int = 6, n_tables: int = 4, seed: int = 42,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> dict:
    """Hash every vector into its bucket in each of L seeded hyperplane
    tables (identical keys to `lsh_topk`: bucket = t * 2^n_planes + sign
    pattern) and write the exploded (vec_id, v, bucket) rows
    `partitionBy("bucket")`.  Lx storage — the classical LSH
    space-for-recall trade, now paid once at build instead of per query."""
    tables = [hyperplanes(dim, n_planes, seed + 7919 * t)
              for t in range(n_tables)]
    exploded = (
        embeddings
        .where(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
        .select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
            norm_expr(F.col(vec_col)).alias("nrm"),
            F.explode(lsh_keys_col(F.col(vec_col), tables)).alias("bucket"),
        )
    )
    exploded.repartition("bucket") \
        .write.mode("overwrite").partitionBy("bucket").parquet(path)
    plan_cache.invalidate(path)
    meta = {"kind": "lsh", "dim": dim, "n_planes": n_planes,
            "n_tables": n_tables, "seed": seed,
            **_manifest_meta(embeddings.sparkSession, path)}
    _write_meta(path, meta)
    return meta


def lsh_topk_indexed(spark: SparkSession, path: str, queries: DataFrame,
                     k: int = 10, multiprobe: bool = True) -> DataFrame:
    """Top-k over a stored LSH index.  Only the query batch is hashed at
    query time (the expensive plane-literal expression applies to a
    dictionary-sized frame); the index scan is pruned to the probed
    buckets — distinct probe keys are bounded by n_tables * 2^n_planes."""
    meta = read_meta(path)
    dim, n_planes = meta["dim"], meta["n_planes"]
    n_tables, seed = meta["n_tables"], meta["seed"]
    tables = [hyperplanes(dim, n_planes, seed + 7919 * t)
              for t in range(n_tables)]
    qbase = queries.select(
        "qid", "qvec", norm_expr(F.col("qvec")).alias("qnrm"),
        F.posexplode(lsh_keys_col(F.col("qvec"), tables)).alias("t", "b0")
    )
    if multiprobe:
        probes = F.array(
            F.col("b0"),
            *[F.col("b0").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
        )
        q_b = qbase.select("qid", "qvec", "qnrm",
                           F.explode(probes).alias("bucket"))
    else:
        q_b = qbase.select("qid", "qvec", "qnrm",
                           F.col("b0").alias("bucket"))
    # materialize the probe frame once (see ivf_topk_indexed): the
    # n_tables x n_planes x dim hyperplane-literal tree is analyzed and
    # evaluated a single time instead of once for the probe collect and
    # again for the candidate join
    q_b = q_b.localCheckpoint(eager=True)
    probe_buckets = [r.bucket
                     for r in q_b.select("bucket").distinct().collect()]
    index = _read_index(spark, path).where(
        F.col("bucket").isin(probe_buckets))
    cand = (
        index.join(F.broadcast(q_b), "bucket")
        .where(F.col("vec_id") != F.col("qid"))
        # union of L tables (and multiprobe hits): score each pair once
        .dropDuplicates(["qid", "vec_id"])
    )
    return _rank(cand, k)


def _rank(cand: DataFrame, k: int) -> DataFrame:
    # per-vector norms are STORED in the index (nrm) and carried on the
    # query frame (qnrm): the per-candidate cosine is one dot fold
    # instead of three (dot + both norms) — identical floats, since
    # norm_expr over the same vector is deterministic (the same trick
    # semantic_dedup_pairs / embedding_near_dups use)
    scored = cand.select(
        "qid", F.col("vec_id").alias("neighbor"),
        F.round(cosine_expr(F.col("v"), F.col("qvec"))
                if "nrm" not in cand.columns or "qnrm" not in cand.columns
                else _dot(F.col("v"), F.col("qvec"))
                / (F.col("nrm") * F.col("qnrm")), 4).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "neighbor", "cosine")
    )


# ---------------------------------------------------------------------------
# Incremental maintenance: append a delta without rebuilding
# ---------------------------------------------------------------------------
def append_to_index(new_embeddings: DataFrame, path: str,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> dict:
    """Add a batch of NEW vectors to a stored index without touching the
    existing files (the daily-embedding-delta case).

    Correct because each vector's cell/bucket is a pure function of the
    vector and the FROZEN codebook/planes in the sidecar — independent of
    every other vector — so assign-and-append commutes with build order:
    build(A) + append(B) == build(A+B), file layout aside (asserted in
    tests/test_ann_index.py).  Appended rows land in the same partition
    directories, so query-side pruning is unchanged; periodic compaction
    (small appended files -> bounded files per key) is the same
    maintenance job the quad store runs (pipeline/compaction.py).

    Codebook drift is the caller's policy: appending does NOT retrain —
    if the data distribution moves, rebuild with fresh `train_centroids`
    output (the IVF cell is one stored int, so a rebuild is one pass)."""
    meta = read_meta(path)
    clean = new_embeddings.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
    if meta["kind"] == "ivf":
        assigned = clean.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
            norm_expr(F.col(vec_col)).alias("nrm"),
            ivf_cell_expr(F.col(vec_col), meta["cells"]).alias("cell"),
        )
        assigned.repartition("cell") \
            .write.mode("append").partitionBy("cell").parquet(path)
    elif meta["kind"] == "lsh":
        tables = [hyperplanes(meta["dim"], meta["n_planes"],
                              meta["seed"] + 7919 * t)
                  for t in range(meta["n_tables"])]
        exploded = clean.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
            norm_expr(F.col(vec_col)).alias("nrm"),
            F.explode(lsh_keys_col(F.col(vec_col), tables)).alias("bucket"),
        )
        exploded.repartition("bucket") \
            .write.mode("append").partitionBy("bucket").parquet(path)
    elif meta["kind"] == "ivfpq":
        # cell AND codes are pure functions of (vector, frozen
        # codebooks), so the append-commutes-with-build property holds
        # exactly as for ivf/lsh
        codes = _pq_spark_codes(vec_col, meta["codebooks"])
        assigned = clean.select(
            F.col(id_col).alias("vec_id"),
            F.expr(codes).alias("codes"),
            ivf_cell_expr(F.col(vec_col), meta["cells"]).alias("cell"),
        )
        assigned.repartition("cell") \
            .write.mode("append").partitionBy("cell").parquet(path)
    else:
        raise ValueError(f"unknown index kind {meta['kind']!r}")
    plan_cache.invalidate(path)
    meta.update(_manifest_meta(new_embeddings.sparkSession, path))
    _write_meta(path, meta)
    return meta


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells for pruning + product-quantized codes for memory
# ---------------------------------------------------------------------------
def _pq_spark_codes(vec_col: str, codebooks) -> str:
    from rdf_mapper_spark.ops.similarity import pq_codes_sql

    q = _sql_quote(vec_col)
    return pq_codes_sql(
        lambda i: f"CAST({q}[{i}] AS DOUBLE)", codebooks,
        lambda a: f"CAST(array_position({a}, array_min({a})) AS INT)")


def build_ivfpq_index(embeddings: DataFrame, path: str,
                      cells: list[list[float]],
                      codebooks: list[list[list[float]]],
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> dict:
    """IVF-PQ layout: every vector stored as its coarse cell (the
    partition column — pruning) plus m one-byte-scale PQ codes (the
    payload — memory).  The full vector is NOT stored: at 100 TB the
    compressed index is the point (64 floats -> 8 small ints here), and
    ranking uses the asymmetric-distance approximation against the
    query's exact vector.  Same sidecar/manifest machinery as the other
    index kinds."""
    codes = _pq_spark_codes(vec_col, codebooks)
    assigned = (
        embeddings
        .where(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
        .select(
            F.col(id_col).alias("vec_id"),
            F.expr(codes).alias("codes"),
            ivf_cell_expr(F.col(vec_col), cells).alias("cell"),
        )
    )
    assigned.repartition("cell") \
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    plan_cache.invalidate(path)
    meta = {"kind": "ivfpq", "cells": cells, "codebooks": codebooks,
            "dim": len(cells[0]), "n_cells": len(cells),
            **_manifest_meta(embeddings.sparkSession, path)}
    _write_meta(path, meta)
    return meta


def ivfpq_topk_indexed(spark: SparkSession, path: str, queries: DataFrame,
                       k: int = 10, nprobe: int = 4) -> DataFrame:
    """Top-k by ADC distance over a stored IVF-PQ index: probe-cell
    pruning identical to `ivf_topk_indexed`; each candidate's selected
    codewords are bound ONCE per row as columns (not re-inlined per
    distance term), then the squared-distance sum is a single codegen
    projection.  -> (qid, rank, neighbor, adist)."""
    from pyspark.sql import Window

    from rdf_mapper_spark.ops.similarity import pq_adc_sql

    meta = read_meta(path)
    cells = meta["cells"]
    codebooks = meta["codebooks"]
    q_c = queries.select(
        "qid", "qvec", norm_expr(F.col("qvec")).alias("qnrm"),
        F.explode(ivf_probe_expr(F.col("qvec"), cells, nprobe))
        .alias("cell"),
    )
    # one evaluation of the centroid-literal probe tree (see
    # ivf_topk_indexed)
    q_c = q_c.localCheckpoint(eager=True)
    probe_cells = [r.cell for r in q_c.select("cell").distinct().collect()]
    index = _read_index(spark, path).where(F.col("cell").isin(probe_cells))
    cand = index.join(F.broadcast(q_c), "cell").where(
        F.col("vec_id") != F.col("qid"))
    # bind each subspace's selected codeword once per candidate row;
    # codebooks as single matrix literals (see _mat_lit — analyzer cost)
    cand = cand.select(
        "qid", "qvec", "vec_id",
        *[F.element_at(_mat_lit(cb), F.col("codes")[j]).alias(f"__cw_{j}")
          for j, cb in enumerate(codebooks)],
    )
    dist = pq_adc_sql(
        lambda i: f"CAST(qvec[{i}] AS DOUBLE)", codebooks,
        lambda j, i: f"element_at(__cw_{j}, {i + 1})")
    scored = cand.select(
        "qid", F.col("vec_id").alias("neighbor"),
        F.round(F.expr(dist), 4).alias("adist"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("adist").asc(), F.col("neighbor").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "rank", "neighbor", "adist"))
