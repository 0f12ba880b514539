"""Per-stage checkpointing with lineage + count metrics (north rule).

Every stage writes a parquet "stage table" plus a `_metrics.json` sidecar
recording per-file row counts (``per_partition``: one entry per written
file, read from the parquet footers with no Spark job), total rows,
wall-clock, and the input fingerprint. A re-run with the same
fingerprint short-circuits to a read — any stage is resumable. (Iceberg snapshots play this role on a real
cluster; parquet directories are the sandbox stand-in.)
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class StageRunner:
    def __init__(self, spark: SparkSession, base_dir: str,
                 enabled: bool = True) -> None:
        self.spark = spark
        self.base_dir = base_dir
        self.enabled = enabled
        self.metrics: dict[str, dict] = {}
        if enabled:
            os.makedirs(base_dir, exist_ok=True)

    def _paths(self, name: str) -> tuple[str, str]:
        return (
            os.path.join(self.base_dir, name),
            os.path.join(self.base_dir, f"{name}._metrics.json"),
        )

    def run(self, name: str, fn: Callable[[], DataFrame],
            fingerprint: str = "", force: bool = False) -> DataFrame:
        """Compute-or-resume one stage."""
        if not self.enabled:
            df = fn()
            self.metrics[name] = {"resumed": False, "materialized": False}
            return df
        data_path, meta_path = self._paths(name)
        if not force and os.path.exists(meta_path):
            with open(meta_path, encoding="utf-8") as fh:
                meta = json.load(fh)
            if meta.get("fingerprint") == fingerprint and meta.get("success"):
                self.metrics[name] = {**meta, "resumed": True}
                return self.spark.read.parquet(data_path)
        t0 = time.time()
        df = fn()
        df.write.mode("overwrite").parquet(data_path)
        out = self.spark.read.parquet(data_path)
        per_partition = _file_rows(data_path)
        if per_partition is None:
            per_partition = [
                {"partition": int(r["pid"]), "rows": int(r["rows"])}
                for r in out.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.count(F.lit(1)).alias("rows")).collect()
            ]
        meta = {
            "stage": name,
            "fingerprint": fingerprint,
            "success": True,
            "rows": sum(p["rows"] for p in per_partition),
            "partitions": len(per_partition),
            "per_partition": per_partition,
            "wall_sec": round(time.time() - t0, 3),
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        with open(meta_path, "w", encoding="utf-8") as fh:
            json.dump(meta, fh, indent=1)
        self.metrics[name] = {**meta, "resumed": False}
        return out


def _file_rows(path: str) -> list[dict] | None:
    """One ``{"partition", "file", "rows"}`` entry per parquet file written
    under ``path``, from the file footers (no Spark job); None when a
    footer cannot be read, so the caller counts with a job instead."""
    try:
        import pyarrow.parquet as pq

        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        return [{"partition": i, "file": f,
                 "rows": pq.ParquetFile(os.path.join(path, f))
                 .metadata.num_rows}
                for i, f in enumerate(files)]
    except Exception:
        return None
