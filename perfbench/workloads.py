"""The two workloads.  Each has ``setup`` (inputs, program-side
preparation, an untimed warm-up of every op shape), ``round`` (one whole
round of ``OPS_PER_ROUND`` ops, the unit the measured phase repeats),
``check`` (the independent output checks) and ``layers`` (its per-layer
numbers from spans and the event-log ledger).

The package is called only through its public functions, each call
inside a span named after the module it enters.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics

import checks
import gen
import queries
from ledger import job_cover_s

HERE = os.path.dirname(os.path.abspath(__file__))


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def spark_layers(ctx, op_ids: list[str]) -> dict:
    """The spark.* metrics: per-op ledger rows, median over the ops."""
    rows = [ctx.ledger[o] for o in op_ids if o in ctx.ledger]
    out = {"spark." + key: _median(r[key] for r in rows)
           for key in ("jobs", "stages", "tasks", "executor_run_s",
                       "executor_cpu_s", "shuffle_write_mb", "spill_mb",
                       "gc_s")}
    use, gap = [], []
    for o in op_ids:
        start, end = ctx.op_window[o]
        if o in ctx.ledger and end > start:
            row = ctx.ledger[o]
            use.append(row["executor_run_s"] / ((end - start) * ctx.cores))
            gap.append((end - start) - job_cover_s(row, start, end))
    out["spark.slot_use"] = _median(use)
    out["spark.driver_gap_s"] = _median(gap)
    return out


class MapBulk:
    """One input file through the CLI's ``--nquads-dir --abort-on-error``
    path, called in-process: load_spec -> read_csv / read_jsonlines ->
    MapperEngine(spec).apply -> count_errors -> write_nquads.  A round is
    one CSV file and one JSON-lines file."""

    N_FILES = 2
    N_ROWS = 2000
    OPS_PER_ROUND = N_FILES

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.stream_ops: dict[str, str] = {}
        self.files: list[tuple[str, list[dict]]] = []
        self.done: dict[str, int] = {}
        self.errors: dict[str, dict] = {}
        self.op_ids: list[str] = []

    def setup(self) -> None:
        self.files = gen.bulk_files(self.ctx.seed,
                                    os.path.join(self.ctx.run_dir, "in"),
                                    self.N_FILES, self.N_ROWS)
        for path, _ in self.files:
            self._op(path, timed=False)

    @staticmethod
    def _spec_path(path: str) -> str:
        return os.path.join(HERE, "specs", "products_csv.yaml"
                            if path.endswith(".csv")
                            else "products_json.yaml")

    def _read(self, path: str):
        from rdf_mapper_spark.sources import read_csv, read_jsonlines

        return (read_csv if path.endswith(".csv") else read_jsonlines)(
            self.ctx.spark, path)

    def _out(self, path: str) -> str:
        stem = os.path.splitext(os.path.basename(path))[0]
        return os.path.join(self.ctx.run_dir, "out", stem)

    def _op(self, path: str, timed: bool = True) -> None:
        from rdf_mapper_spark.engine import MapperEngine
        from rdf_mapper_spark.sinks import write_nquads
        from rdf_mapper_spark.spec import load_spec

        ctx, tr = self.ctx, self.ctx.tracer
        kind = "csv" if path.endswith(".csv") else "json"
        with ctx.op(kind, timed) as rec:
            with tr.span("spec.load_s"):
                spec = load_spec(self._spec_path(path))
            with tr.span("sources.read_s"):
                df = self._read(path)
            with tr.span("engine.apply_s"):
                engine = MapperEngine(spec)
                quads = engine.apply(
                    df, file_name=os.path.basename(self._out(path)))
            with tr.span("engine.count_errors_s"):
                self.errors[path] = engine.count_errors()
            with tr.span("sinks.write_nquads_s"):
                write_nquads(quads, self._out(path))
        if timed and rec["ok"]:
            self.done[path] = self.done.get(path, 0) + 1
            self.op_ids.append(rec["id"])

    def round(self) -> None:
        for path, _ in self.files:
            self._op(path)

    def after_measure(self) -> None:
        pass

    def check(self) -> list[str]:
        problems = []
        self.n_lines: dict[str, int] = {}
        for path, rows in self.files:
            lines = checks.read_lines(self._out(path))
            self.n_lines[path] = len(lines)
            problems += [f"{os.path.basename(path)}: {p}"
                         for p in checks.check_bulk(
                             lines, rows, not path.endswith(".csv"),
                             self.errors[path], self.ctx.seed)]
        return problems

    def quads_written(self) -> int:
        return sum(self.n_lines[p] * n for p, n in self.done.items())

    def traced_extras(self) -> dict:
        """Numbers that need the session: output bytes, and quads
        before the engine's set-dedup / after (one extra count of the
        undeduplicated plan per file)."""
        from rdf_mapper_spark.engine import MapperEngine
        from rdf_mapper_spark.spec import load_spec

        ratios, sizes = [], []
        for path, _ in self.files:
            raw = MapperEngine(load_spec(self._spec_path(path))).apply(
                self._read(path), dedup=False).count()
            ratios.append(raw / self.n_lines[path])
            out = self._out(path)
            sizes.append(sum(os.path.getsize(os.path.join(out, f))
                             for f in os.listdir(out)
                             if f.startswith("part-")))
        return {"quads.dedup_in_per_out": _median(ratios),
                "sinks.out_mb": _median(sizes) / 2**20}

    def layers(self) -> dict:
        ctx = self.ctx
        rows = [ctx.ledger.get(o, {}) for o in self.op_ids]
        out = spark_layers(ctx, self.op_ids)
        for name in ("spec.load_s", "engine.apply_s",
                     "engine.count_errors_s", "sinks.write_nquads_s"):
            out[name] = _median(ctx.timed_spans(name))
        out["engine.count_errors_jobs"] = _median(
            ctx.jobs_in_span(o, "engine.count_errors_s") for o in self.op_ids)
        for name, key in (("compiler.python_udf_nodes", "python_udf_nodes"),
                          ("compiler.python_rows", "python_rows")):
            out[name] = _median(r.get(key, 0) for r in rows)
        out["sources.scan_tasks"] = _median(
            r["scan_tasks"] / r["scans"] for r in rows if r.get("scans"))
        return out


class KG:
    """Web-scale KG construction over seeded page files by both paths.
    A round is one checkpointed ``run_pipeline(materialize=True)`` (one
    op) and one ``stream_kg_pipeline`` run over the same files with one
    file per trigger (one op per micro-batch).  Setup also builds the
    predicate-partitioned quad store.  In the traced run the SPARQL mix
    runs once over it after the measured phase, where its answers are
    checked and its spans give the read-side layers; untraced runs skip
    it, as the time budget of a run has no room for it."""

    N_FILES = 1
    PAGES_PER_FILE = 3000
    N_ENTITIES = 500
    OPS_PER_ROUND = 1 + N_FILES

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rounds = 0
        self.batch_quads = 0
        self.op_ids: list[str] = []
        self.batch_ops: list[str] = []
        self.mb_ops: list[str] = []
        self.query_ops: list[str] = []
        self.stream_ops: dict[str, str] = {}
        self.progress: list[dict] = []
        self.pairs: list[tuple[str, str]] = []
        self.answers: dict[str, object] = {}

    def setup(self) -> None:
        from rdf_mapper_spark.store import (analyze_store, read_quad_store,
                                            read_stats, write_quad_store)

        ctx, tr = self.ctx, self.ctx.tracer
        self.pages_dir, aliases_dir = gen.page_tables(
            ctx.spark, ctx.seed, ctx.run_dir, self.N_FILES,
            self.PAGES_PER_FILE, self.N_ENTITIES)
        self.pages = ctx.spark.read.parquet(self.pages_dir)
        self.aliases = ctx.spark.read.parquet(aliases_dir)
        self.ref = self._batch("ref", timed=False)
        self.store_dir = os.path.join(ctx.run_dir, "store")
        with ctx.op("store", timed=False):
            with tr.span("store.write_s"):
                write_quad_store(ctx.spark.read.parquet(self.ref),
                                 self.store_dir)
            with tr.span("store.analyze_s"):
                analyze_store(ctx.spark, self.store_dir)
            self.quads = read_quad_store(ctx.spark, self.store_dir)
            self.stats = read_stats(ctx.spark, self.store_dir)
        self._stream("warm", timed=False)
        self.mix = queries.query_mix(ctx.seed, self.N_ENTITIES)

    def _batch(self, tag: str, timed: bool = True) -> str | None:
        from rdf_mapper_spark.pipeline.run import run_pipeline

        ctx = self.ctx
        workdir = os.path.join(ctx.run_dir, f"batch-{tag}")
        with ctx.op("batch", timed) as rec:
            with ctx.tracer.span("pipeline.run_pipeline_s"):
                result = run_pipeline(ctx.spark, self.pages, self.aliases,
                                      workdir=workdir, materialize=True)
        if not rec["ok"]:
            return None
        if timed:
            self.batch_quads += result["triples"]
            self.op_ids.append(rec["id"])
            self.batch_ops.append(rec["id"])
        return os.path.join(workdir, "graph_tables")

    def _stream(self, tag: str, timed: bool = True) -> str | None:
        from rdf_mapper_spark.streaming import stream_kg_pipeline

        ctx, tr = self.ctx, self.ctx.tracer
        out = os.path.join(ctx.run_dir, f"stream-{tag}")
        with ctx.op("stream", timed=False, weight=self.N_FILES) as rec:
            src = (ctx.spark.readStream.schema(self.pages.schema)
                   .option("maxFilesPerTrigger", 1).parquet(self.pages_dir))
            with tr.span("streaming.start_s"):
                query = stream_kg_pipeline(
                    src, self.aliases, out,
                    os.path.join(ctx.run_dir, f"stream-{tag}.ckpt"))
            with tr.span("streaming.await_s"):
                query.awaitTermination()
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            batches = [p for p in query.recentProgress
                       if p["numInputRows"] > 0]
            if len(batches) != self.N_FILES:
                raise RuntimeError(f"{len(batches)} micro-batches, want "
                                   f"{self.N_FILES}")
        if not rec["ok"]:
            return None
        if timed:
            self.stream_ops[query.id] = rec["id"]
            for p in batches:
                mb = f"{rec['id']}:b{p['batchId']}"
                wall = p["durationMs"]["triggerExecution"] / 1e3
                begin = dt.datetime.fromisoformat(
                    p["timestamp"].replace("Z", "+00:00")).timestamp()
                ctx.op_latency[mb] = wall
                ctx.op_window[mb] = (begin, begin + wall)
                self.mb_ops.append(mb)
                self.op_ids.append(mb)
                self.progress.append(p)
        return out

    def _queries(self) -> None:
        from rdf_mapper_spark.sparql import sparql

        ctx, tr = self.ctx, self.ctx.tracer
        for q in self.mix:
            with ctx.op("query", timed=False) as rec:
                with tr.span("sparql.plan_s"):
                    out = sparql(self.quads, q["text"], stats=self.stats)
                with tr.span("query.execute_s"):
                    if q["kind"] == "ask":
                        rows = out
                    elif q["kind"] == "quads":
                        rows = out.select("s", "p", "o").collect()
                    else:
                        rows = out.collect()
            self.query_ops.append(rec["id"])
            self.answers[q["name"]] = rows

    def round(self) -> None:
        batch_out = self._batch(str(self.rounds))
        stream_out = self._stream(str(self.rounds))
        if batch_out and stream_out:
            self.pairs.append((batch_out, stream_out))
        self.rounds += 1

    def after_measure(self) -> None:
        if self.ctx.tracer.enabled:
            self._queries()

    def check(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        problems = checks.check_kg_counts(con, self.ref, self.pages_dir)
        for batch_out, stream_out in self.pairs:
            problems += checks.check_same_set(con, self.ref, batch_out)
            problems += checks.check_same_set(con, batch_out, stream_out)
        for q in self.mix:
            if q["name"] in self.answers:
                problems += checks.check_query(con, self.ref, q,
                                               self.answers[q["name"]])
        return problems

    def quads_written(self) -> int:
        import pyarrow.parquet as pq

        streamed = sum(pq.ParquetFile(os.path.join(out, f)).metadata.num_rows
                       for _, out in self.pairs for f in os.listdir(out)
                       if f.endswith(".parquet"))
        return self.batch_quads + streamed

    def traced_extras(self) -> dict:
        return {}

    def _stage_meta(self, op_index: int) -> dict:
        workdir = os.path.join(self.ctx.run_dir, f"batch-{op_index}")
        meta = {}
        for f in os.listdir(workdir):
            if f.endswith("._metrics.json"):
                with open(os.path.join(workdir, f), encoding="utf-8") as fh:
                    meta[f[:-len("._metrics.json")]] = json.load(fh)
        return meta

    def layers(self) -> dict:
        ctx, tr = self.ctx, self.ctx.tracer
        out = spark_layers(ctx, self.op_ids)
        metas = [self._stage_meta(i) for i in range(self.rounds)]
        for stage in ("extract", "link", "canonical"):
            out[f"pipeline.{stage}_s"] = _median(
                m[stage]["wall_sec"] for m in metas)
        out["pipeline.triples_s"] = _median(
            m["triples_pages"]["wall_sec"] + m["triples_links"]["wall_sec"]
            for m in metas)
        out["quads.dedup_in_per_out"] = _median(
            (m["triples_pages"]["rows"] + m["triples_links"]["rows"])
            / m["canonical"]["rows"] for m in metas)
        for name, field in (("pipeline.checkpoint_jobs", 0),
                            ("pipeline.checkpoint_s", 1)):
            out[name] = _median(
                ctx.site_jobs(o, "pipeline/checkpoint.py", "collect", field)
                for o in self.batch_ops)
        streams = set(self.stream_ops.values())
        out["streaming.start_s"] = _median(
            s["end"] - s["start"] for s in tr.spans
            if s["name"] == "streaming.start_s" and s["op"] in streams)
        out["streaming.add_batch_s"] = _median(
            p["durationMs"]["addBatch"] / 1e3 for p in self.progress)
        out["streaming.planning_s"] = _median(
            (p["durationMs"]["triggerExecution"]
             - p["durationMs"]["addBatch"]) / 1e3 for p in self.progress)
        out["streaming.jobs_per_batch"] = _median(
            ctx.ledger.get(o, {}).get("jobs", 0) for o in self.mb_ops)
        out["store.write_s"] = _median(tr.durations("store.write_s"))
        out["store.analyze_s"] = _median(tr.durations("store.analyze_s"))
        for name in ("sparql.plan_s", "query.execute_s"):
            out[name] = _median(tr.durations(name))
        n_files = sum(1 for root, _, fs in os.walk(self.store_dir)
                      if "_stats" not in root
                      for f in fs if f.endswith(".parquet"))
        out["store.files_read_share"] = _median(
            ctx.ledger.get(o, {}).get("files_read", 0) / n_files
            for o in self.query_ops)
        return out
