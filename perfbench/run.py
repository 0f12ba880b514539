"""KG-construction benchmark for rdf_mapper_spark.

    python3 perfbench/run.py --workload map_bulk --seed 1 --seconds 10 \\
        --trace 0

Run from the root of a checkout: the package is imported from there, by
this process and by Spark's Python workers.  One run builds one Spark
session (``local[k]``, k = min(4, cores), the CLI's session settings),
makes its seeded inputs under ``.perfbench/`` in the checkout, sets up,
warms every op shape, then repeats whole rounds of ops until
``--seconds`` have passed.  It checks the outputs apart from the program
and prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``.  The traced run also writes
its spans and event-log ledger to ``.perfbench/last-trace-<workload>/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, os.cpu_count() or 1)


class Ctx:
    """What a workload shares with the harness: the session, the seed,
    the run directory, the tracer and the op bookkeeping."""

    def __init__(self, spark, seed: int, run_dir: str, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = tracer
        self.cores = CORES
        self.measuring = False
        self.failed = 0
        self.op_latency: dict[str, float] = {}
        self.op_window: dict[str, tuple[float, float]] = {}
        self.ledger: dict[str, dict] = {}
        self._n = 0

    @contextlib.contextmanager
    def op(self, kind: str, timed: bool = True, weight: int = 1):
        """One op: its own job group (the ledger key) and span.  While
        measuring, an op that raises is counted as ``weight`` failed ops
        and the round goes on; during set-up it ends the run."""
        self._n += 1
        rec = {"id": f"{kind}-{self._n}", "ok": False}
        self.spark.sparkContext.setJobGroup(rec["id"], rec["id"])
        self.tracer.op = rec["id"]
        t0, p0 = time.time(), time.perf_counter()
        try:
            with self.tracer.span("op." + kind):
                yield rec
            rec["ok"] = True
        except Exception:
            if not self.measuring:
                raise
            traceback.print_exc()
            self.failed += weight
        finally:
            wall = time.perf_counter() - p0
            self.op_window[rec["id"]] = (t0, t0 + wall)
            if timed and rec["ok"]:
                self.op_latency[rec["id"]] = wall
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id",
                                                     None)
            self.tracer.op = None

    def timed_spans(self, name: str) -> list[float]:
        """Durations of spans ``name`` inside timed ops."""
        return [s["end"] - s["start"] for s in self.tracer.spans
                if s["name"] == name and s["op"] in self.op_latency]

    def jobs_in_span(self, op: str, name: str) -> int:
        """Jobs of ``op`` submitted inside its span ``name``."""
        windows = [(s["start"], s["end"]) for s in self.tracer.spans
                   if s["op"] == op and s["name"] == name]
        return sum(any(a <= start <= b for a, b in windows)
                   for start, _ in self.ledger.get(op, {}).get(
                       "job_intervals", []))

    def site_jobs(self, op: str, where: str, method: str | None = None,
                  field: int = 0) -> float:
        """Jobs (or, with field=1, job seconds) of ``op`` whose call site
        is in file ``where`` and, if given, is a call of ``method``."""
        sites = self.ledger.get(op, {}).get("sites", {})
        return sum(v[field] for site, v in sites.items()
                   if where in site and (method is None
                                         or site.startswith(method + " ")))


def session(run_dir: str, trace: bool):
    """The CLI's session (AQE on, UI off, default file split) on
    local[k]; scratch space inside the run directory; the event log on
    for the traced run only."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("perfbench")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.local.dir", os.path.join(run_dir, "local"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when its
    stdin closes)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the session's JVM plus this process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    import ledger
    import spans
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    state = os.path.join(ROOT, ".perfbench")
    os.makedirs(state, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=state)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    tracer = spans.Tracer(trace)
    spark = None
    t0 = time.perf_counter()
    try:
        spark = session(run_dir, trace)
        ctx = Ctx(spark, seed, run_dir, tracer)
        wl = {"map_bulk": workloads.MapBulk, "kg": workloads.KG}[workload](
            ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0

        ctx.measuring = True
        rounds = 0
        p0 = time.perf_counter()
        while True:
            wl.round()
            rounds += 1
            if time.perf_counter() - p0 >= seconds:
                break
        phase_s = time.perf_counter() - p0
        ctx.measuring = False
        wl.after_measure()
        rss = peak_rss_mb(spark)
        problems = wl.check()
        quads = wl.quads_written()
        if trace:
            extra = wl.traced_extras()
            stop(spark)
            spark = None
            events = ledger.read_events(os.path.join(run_dir, "eventlog"))
            ctx.ledger, sites = ledger.parse(events, wl.stream_ops)
            layers = {**wl.layers(), **extra}
            layers["trace.op_p50_s"] = statistics.median(
                ctx.op_latency.values())
            out_dir = os.path.join(state, f"last-trace-{workload}")
            shutil.rmtree(out_dir, ignore_errors=True)
            os.makedirs(out_dir)
            tracer.write(os.path.join(out_dir, "spans.json"))
            with open(os.path.join(out_dir, "ledger.json"), "w",
                      encoding="utf-8") as fh:
                json.dump({"ops": ctx.ledger, "sites": sites}, fh, indent=1)
            wanted = spec["per_layer"]
            values = {m["name"]: layers.get(m["name"], 0.0) for m in wanted}
        else:
            wanted = spec["end_to_end"]
            values = {
                "setup_s": setup_s,
                "quads_per_s": quads / phase_s,
                "op_p50_s": statistics.median(ctx.op_latency.values()),
                "peak_rss_mb": rss,
            }
        print(f"perfbench {workload}: setup {setup_s:.1f} s, {rounds} "
              f"rounds in {phase_s:.1f} s, {quads} quads, "
              f"{len(problems)} check failures", file=sys.stderr)
        for p in problems:
            print("CHECK FAILED:", p, file=sys.stderr)
        return {
            "correct": not problems,
            "attempted": rounds * wl.OPS_PER_ROUND,
            "failed": ctx.failed,
            "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                    "unit": m["unit"]} for m in wanted},
        }
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["map_bulk", "kg"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rdf_mapper_spark",
                                       "__init__.py")):
        print(f"perfbench: no rdf_mapper_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
