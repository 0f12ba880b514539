"""Steadiness command: repeat each workload and summarise every metric.

    python3 perfbench/steady.py --runs 10 [--workloads map_bulk,kg]
        [--seed0 1] [--trace 0|1|both]

Run i uses seed ``seed0 + i``.  For each workload and metric it prints
the median, the first and third quartiles (``statistics.quantiles(n=4)``)
and the spread (q3 - q1) / median next to the metric's bound from
BENCHMARK.json, plus the ops attempted and failed.  With ``--trace both``
every seed also runs traced, and the tracing overhead (traced minus
untraced median op latency) is printed.  ``--runs 1`` is the one-command
tour of every workload.  Raw results are appended to
``.perfbench/steady.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def summarise(results: list[dict], metrics: list[dict]) -> list[str]:
    out = []
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = med
        spread = (q3 - q1) / med if med else float("nan")
        bound = m.get("bound")
        out.append(f"  {m['name']:<28} {med:>12.4f} {m['unit']:<6} "
                   f"q1 {q1:>11.4f}  q3 {q3:>11.4f}  spread {spread:6.3f}"
                   + (f"  bound {bound}" if bound is not None else ""))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", choices=["0", "1", "both"], default="0")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    traces = {"0": [0], "1": [1], "both": [0, 1]}[args.trace]
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    log = open(os.path.join(ROOT, ".perfbench", "steady.jsonl"), "a",
               encoding="utf-8")
    for name in names:
        by_trace: dict[int, list[dict]] = {t: [] for t in traces}
        for i in range(args.runs):
            for t in traces:
                r = one_run(name, args.seed0 + i, bench["run_seconds"], t)
                by_trace[t].append(r)
                log.write(json.dumps({"workload": name, "seed":
                                      args.seed0 + i, "trace": t,
                                      **r}) + "\n")
                log.flush()
        for t, results in by_trace.items():
            att = sum(r["attempted"] for r in results)
            fail = sum(r["failed"] for r in results)
            ok = all(r["correct"] for r in results)
            print(f"{name} (trace {t}): {len(results)} runs, {att} ops "
                  f"attempted, {fail} failed, correct={ok}")
            metrics = bench["per_layer"] if t else bench["end_to_end"]
            print("\n".join(summarise(results, metrics)))
        if len(traces) == 2:
            plain = statistics.median(r["metrics"]["op_p50_s"]["value"]
                                      for r in by_trace[0])
            traced = statistics.median(
                r["metrics"]["trace.op_p50_s"]["value"] for r in by_trace[1])
            print(f"  tracing overhead: {traced - plain:+.4f} s per op "
                  f"({(traced - plain) / plain:+.1%} of {plain:.4f} s)")
        sys.stdout.flush()
    log.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
