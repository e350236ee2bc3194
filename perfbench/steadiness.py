#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed on each workload and
reports, per end-to-end metric, the median and the spread — the distance
between the first and third quartile as a share of the median — next to
the metric's bound in BENCHMARK.json. Run from the root of the checkout:

    python3 perfbench/steadiness.py --seeds 1-10 --out perfbench/results/set1.json

Each run's full result line and host-noise record go into the output file,
so two sets can be compared later with --compare A.json B.json. With
--trace 1 it runs the traced benchmark instead and reports each per-layer
metric's median and the tracing overhead against the untraced runs of the
same seeds (make those first, in the same checkout).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(s):
    lo, _, hi = s.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def run_set(bench, seeds, workloads, trace):
    runs = []
    for w in workloads:
        for s in seeds:
            cmd = bench["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(trace)]
            t0 = time.time()
            p = subprocess.run(cmd, capture_output=True, text=True)
            elapsed = time.time() - t0
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not line:
                sys.exit(f"{w} seed {s} failed ({p.returncode}):\n{p.stderr[-3000:]}")
            res = json.loads(line)
            with open(os.path.join(".bench_build", "results",
                                   f"{w}-seed{s}-trace{trace}.json")) as fh:
                rec = json.load(fh)
            runs.append({"workload": w, "seed": s, "elapsed_s": elapsed,
                         "result": res,
                         "host": rec["host"],
                         "warm_jit_ms": rec["warm_jit_ms"],
                         "warm_gc_ms": rec["warm_gc_ms"],
                         "warm_codegen_compiles": rec["warm_codegen_compiles"],
                         "trace_overhead": rec.get("trace_overhead"),
                         "op_wall_s": [o["wall_s"] for o in rec["ops"]]})
            print(w, s, {k: round(v["value"], 3)
                         for k, v in res["metrics"].items()},
                  rec["host"], flush=True)
    return runs


def trace_summary(bench, runs):
    """Traced runs: each per-layer metric's median over the runs, and the
    tracing overhead against the untraced runs of the same seeds."""
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == w]
        over = [r["trace_overhead"] for r in rs if r["trace_overhead"] is not None]
        out[w] = {"trace_overhead_median": statistics.median(over) if over else None,
                  "trace_overhead": over}
        for m in bench["per_layer"]:
            out[w][m["name"]] = statistics.median(
                r["result"]["metrics"][m["name"]]["value"] for r in rs)
    return out


def summary(bench, runs):
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == w]
        out[w] = {}
        for m in bench["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in rs]
            out[w][m["name"]] = {"median": statistics.median(vals),
                                 "spread": spread(vals), "bound": m["bound"],
                                 "n": len(vals)}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    if a.compare:
        s1, s2 = (json.load(open(p))["summary"] for p in a.compare)
        for w in s1:
            for m, v in s1[w].items():
                shift = s2[w][m]["median"] / v["median"] - 1
                print(f"{w:15s} {m:16s} {v['median']:10.3f} -> "
                      f"{s2[w][m]['median']:10.3f} shift {shift:+.3f} "
                      f"(bound {v['bound']})")
        return
    workloads = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in bench["workloads"]]
    runs = run_set(bench, parse_seeds(a.seeds), workloads, a.trace)
    if a.trace:
        res = {"seeds": a.seeds, "trace": trace_summary(bench, runs), "runs": runs}
        for w, ms in res["trace"].items():
            print(w, "tracing overhead", ms["trace_overhead_median"])
        if a.out:
            with open(a.out, "w") as fh:
                json.dump(res, fh, indent=1)
        return
    res = {"seeds": a.seeds, "summary": summary(bench, runs), "runs": runs}
    for w, ms in res["summary"].items():
        for m, v in ms.items():
            print(f"{w:15s} {m:16s} median {v['median']:10.3f} spread "
                  f"{v['spread']:.3f} bound {v['bound']}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(res, fh, indent=1)


if __name__ == "__main__":
    main()
