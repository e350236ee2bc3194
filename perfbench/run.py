#!/usr/bin/env python3
"""The repository's benchmark. One command builds the library, generates the
workload's inputs from the seed, computes the expected outputs with DuckDB,
runs the workload in a fresh JVM and prints one JSON result line:

    python3 perfbench/run.py --workload flagship_daily --seed 1 --seconds 5 --trace 0

Run it from the root of the checkout. Workloads, metrics and the reasons
behind them are described in perfbench/NOTES.md. A full record of each run
(every op, the host-noise readings and, with --trace 1, the per-op layer
breakdown and spans) is kept under .bench_build/results/.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = {
    # tens of cities, 50-100 stations each, 4-6 sensors per station
    "flagship_daily": {"cities": 10, "stations": (50, 100)},
    "query_mix": {"sf": 0.01},
}
# One query per non-streaming module; q_bfs is the loop representative.
MIX = ["q_json_extract", "q_sql_revenue", "q_percentile", "q_tfidf",
       "q_dedup_minhash", "q_ann_lsh", "q_multimodal_features",
       "q_flagship_analog", "q_pack_bins", "q_csv_roundtrip", "q_typed_agg",
       "q_bfs"]
SETUP_PROBES = 2        # extra JVMs that only build the session
# ops run after the cold one and before the measured warm phase, and the
# fewest ops the warm phase measures
WARMUP_OPS = {"flagship_daily": 3, "query_mix": 1}
MIN_WARM_OPS = {"flagship_daily": 4, "query_mix": 1}
OP_TIMEOUT_S = 120
RUN_BUDGET_S = 170      # everything after the build, so a run ends within 180 s
JVM_HEAP = "-Xmx2g"
# The parallel collector does all its work in pauses: G1's concurrent
# marking threads ran in some runs' measured ops and not in others (0.3 s
# against 10 s of CPU in a query_mix warm phase). A fixed set of JIT
# compiler threads keeps the record's per-thread CPU complete.
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:-UseDynamicNumberOfCompilerThreads"]
LAYERS = [
    "sources.scan_s", "sources.rows", "sources.partitions", "sources.self_s",
    "pipeline.run_s", "pipeline.write_csv_s", "pipeline.rows_out",
    "pipeline.self_s", "queries.self_s",
    "catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms",
    "catalyst.executions", "codegen.compiles", "codegen.compile_ms",
    "jvm.jit_ms", "jvm.gc_ms", "jvm.driver_cpu_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.job_union_s", "scheduler.driver_gap_s",
    "exec.task_cpu_s", "exec.task_run_s", "exec.core_busy_ratio",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
    "storage.retained_mb", "storage.retained_rdds",
]
# modules with a queries.<Module>.p50_s layer metric (those of MIX)
MIX_MODULES = ["Relational", "Joins", "Aggregates", "TextAnalysis", "Dedup",
               "Similarity", "Multimodal", "FlagshipAnalog", "Curation",
               "Sinks", "Typed", "Analytics"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def host_noise():
    """Steal seconds since boot and the 1-minute load average."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0
    return steal, os.getloadavg()[0]


def java(args, deadline, stdout=None):
    """Run the benchmark JVM and wait for it to end; it is killed at the
    run's deadline."""
    timeout = deadline - time.time()
    if timeout <= 0:
        sys.exit("perfbench: out of time before the run finished")
    with open(os.path.join(build.BUILD, "jvm.log"), "a") as err:
        return subprocess.run(
            ["java", JVM_HEAP, *JVM_FLAGS,
             f"-Djava.io.tmpdir={os.path.abspath(build.BUILD)}/tmp",
             *build.JVM_OPTS, "-cp", build.classpath(), "perfbench.Main", *args],
            stdout=stdout, stderr=err, timeout=timeout, check=True, text=True)


def prepare(workload, seed, inputs):
    """Generate the inputs and expected outputs once per (workload, seed)."""
    import oracle
    done = os.path.join(inputs, "ready")
    cfg_path = os.path.join(inputs, "inputs.json")
    if os.path.exists(done):
        with open(cfg_path) as fh:
            return json.load(fh)
    queries = json.load(open(build.QUERIES))
    spec = WORKLOADS[workload]
    if workload == "flagship_daily":
        import gen_snapshots
        cities = gen_snapshots.generate(inputs, seed, spec["cities"],
                                        spec["stations"])
        loc = os.path.abspath(os.path.join(inputs, "locations.jsonl"))
        lat = os.path.abspath(os.path.join(inputs, "latest.jsonl"))
        sql = oracle.flagship_sql(queries["q_flagship"]["oracle"], loc, lat, cities)
        res = oracle.result(oracle.duckdb.connect(), sql)
        cols = ["city", "location", "parameter", "value", "unit", "date"]
        idx = [res["columns"].index(c) for c in cols]
        res = {"columns": cols, "rows": [[r[i] for i in idx] for r in res["rows"]]}
        exp = os.path.abspath(os.path.join(inputs, "expected.json"))
        oracle.write(exp, res)
        cfg = {"flagship": {"locations": loc, "latest": lat, "cities": cities,
                            "expected": exp}}
    else:
        import gen_tables
        data = os.path.abspath(os.path.join(inputs, "tables"))
        gen_tables.generate(data, seed, spec["sf"])
        con = oracle.tables_connection(data)
        order = list(MIX)
        random.Random(seed).shuffle(order)
        ents = []
        for q in order:
            p = os.path.abspath(os.path.join(inputs, f"{q}.json"))
            oracle.write(p, oracle.result(con, queries[q]["oracle"]))
            ents.append({"name": q, "expected": p})
        cfg = {"data": data, "queries": ents}
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    open(done, "w").close()
    return cfg


def inputs_digest(workload):
    """Cache key of generated inputs: the generators, the oracle SQL and the
    workload's size."""
    here = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256(repr(WORKLOADS[workload]).encode())
    for f in ("gen_snapshots.py", "gen_tables.py", "oracle.py"):
        with open(os.path.join(here, f), "rb") as fh:
            h.update(fh.read())
    with open(build.QUERIES, "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:12]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def warm_ops(rec):
    return [o for o in rec["ops"][1 + rec["warmup_ops"]:] if "error" not in o]


def warm_p50(rec):
    return median([o["wall_s"] for o in warm_ops(rec)])


def summarise(rec, workload, trace):
    ops = rec["ops"]
    warm = warm_ops(rec)
    walls = [o["wall_s"] for o in warm]
    if workload == "query_mix":
        per_q = {}
        for o in warm:
            for k, v in o["queries"].items():
                per_q.setdefault(k, []).append(v)
        geo = math.exp(statistics.fmean(math.log(median(v))
                                        for v in per_q.values())) if per_q else 0.0
    else:
        geo = median(walls)
    m = {
        "setup_s": (median(rec["setup_samples"]), "s"),
        "first_op_s": (ops[0]["wall_s"], "s"),
        "latency_p50_s": (median(walls), "s"),
        "cpu_s_per_op": (median([o["cpu_s"] for o in warm]), "s"),
        "query_geomean_s": (geo, "s"),
        "live_heap_mb": (median([o["live_heap_mb"] for o in warm]), "MB"),
    }
    if trace:
        m = {}
        for name in LAYERS:
            m[name] = (median([layer_value(o, name) for o in warm]), unit_of(name))
        mods = sorted({k.split("/")[0] for k in ops[0]["queries"]})
        for mod in MIX_MODULES:
            vals = [sum(v for k, v in o["queries"].items()
                        if k.startswith(mod + "/")) for o in warm]
            m[f"queries.{mod}.p50_s"] = (median(vals) if mod in mods else 0.0, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def layer_value(o, name):
    lay = o.get("layers", {})
    if name == "codegen.compiles":
        return o["compiles"]
    if name == "codegen.compile_ms":
        return o["compile_ms"]
    if name == "jvm.jit_ms":
        return o["jit_ms"]
    if name == "jvm.gc_ms":
        return o["gc_ms"]
    if name == "jvm.driver_cpu_s":
        return o["cpu_s"] - lay.get("exec.task_cpu_s", 0.0)
    if name == "pipeline.rows_out":   # query_mix's rows_out are query rows
        return o["rows_out"] if lay.get("pipeline.run_s", 0) > 0 else 0
    if name == "storage.retained_mb":
        return o["retained_mb"]
    if name == "storage.retained_rdds":
        return o["retained_rdds"]
    return lay.get(name, 0.0)


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build.build()
    deadline = time.time() + RUN_BUDGET_S
    inputs = os.path.join(build.BUILD, "inputs",
                          f"{a.workload}-{a.seed}-{inputs_digest(a.workload)}")
    t = time.time()
    cfg = prepare(a.workload, a.seed, inputs)
    log(f"inputs ready in {time.time() - t:.1f}s")

    work = os.path.abspath(os.path.join(build.BUILD, "work"))
    os.makedirs(os.path.join(build.BUILD, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(build.BUILD, "results"), exist_ok=True)
    local = os.path.join(work, "local")
    shutil.rmtree(local, ignore_errors=True)   # left by the probes' fast exit
    samples = []
    for _ in range(SETUP_PROBES):
        out = java(["setup", local], deadline, stdout=subprocess.PIPE).stdout
        samples.append(json.loads(out.strip().splitlines()[-1])["setup_s"])

    out = os.path.join(work, "record.json")
    cfg.update({"workload": a.workload, "seconds": a.seconds,
                "min_warm_ops": MIN_WARM_OPS[a.workload],
                "warmup_ops": WARMUP_OPS[a.workload],
                "op_timeout_s": OP_TIMEOUT_S, "trace": bool(a.trace),
                "work": work, "out": out})
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    steal0, load0 = host_noise()
    java(["run", cfg_path], deadline)
    steal1, load1 = host_noise()
    with open(out) as fh:
        rec = json.load(fh)
    rec["setup_samples"] = samples + [rec["setup_s"]]
    rec["host"] = {"steal_s": steal1 - steal0, "load_start": load0,
                   "load_end": load1}
    rec["seed"] = a.seed
    metrics = summarise(rec, a.workload, a.trace)
    failed = sum(1 for o in rec["ops"] if "error" in o)
    for o in rec["ops"]:
        if "error" in o:
            log(f"op failed: {o['error'][:500]}")
    rec["metrics"] = metrics
    rec["error_rate"] = failed / len(rec["ops"])
    results = os.path.join(build.BUILD, "results", f"{a.workload}-seed{a.seed}")
    if a.trace and os.path.exists(f"{results}-trace0.json"):
        # tracing overhead: this run's warm median against the untraced run
        # of the same seed, when one was made in this checkout
        with open(f"{results}-trace0.json") as fh:
            plain = json.load(fh)
        rec["trace_overhead"] = warm_p50(rec) / warm_p50(plain) - 1
        log(f"tracing overhead {rec['trace_overhead']:+.3f} of the untraced warm median")
    with open(f"{results}-trace{a.trace}.json", "w") as fh:
        json.dump(rec, fh)
    log(f"{len(rec['ops'])} ops, warm phase {rec['warm_phase_s']:.1f}s, "
        f"steal {steal1 - steal0:.2f}s, load {load0:.2f}->{load1:.2f}, "
        f"warm jit {rec['warm_jit_ms']}ms gc {rec['warm_gc_ms']}ms "
        f"compiles {rec['warm_codegen_compiles']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(rec["ops"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
