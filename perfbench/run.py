"""graft benchmark: one command for set-up, the correctness gate and a
closed-loop measuring window on one workload.

Usage:
  python3 perfbench/run.py --workload <headline|lakehouse|scaleup>
      --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and
the harness from source into `.bench_build/`. Every run generates the
sf0.1 inputs, starts one JVM on `local[N]` (N = min(4, cores)), checks
the outputs against DuckDB and warms up, then issues the workload's seeded
op sequence from one client thread with no think time for `--seconds`.
Human-readable lines go first; the last line of stdout is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build")
MAX_CORES = 4
XMX = "3g"
RUN_BUDGET_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "latency_p50_ms": "ms",
              "latency_tail_ms": "ms", "heap_live_peak_mb": "MB"}

PER_LAYER = {
    "setup.session_ms": "ms", "setup.gen_ms": "ms", "setup.oracle_ms": "ms",
    "setup.warmup_ms": "ms",
    "tables.read_ms": "ms", "tables.read_jobs": "count",
    "construct.ms": "ms", "construct.jobs": "count",
    "plan.ms": "ms", "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "execute.ms": "ms", "execute.jobs": "count", "execute.stages": "count",
    "execute.tasks": "count", "execute.task_ms": "ms", "execute.busy_ratio": "ratio",
    "execute.task_skew": "ratio", "execute.gc_ms": "ms", "execute.input_bytes": "bytes",
    "execute.shuffle_write_bytes": "bytes", "execute.spill_bytes": "bytes",
    "lake.create_ms": "ms", "lake.commit_ms": "ms", "lake.checkpoint_commit_ms": "ms",
    "lake.read_as_of_ms": "ms", "lake.changes_range_ms": "ms", "lake.restore_ms": "ms",
    "lake.bytes_written": "bytes", "lake.files_written": "count",
    "text.lj2_ms": "ms", "text.ls3_ms": "ms", "text.lp12_ms": "ms",
    "text.lj2_candidates": "count", "text.ls3_fanout": "count",
    "trace.overhead_pct": "%", "trace.unattributed_pct": "%",
}
TEXT_KEYS = {"text.lj2_ms": "lj2_prefix_jaccard", "text.ls3_ms": "ls3_tfidf_topk",
             "text.lp12_ms": "lp12_chunk_dedup"}
COMMIT_KINDS = ("commit", "checkpoint_commit", "restore", "checkpoint_restore")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def throughput(ops):
    """Completed ops ÷ (last op end − first op start)."""
    span_s = (max(o["end_ns"] for o in ops) - min(o["start_ns"] for o in ops)) / 1e9
    return sum(o["ok"] for o in ops) / span_s if span_s else 0.0


def end_to_end(result, setup_s):
    ops = result["ops"]
    by_kind = {}
    for o in ops:
        if o["ok"]:
            by_kind.setdefault(o["kind"], []).append((o["end_ns"] - o["start_ns"]) / 1e6)
    lat = [v for vs in by_kind.values() for v in vs]
    p, tail_ms, n_beyond = stats.tail(lat)
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": throughput(ops),
        "latency_p50_ms": stats.kind_p50(by_kind),
        "latency_tail_ms": tail_ms,
        "heap_live_peak_mb": max(int(b) for b in result["heap_live_bytes"]) / 2 ** 20,
    }
    info = {"latency_tail_percentile": p, "latency_tail_samples_beyond": n_beyond,
            "latency_samples": len(lat), "latency_pooled_median_ms": stats.median(lat),
            "error_rate": (sum(not o["ok"] for o in ops) / len(ops)) if ops else 0.0}
    return metrics, info


def overhead_pct(ops):
    """Tracing overhead: per kind of op, the median traced latency over the
    median untraced one, as a percentage above 1 (the median over kinds).
    A traced run traces every second op, so both sides span the window."""
    by_kind = {}
    for o in ops:
        if o["ok"]:
            by_kind.setdefault(o["kind"], ([], []))[o["traced"]].append(o["end_ns"] - o["start_ns"])
    ratios = [stats.median(t) / stats.median(u) for u, t in by_kind.values() if u and t]
    return 100.0 * (stats.median(ratios, 1.0) - 1.0)


def per_layer(result, spans, setup):
    """Per-layer metrics from the traced ops of the window: the median over
    them of each layer's self time and work counters."""
    self_ns = stats.self_times(spans)
    for s in spans:
        s["self_ns"] = self_ns[s["id"]]
    ops = result["ops"]
    traced = [o for o in ops if o["traced"]]
    traced_ok = {o["seq"] for o in traced if o["ok"]}
    by_op = {}
    for s in spans:
        if s["op"] in traced_ok and not s["detached"] and s["parent"] >= 0:
            by_op.setdefault(s["op"], {})[s["name"]] = s
    m = {k: 0.0 for k in PER_LAYER}
    m.update({f"setup.{k}": v for k, v in setup.items()})

    def med(layer, field=None):
        vals = []
        for layers in by_op.values():
            found = [s for n, s in layers.items() if n.startswith(layer)]
            if found:
                vals.append(sum(s["self_ns"] / 1e6 if field is None
                                else s["counters"].get(field, 0.0) for s in found))
        return stats.median(vals)

    for layer in ("construct", "plan", "execute"):
        m[f"{layer}.ms"] = med(layer)
    m["construct.jobs"] = med("construct", "jobs")
    for phase in ("analysis", "optimization", "planning"):
        m[f"plan.{phase}_ms"] = med("plan", f"{phase}_ms")
    # execute-layer work: the execute span of a query op, the lake.* call
    # of a lakehouse op
    work = "lake." if result["workload"] == "lakehouse" else "execute"
    if work == "lake.":
        m["execute.ms"] = med(work)
    for field in ("jobs", "stages", "tasks", "task_ms", "gc_ms", "input_bytes",
                  "shuffle_write_bytes", "spill_bytes", "task_skew"):
        m[f"execute.{field}"] = med(work, field)
    busy = []
    for layers in by_op.values():
        for n, s in layers.items():
            if n.startswith(work) and s["end_ns"] > s["start_ns"]:
                wall_ms = (s["end_ns"] - s["start_ns"]) / 1e6
                busy.append(s["counters"].get("task_ms", 0.0) / (wall_ms * result["cores"]))
    m["execute.busy_ratio"] = stats.median(busy)

    reads = {}
    for s in spans:
        if s["detached"] and s["name"].startswith("tables.read:"):
            r = reads.setdefault(s["op"], [0.0, 0.0])
            r[0] += s["self_ns"] / 1e6
            r[1] += s["counters"].get("jobs", 0.0)
    m["tables.read_ms"] = stats.median([r[0] for r in reads.values()])
    m["tables.read_jobs"] = stats.median([r[1] for r in reads.values()])

    def wall(o):
        return (o["end_ns"] - o["start_ns"]) / 1e6

    # op latencies from every op of the window, traced or not, so that
    # each kind of op counts whichever of its runs the alternation traced
    ok = [o for o in ops if o["ok"]]
    for kind in ("create", "read_as_of", "changes_range"):
        m[f"lake.{kind}_ms"] = stats.median([wall(o) for o in ok if o["kind"] == kind])
    m["lake.commit_ms"] = stats.median([wall(o) for o in ok if o["kind"] == "commit"])
    m["lake.checkpoint_commit_ms"] = stats.median(
        [wall(o) for o in ok if o["kind"] == "checkpoint_commit"])
    m["lake.restore_ms"] = stats.median([wall(o) for o in ok if o["name"] == "restore"])
    # bytes do not depend on tracing: every commit of the window counts
    commits = [o for o in ops if o["ok"] and o["kind"] in COMMIT_KINDS]
    if commits:
        m["lake.bytes_written"] = sum(o["bytes"] for o in commits) / len(commits)
        m["lake.files_written"] = sum(o["files"] for o in commits) / len(commits)
    for metric, key in TEXT_KEYS.items():
        m[metric] = stats.median([wall(o) for o in result["probes"] if o["name"] == key])
    counters = result["counters"]
    m["text.lj2_candidates"] = float(counters.get("lj2_candidates", 0))
    m["text.ls3_fanout"] = float(counters.get("ls3_fanout", 0))

    m["trace.overhead_pct"] = overhead_pct(ops)
    roots = [s for s in spans if s["parent"] < 0 and s["op"] in traced_ok
             and s["name"].startswith("op:")]
    m["trace.unattributed_pct"] = stats.median(
        [100.0 * s["self_ns"] / max(1, s["end_ns"] - s["start_ns"]) for s in roots])
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops the harness it started (see `finally`)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build.build()
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    round_size = workloads.round_size(args.workload)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    host = {"nproc": len(os.sched_getaffinity(0)), "master": f"local[{cores}]",
            "xmx": XMX, "loadavg_start": loadavg()}
    proc = None
    ok = False
    try:
        t_setup = time.time()
        data = os.path.join(work, "data")
        gen.generate(data, 0.1)
        gen_ms = (time.time() - t_setup) * 1e3
        plan = {"workload": args.workload, "data_dir": data, "work_dir": work,
                "seconds": args.seconds, "trace": args.trace, "cores": cores,
                "oracle_cmd": [sys.executable, os.path.join(BENCH_DIR, "oracle.py")],
                "round": round_size,
                "warmup_rounds": workloads.WARMUP_ROUNDS[args.workload],
                "text_probes": workloads.TEXT_PROBES
                if args.trace and args.workload == "headline" else [],
                "ops": workloads.ops(args.workload, args.seed)}
        with open(os.path.join(work, "plan.json"), "w") as f:
            json.dump(plan, f)
        cmd = (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.sql.session.timeZone=UTC"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "graft.perfbench.Harness", os.path.join(work, "plan.json")])
        launch = time.time()
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                    start_new_session=True)
            budget = RUN_BUDGET_S - (launch - t_start)
            code = proc.wait(timeout=max(10.0, budget))
        if code != 0:
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"harness exited with code {code}"
                 + (" (correctness gate failed)" if code == 3 else ""))
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        for k, v in result["counters"].items():
            if v != workloads.EXPECTED_COUNTERS[k]:
                fail(f"work counter {k} = {v}, expected {workloads.EXPECTED_COUNTERS[k]}")
        setup_s = gen_ms / 1e3 + (result["loop_start_epoch_ms"] / 1e3 - launch)
        setup = dict(result["setup"])
        setup["gen_ms"] = setup["gen_ms"] + gen_ms
        metrics, info = end_to_end(result, setup_s)
        if args.trace:
            with open(os.path.join(work, "spans.jsonl")) as f:
                spans = [json.loads(line) for line in f]
            metrics = per_layer(result, spans, setup)
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            with open(os.path.join(OUT, "traces", f"{run_id}.jsonl"), "w") as f:
                for s in spans:
                    f.write(json.dumps(s) + "\n")
        host.update({"loadavg_end": loadavg(), "canary_ms": result["canary_ms"],
                     "xmx_mb": result["xmx_mb"]})
        info["setup_ms"] = setup
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        with open(os.path.join(OUT, "results", f"{run_id}.json"), "w") as f:
            json.dump({"host": host, "info": info, "metrics": metrics, "result": result}, f)
        units = END_TO_END if not args.trace else PER_LAYER
        for k, v in metrics.items():
            print(f"{k:32s} {v:16.4f} {units[k]}")
        print("info " + json.dumps(info))
        print("host " + json.dumps(host))
        ops = result["ops"]
        print(json.dumps({
            "correct": True,
            "attempted": len(ops),
            "failed": sum(not o["ok"] for o in ops),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        ok = True
    finally:
        if proc is not None:
            # the harness and anything it started (the oracle) share a group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        if ok:
            shutil.rmtree(work, ignore_errors=True)
        else:
            print(f"perfbench: kept the run's work directory {work}", file=sys.stderr)


if __name__ == "__main__":
    main()
