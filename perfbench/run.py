#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--size full|tiny] [--inject-fault]

Run from the root of a checkout. Builds the program and the harness from
source into .bench_build/ (skipped when nothing changed), generates the
workload's inputs from the seed, runs the workload in a fresh JVM as a
closed loop with one client on a local[4] Spark session, checks every
output against an independent oracle, and prints as its last line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it holds every figure of the run, including
the error rate and the workload's own numbers. perfbench/GLOSSARY.md
defines each metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("knn_classify", "query_floor", "ann_index")
HEAP = "1g"
SETUPS = 3          # input generations per run; setup_s takes their median
RUN_LIMIT_S = 170   # a run that is not done by then is killed and fails

END_TO_END = [("setup_s", "s"), ("cycle_best_s", "s"), ("peak_rss_mb", "MB")]

# (name, unit, source): "layer" = median duration of that layer call over
# traced warm ops; "counter" = mean per traced warm op; "cold" = total over
# the cold cycle; anything else is computed below.
PER_LAYER = [
    ("session.build_s", "s", "session"),
    ("arff.read_s", "s", "layer"),
    ("knn.classify_write_s", "s", "layer"),
    ("knn.accuracy_s", "s", "layer"),
    ("knn.pairs_per_cpu_s", "1/s", "pairs"),
    ("query.build_s", "s", "layer"),
    ("tables.load_s", "s", "tables"),
    ("plan.analysis_s", "s", "counter"),
    ("plan.optimization_s", "s", "counter"),
    ("plan.planning_s", "s", "counter"),
    ("codegen.compiles", "count", "cold"),
    ("codegen.compile_s", "s", "cold"),
    ("sched.jobs", "count", "counter"),
    ("sched.stages", "count", "counter"),
    ("sched.tasks", "count", "counter"),
    ("sched.idle_core_s", "s", "counter"),
    ("exec.cpu_s", "s", "counter"),
    ("exec.run_s", "s", "counter"),
    ("exec.deser_s", "s", "counter"),
    ("exec.gc_s", "s", "counter"),
    ("shuffle.write_bytes", "bytes", "counter"),
    ("shuffle.read_bytes", "bytes", "counter"),
    ("shuffle.records", "count", "counter"),
    ("spill_bytes", "bytes", "counter"),
    ("scan.input_bytes", "bytes", "counter"),
    ("scan.input_records", "count", "counter"),
    ("scan.files", "count", "counter"),
    ("scan.rows_per_result", "ratio", "rows"),
    ("write.bytes", "bytes", "counter"),
    ("write.files", "count", "counter"),
    ("jvm.gc_s", "s", "gc"),
    ("trace.overhead_pct", "%", "overhead"),
]


def tree_digest(path):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over all CPUs:
    the host noise a run was exposed to (0 where /proc/stat lacks it)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_jvm(classes, args, inputs, work, limit_s):
    """Run the harness in a fresh JVM; return (result dict, spawn epoch)."""
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([classes] + build.spark_jars())
    out = os.path.join(work, "result.json")
    cmd = (["java"] + opens + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}", "-XX:-UsePerfData",
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
        "-cp", cp, "graftbench.BenchMain",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--inputs", inputs, "--work", work, "--out", out]
        + (["--inject-fault"] if args.inject_fault else []))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        spawn = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness JVM failed ({code})")
    with open(out) as f:
        return json.load(f), spawn


def per_layer(res, details, warm, cold, rows_of):
    traced = [o for o in warm if o["traced"] and o["ok"]]
    untraced = [o for o in warm if not o["traced"] and o["ok"]]

    def counter(name):
        return statistics.fmean(o["counters"][name] for o in traced) if traced else 0.0

    out = {}
    for name, unit, src in PER_LAYER:
        key = name[:-2] if name.endswith("_s") else name
        if src == "session":
            v = res["session_build_s"]
        elif src == "layer":
            xs = [o["phases"][key] for o in traced if key in o["phases"]]
            v = statistics.median(xs) if xs else 0.0
        elif src == "tables":
            v = statistics.median(res["tables_load_s"]) if res["tables_load_s"] else 0.0
        elif src == "counter":
            v = counter(name)
            if name == "plan.analysis_s" and traced:
                v += statistics.fmean(o["phases"].get("plan.build_analysis", 0.0) for o in traced)
        elif src == "cold":
            v = sum(o["counters"][name] for o in cold if o["counters"])
        elif src == "pairs":
            cpu = counter("exec.cpu_s")
            v = details["pairs"] / cpu if "pairs" in details and cpu > 0 else 0.0
        elif src == "rows":
            results = [rows_of(o) for o in traced]
            v = (sum(o["counters"]["scan.input_records"] for o in traced) / sum(results)
                 if traced and sum(results) > 0 else 0.0)
        elif src == "gc":
            v = statistics.fmean(o["gc_s"] for o in traced) if traced else 0.0
        elif src == "overhead":
            # per label (query), traced vs untraced medians; then the median
            ratios = []
            for label in {o["label"] for o in traced}:
                t = [o["dur_s"] for o in traced if o["label"] == label]
                u = [o["dur_s"] for o in untraced if o["label"] == label]
                if t and u:
                    ratios.append(statistics.median(t) / statistics.median(u))
            v = (statistics.median(ratios) - 1.0) * 100.0 if ratios else 0.0
        out[name] = {"value": v, "unit": unit}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(gen.SIZES), default="full")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one output before the oracle checks it (self-test)")
    args = ap.parse_args()
    build_dir = os.path.join(ROOT, ".bench_build")
    classes = build.build(build_dir)
    t0 = time.monotonic()  # the run limit starts after a (first-run) build

    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        # set-up, several times: the inputs must come out byte-identical
        gen_s, digests = [], set()
        for k in range(SETUPS):
            d = os.path.join(run_dir, f"inputs-{k}")
            s = time.perf_counter()
            gen.generate(args.workload, args.seed, d, args.size)
            gen_s.append(time.perf_counter() - s)
            digests.add(tree_digest(d))
            if k:
                shutil.rmtree(d)
        if len(digests) != 1:
            raise SystemExit("input generation is not deterministic")
        inputs = os.path.join(run_dir, "inputs-0")
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        steal0 = steal_s()
        res, spawn = run_jvm(classes, args, inputs, work,
                             RUN_LIMIT_S - (time.monotonic() - t0))
        steal = steal_s() - steal0

        ops = res["ops"]
        cold, warm = ops[:res["cold_ops"]], ops[res["cold_ops"]:]
        failed = {o["i"] for o in ops if not o["ok"]} | set(res["failed_ops"])
        details = dict(res["details"])
        rows = {}
        if args.workload == "query_floor":
            import oracle_sql
            checks = oracle_sql.check(details["tables"], details["results"])
            bad = {q for q, (ok, _, _) in checks.items() if not ok}
            for q, (ok, n, msg) in sorted(checks.items()):
                rows[q] = n
                if not ok:
                    sys.stderr.write(f"oracle mismatch {q}: {msg}\n")
            failed |= {o["i"] for o in ops if o["label"] in bad}
            details = {"queries": len(checks), "mismatched": sorted(bad)}

        def rows_of(o):
            if args.workload == "knn_classify":
                return details["test_rows"]
            if args.workload == "query_floor":
                return rows.get(o["label"], 0)
            return o["result_rows"]

        timed = ([o for o in warm if o["ok"] and not o["traced"]]
                 or [o for o in warm if o["ok"]])
        if not timed:
            raise SystemExit(f"no warm operation succeeded ({len(failed)}/{len(ops)} failed)")
        samples = [o["dur_s"] for o in timed]
        by_kind = {}
        for o in timed:
            by_kind.setdefault(o["label"], []).append(o["dur_s"])
        setup_s = (statistics.median(gen_s) + (res["main_epoch_ms"] / 1e3 - spawn)
                   + res["session_build_s"])
        e2e = {
            "setup_s": setup_s,
            "cold_s": sum(o["dur_s"] for o in cold),
            "op_p50_s": statistics.median(samples),
            "op_p90_s": quantile(samples, 0.9),
            "cycle_s": sum(statistics.median(v) for v in by_kind.values()),
            "cycle_best_s": sum(min(v) for v in by_kind.values()),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        phases = {}
        for o in warm:
            if o["ok"] and not o["traced"]:
                for k, v in o["phases"].items():
                    phases.setdefault(k, []).append(v)
        detail = dict(e2e, workload=args.workload, seed=args.seed, trace=args.trace,
                      warm_samples=len(samples), error_rate=len(failed) / len(ops),
                      host_steal_s=steal,
                      setup_gen_s=statistics.median(gen_s),
                      setup_session_s=res["session_build_s"],
                      phase_p50_s={k: statistics.median(v) for k, v in phases.items()},
                      **details)
        if args.trace:
            metrics = per_layer(res, res["details"], warm, cold, rows_of)
            detail["per_layer"] = {k: v["value"] for k, v in metrics.items()}
            spans = os.path.join(build_dir, "traces", f"{args.workload}-s{args.seed}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
            detail["spans"] = os.path.relpath(spans, ROOT)
        else:
            metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
        print(json.dumps(detail))
        print(json.dumps({"correct": not failed, "attempted": len(ops),
                          "failed": len(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
