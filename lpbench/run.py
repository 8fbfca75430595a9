"""Run one workload of the link-prediction engine's benchmark.

    python3 lpbench/run.py --workload <floor|pairs|p1_files|storage> --seed <n>
                           --seconds <s> --trace <0|1> [--record]

Builds the engine and the harness from source (build.py), generates the
inputs (gen_tables.py, gen_p1.py), starts one JVM that runs the workload
closed loop (src/lpbench/LpBench.scala), checks every result and prints
the metrics. The last line of stdout is one JSON object with the keys
correct, attempted, failed and metrics: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. README.md defines every metric.

--record writes the observed row counts and fingerprints to
expected/<workload>.tsv instead of checking against them.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

# Inputs. The parquet corpus is the same for every seed (its fingerprints
# are recorded in expected/); the seed orders the operations. The p1 corpus
# is generated from the seed.
TABLES_SF, TABLES_SEED = 0.01, 42
P1_SCALE = 0.03
JVM_HEAP = "3g"
# A run makes max(2, round(seconds / NOMINAL_PASS_S)) warm passes: a fixed
# count for given --seconds, so every run of a workload measures the same work.
NOMINAL_PASS_S = {"floor": 2.5, "pairs": 1.7, "p1_files": 2.0, "storage": 20.0}
# untimed warm-up passes between the cold pass and the measured warm passes
WARMUP_PASSES = {"floor": 5, "pairs": 2, "p1_files": 5, "storage": 1}
RUN_TIMEOUT_S = 170
WORKLOADS = ("floor", "pairs", "p1_files", "storage")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
LAYERS = [
    "queries.build_s", "queries.build_jobs", "plan.analysis_s", "plan.optimization_s",
    "plan.planning_s", "codegen.compile_s", "codegen.compiles",
    "codegen.compiles_per_warm_op", "sched.jobs", "sched.stages", "sched.tasks",
    "sched.delay_s", "sched.driver_gap_s", "exec.task_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.peak_mem_mb", "exec.skew", "shuffle.write_mb", "shuffle.read_mb",
    "shuffle.fetch_wait_s", "spill.disk_mb", "operators.job_s", "operators.join_yield",
    "caches.build_s", "caches.pinned_mb", "ml.fit_s", "ml.fit_jobs", "sources.scan_mb",
    "sources.scan_rows_per_result_row", "sources.write_mb", "streaming.job_s",
    "streaming.batches", "jobs.unbilled_share"]
UNITS = {"_s": "s", "_mb": "MB", "_jobs": "count", "jobs": "count", "stages": "count",
         "tasks": "count", "compiles": "count", "batches": "count"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "ratio"


def dir_mb(path):
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total / (1024.0 * 1024.0)


def cpu_ticks():
    """(steal, total) CPU ticks of the whole machine, from /proc/stat"""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return 0, 0


def tables_dir():
    out = os.path.join(HERE, ".data", f"tables-sf{TABLES_SF}-seed{TABLES_SEED}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), tmp,
                        str(TABLES_SF), str(TABLES_SEED)], check=True, stderr=subprocess.DEVNULL)
        os.replace(tmp, out)
    return out


def p1_inputs(out, seed):
    made = subprocess.run([sys.executable, os.path.join(HERE, "gen_p1.py"), out,
                           str(P1_SCALE), str(seed)], check=True, capture_output=True, text=True)
    return json.loads(made.stdout)


def tail_latency(xs):
    """The highest percentile with at least 10 samples beyond it: the 11th
    largest latency, percentile 100 * (n - 10) / n. With fewer than 20
    samples that percentile would sit below the median, so the largest
    latency stands in."""
    s = sorted(xs)
    if len(s) < 20:
        return s[-1], 100.0, 0
    return s[-11], 100.0 * (len(s) - 10) / len(s), 10


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    spans = os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.jsonl")
    expect = os.path.join(HERE, "expected", f"{a.workload}.tsv")
    try:
        passes = max(2, round(a.seconds / NOMINAL_PASS_S[a.workload]))
        args = ["--workload", a.workload, "--seed", str(a.seed), "--passes", str(passes),
                "--warmup", str(WARMUP_PASSES[a.workload]),
                "--trace", str(a.trace), "--local", local, "--out", result, "--spans", spans]
        if a.workload == "p1_files":
            inputs = os.path.join(run_dir, "input")
            made = p1_inputs(inputs, a.seed)
            args += ["--data", inputs, "--p1_candidates", str(made["candidates"])]
        else:
            args += ["--data", tables_dir()]
            if not a.record:
                if not os.path.exists(expect):
                    raise SystemExit(f"no recorded results {expect}; make them with --record")
                args += ["--expect", expect]
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
                  "-cp", os.pathsep.join([classes, build.classpath()]),
                  "lpbench.LpBench"] + args)
        steal0, total0 = cpu_ticks()
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if code != 0 or not os.path.exists(result):
            raise SystemExit(f"benchmark JVM exited with code {code}")
        steal1, total1 = cpu_ticks()
        if total1 > total0:
            print(f"[lpbench] steal {100.0 * (steal1 - steal0) / (total1 - total0):.1f} % of CPU time"
                  " during the run", file=sys.stderr)
        r = json.load(open(result))
        disk_left = dir_mb(tmp) + dir_mb(local)
        left_entries = len(os.listdir(tmp)) + len(os.listdir(local))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.record and a.workload != "p1_files":
        os.makedirs(os.path.dirname(expect), exist_ok=True)
        with open(expect, "w") as f:
            for name, (rows, fp) in r["observed"].items():
                f.write(f"{name}\t{rows}\t{fp}\n" if fp else f"{name}\t{rows}\n")
        print(f"recorded {len(r['observed'])} operations to {expect}", file=sys.stderr)

    cold_ops, warm_ops = r["op_s"][0], r["op_s"][1:]
    print(f"{'operation':28s} {'cold_s':>8s} {'warm_median_s':>14s}  warm passes", file=sys.stderr)
    for name, sec in cold_ops.items():
        warm = [p[name] for p in warm_ops]
        print(f"{name:28s} {sec:8.3f} {statistics.median(warm):14.3f}  "
              + " ".join(f"{w:.3f}" for w in warm), file=sys.stderr)
    failed = r["failed"]
    attempted = r["attempted"]
    for f in r["failures"]:
        print(f"FAILED {f}")
    ops = r["warm_op_s"]
    tail, tail_p, tail_n = tail_latency(ops)
    print(f"op_tail_s is p{tail_p:.3g} of {len(ops)} warm operations, {tail_n} beyond it")
    print(f"failed_ratio {failed / attempted:.4f} ({failed} of {attempted})")
    print(f"disk_left_mb {disk_left:.3f} ({left_entries} entries left in the run's tmp and local dirs)")
    if a.workload == "p1_files":
        print(f"best_f1 {r['best_f1']}")
    if a.trace:
        layers = dict(r["layers"])
        traced, plain = statistics.median(r["warm_pass_s"]), statistics.median(r["untraced_warm_pass_s"])
        layers["trace.overhead_s"] = traced - plain
        layers["disk_left_mb"] = disk_left
        layers["failed_ratio"] = failed / attempted
        layers["best_f1"] = r["best_f1"] if r["best_f1"] is not None else 0.0
        print(f"tracing overhead: traced warm pass {traced:.3f} s, untraced {plain:.3f} s")
        metrics = {k: {"value": layers[k], "unit": unit(k)} for k in
                   LAYERS + ["trace.overhead_s", "disk_left_mb", "failed_ratio", "best_f1"]}
    else:
        metrics = {
            "setup_s": {"value": r["setup_s"], "unit": "s"},
            "cold_pass_s": {"value": r["cold_pass_s"], "unit": "s"},
            "warm_pass_s": {"value": statistics.median(r["warm_pass_s"]), "unit": "s"},
            "op_p50_s": {"value": statistics.median(ops), "unit": "s"},
            "op_tail_s": {"value": tail, "unit": "s"},
            "cpu_s": {"value": statistics.median(r["warm_cpu_s"]), "unit": "s"},
            "retained_heap_mb": {"value": r["retained_heap_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
