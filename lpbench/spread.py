"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 lpbench/spread.py <workload> <first_seed> <runs> [seconds]

Runs run.py once per seed and prints, for every metric, its median and the
distance between the first and third quartile as a share of the median
(statistics.quantiles(values, n=4)). The raw per-run metrics go to
lpbench/.out/spread-<workload>.jsonl, each run's stderr to
lpbench/.out/spread-<workload>-<seed>.err.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    workload, first, runs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    seconds = sys.argv[4] if len(sys.argv) > 4 else "5"
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    log = os.path.join(HERE, ".out", f"spread-{workload}.jsonl")
    values = {}
    for seed in range(first, first + runs):
        t0 = time.monotonic()
        done = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                               workload, "--seed", str(seed), "--seconds", seconds,
                               "--trace", "0"], capture_output=True, text=True)
        with open(os.path.join(HERE, ".out", f"spread-{workload}-{seed}.err"), "w") as f:
            f.write(done.stderr)
        if done.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{done.stderr[-2000:]}")
        result = json.loads(done.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            sys.exit(f"seed {seed} reported wrong results:\n{done.stdout}")
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, **result}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed} ({time.monotonic() - t0:.1f} s wall): "
              + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"{workload:9s} {name:17s} median {med:10.4f}  spread {(q3 - q1) / med:.3f}")


if __name__ == "__main__":
    main()
