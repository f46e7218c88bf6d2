#!/usr/bin/env python3
"""Run one workload on several seeds and report each end-to-end metric's
median and quartile spread (IQR / median), the steadiness test the
benchmark's bounds are judged by.

    python3 perfbench/spread.py --workload sql --seeds 1-10 [--out FILE]

Each run's last line is appended to FILE (JSON lines) when given.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="45")
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", a.seconds, "--trace", "0"],
                           capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
            continue
        line = json.loads(p.stdout.strip().splitlines()[-1])
        line["seed"], line["wall_s"] = s, round(wall, 1)
        with open(os.path.join(HERE, ".work", "run", "result.json")) as f:
            line["raw_samples"] = json.load(f)["samples"]
        runs.append(line)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(line) + "\n")
        print(f"seed {s}: wall {wall:.1f}s correct={line['correct']} " +
              " ".join(f"{k}={v['value']:.3f}"
                       for k, v in line["metrics"].items()), flush=True)
    if len(runs) < 2:
        return
    for m in runs[0]["metrics"]:
        vals = [r["metrics"][m]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        print(f"{m:12s} median {statistics.median(vals):10.4f}  "
              f"IQR/median {(q3 - q1) / statistics.median(vals):.4f}  n={len(vals)}")


if __name__ == "__main__":
    main()
