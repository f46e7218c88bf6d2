#!/usr/bin/env python3
"""Alternating parent/change pairs of one perfbench workload.

    python3 tools/pairs.py --workload pipeline --pairs 10 --seed 101
    python3 tools/pairs.py --workload sql --pairs 5 --base HEAD~1

Run from the repository root. The change side is this checkout's working
tree; the parent side is `git archive <--base>` (default HEAD, so an
uncommitted change is compared with its parent commit) unpacked into a
new temporary directory, removed at the end. Pair i runs
`python3 perfbench/run.py --workload W --seed S+i --seconds N --trace 0`,
N being BENCHMARK.json's run_seconds, once on each side with
the same seed, and flips which side runs first from one pair to the next.
Each side builds itself on its first run; perfbench itself is only
called, never changed.

For every end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles, the pairs the change won (ties count for neither)
and the verdict the benchmark applies: a gain holds only when the change
won at least nine tenths of all pairs run, the medians differ by more than
the parent's interquartile range and the change failed no more runs than
the parent; the change's median may not exceed the parent's by more than
the metric's bound, and where the parent's spread is wider than the bound
the comparison is unresolved. A run that fails (non-zero exit, no
metrics) is reported, leaves its pair out of the medians and counts as a
pair the change did not win. The last stdout line is the summary as JSON.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_LIMIT_S = 1800  # one run, including the first run's build


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def checkout(rev, work):
    """Unpack `rev` into the empty directory `work`; return its sha."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", work], stdin=archive.stdout,
                   check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")
    return sha


def run_once(cwd, workload, seed, seconds):
    """One perfbench run: its end-to-end metrics, or None when it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                           timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        return None
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    res = json.loads(lines[-1])
    if not res.get("correct") or res.get("failed"):
        return None
    return {k: v["value"] for k, v in res.get("metrics", {}).items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(parent, change, better, bound, pairs_run, failed):
    """The benchmark's reading of one metric: medians and wins over the
    complete pairs, the win threshold over all `pairs_run`, and no gain
    while the change failed more runs than the parent (`failed`)."""
    n = len(parent)
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    pm, cm = statistics.median(parent), statistics.median(change)
    pq1, pq3 = quartiles(parent)
    cq1, cq3 = quartiles(change)
    iqr = pq3 - pq1
    gap = sign * (pm - cm)  # > 0: the change is better
    worse_by = -gap / pm if pm else 0.0
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if failed["change"] > failed["parent"]:
        reading = "no gain (the change failed more runs)"
    elif wins >= math.ceil(0.9 * pairs_run) and gap > iqr:
        reading = "gain"
    elif worse_by > bound:
        reading = "regression beyond bound"
    elif pm and iqr / pm > bound and not all_better:
        reading = "unresolved (parent spread wider than the bound)"
    else:
        reading = "within bound, no gain"
    return {"pairs": pairs_run, "complete_pairs": n, "wins": wins,
            "parent": {"median": pm, "q1": pq1, "q3": pq3},
            "change": {"median": cm, "q1": cq1, "q3": cq3},
            "parent_iqr": iqr, "median_change": (cm - pm) / pm if pm else 0.0,
            "reading": reading}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=101,
                    help="seed of the first pair; pair i uses seed + i")
    ap.add_argument("--base", default="HEAD", help="parent revision")
    a = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    work = tempfile.mkdtemp(prefix="pairs-parent-")
    sides = {"parent": work, "change": ROOT}
    runs = {"parent": [], "change": []}
    try:
        sha = checkout(a.base, work)
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                got[side] = run_once(sides[side], a.workload, seed, seconds)
                shown = ("FAILED" if got[side] is None else " ".join(
                    f"{m['name']}={got[side].get(m['name'], float('nan')):.2f}"
                    for m in metrics))
                print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: {shown}",
                      file=sys.stderr, flush=True)
            for side in runs:
                runs[side].append(got[side])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    complete = [i for i in range(a.pairs)
                if runs["parent"][i] is not None
                and runs["change"][i] is not None]
    failed = {s: sum(r is None for r in runs[s]) for s in runs}
    summary = {"workload": a.workload, "base": sha,
               "seeds": [a.seed + i for i in range(a.pairs)],
               "failed_runs": failed, "metrics": {}}
    for m in metrics:
        name = m["name"]
        par = [runs["parent"][i][name] for i in complete]
        chg = [runs["change"][i][name] for i in complete]
        if not par:
            continue
        v = verdict(par, chg, m.get("better", "lower"), m["bound"],
                    a.pairs, failed)
        v["parent_runs"], v["change_runs"] = par, chg
        summary["metrics"][name] = v
        print(f"{name}: parent {v['parent']['median']:.2f} "
              f"[{v['parent']['q1']:.2f}, {v['parent']['q3']:.2f}]  "
              f"change {v['change']['median']:.2f} "
              f"[{v['change']['q1']:.2f}, {v['change']['q3']:.2f}]  "
              f"{v['median_change']:+.1%}  wins {v['wins']}/{v['pairs']}"
              f"  parent IQR {v['parent_iqr']:.2f}  -> {v['reading']}")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
