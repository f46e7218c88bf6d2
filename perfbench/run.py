#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload pipeline|sql \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --verify

Run from the repository root. The first run builds the engine's sources
(src/main) together with the harness (perfbench/src) with sbt; later runs
reuse the build while no source changed. Each run starts a fresh JVM on
local[nproc], writes only under perfbench/.work, checks the engine's
outputs, and prints one JSON line last: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A run with a failed op
prints no metrics and exits non-zero. --verify checks every catalog
query's full output against the DuckDB oracle's content hash. See
perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")

sys.path.insert(0, HERE)
from stats import result_line, summarize  # noqa: E402

WORKLOADS = ("pipeline", "sql")
RUN_LIMIT_S = 170        # a run must end within 180 s
VERIFY_LIMIT_S = 900
BUILD_LIMIT_S = 700      # the first run also builds; both within 900 s
# The engine build's heap (build.sbt): SPARK_DRIVER_MEM, by default 8g.
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")

# JVM flags of the engine's own build (build.sbt).
JVM_FLAGS = [
    f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

END_TO_END = {"setup_s": "s", "total_s": "s"}

PHASE_LAYERS = [
    ("streaming.ingest_s", "s"), ("streaming.rows_in", "count"),
    ("operators.bronze_s", "s"), ("operators.bronze_rows", "count"),
    ("etl.dbt_s", "s"), ("etl.staging_s", "s"), ("etl.facts_s", "s"),
    ("etl.dims_metrics_s", "s"), ("etl.checks_s", "s"),
    ("etl.models_rebuilt", "count"), ("etl.bytes_written", "bytes"),
    ("etl.new_file_bytes", "bytes"), ("etl.rows_read", "count"),
]
# Per new input byte or row: undefined on the no-data tick.
PHASE_RATIOS = [("etl.write_amp", "ratio"), ("etl.rows_read_per_new_row", "ratio")]
TABLE_OPS = ("insert", "merge_fact", "merge_dim", "update", "delete",
             "read_current", "read_version", "read_join", "cdc")
CATEGORIES = ("dedup", "similarity", "text", "multimodal", "relational",
              "windows", "analytics")

# Per-layer metrics, identical for every workload; a layer a workload does
# not exercise reads 0 there.
PER_LAYER = dict(
    [("traced_total_s", "s"), ("day1_s", "s"),
     ("noop_tick_s", "s"), ("catalog_s", "s"),
     ("query_p50_s", "s"), ("commit_p50_s", "s"), ("read_p50_s", "s")]
    + [(f"day1.{n}", u) for n, u in PHASE_LAYERS + PHASE_RATIOS]
    + [(f"noop.{n}", u) for n, u in PHASE_LAYERS]
    + [(f"queries.{c}_s", "s") for c in CATEGORIES]
    + [("queries.plan_s", "s"), ("queries.exec_s", "s"),
       ("plan.exchanges", "count"), ("plan.expands", "count"),
       ("plan.cached_relations", "count"), ("cache.blocks_left", "count"),
       ("cache.bytes_left", "bytes")]
    + [(f"plans.{op}_p50_s", "s") for op in TABLE_OPS]
    + [("table.meta_bytes", "bytes"), ("table.files_live", "count"),
       ("table.bytes_disk", "bytes"), ("table.space_amp", "ratio"),
       ("table.write_amp", "ratio"), ("table.compact_s", "s"),
       ("table.compact_bytes_rewritten", "bytes"), ("table.vacuum_s", "s"),
       ("table.versions", "count")]
    + [("spark.jobs", "count"), ("spark.tasks", "count"),
       ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
       ("spark.input_bytes", "bytes"), ("spark.executor_cpu_s", "s"),
       ("jvm.gc_s", "s"), ("jvm.jit_s", "s"), ("jvm.peak_rss_mb", "MB"),
       ("host.steal_s", "s"),
       ("host.runq_s", "s"), ("trace.fence_s", "s")])


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return home


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(home):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and \
            open(STAMP).read() == stamp:
        return
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        code = supervise(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile"], HERE, env, out, out, BUILD_LIMIT_S)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}", 3)
    with open(STAMP, "w") as f:
        f.write(stamp)


def java_cmd(home, main, args):
    cp = os.pathsep.join([CLASSES, os.path.join(home, "jars", "*")])
    return ["java"] + JVM_FLAGS + ["-cp", cp, main] + args


def supervise(cmd, cwd, env, out, err, limit):
    """Run cmd in its own process group; kill the group past the limit and
    always wait for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=err,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        try:  # the group outlives its leader only if something leaked
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def samples(raw, *names):
    return [v for n in names for v in raw["samples"].get(n, [])]


def total(workload, raw):
    """Sum of the timed ops."""
    ops = {"pipeline": ("day1_s", "noop_s"),
           "sql": ("query_s", "commit_s", "read_s")}[workload]
    return sum(samples(raw, *ops))


def end_to_end(workload, raw):
    t = total(workload, raw)
    setup = raw["setup_base_s"] + statistics.median(raw["setup_reps_s"])
    return {"setup_s": setup, "total_s": t}


def per_layer(workload, raw):
    v = dict(raw["values"])

    def med(name):
        s = raw["samples"].get(name, [])
        return statistics.median(s) if s else 0.0

    v["traced_total_s"] = total(workload, raw)
    v["day1_s"] = med("day1_s")
    v["noop_tick_s"] = med("noop_s")
    v["catalog_s"] = sum(raw["samples"].get("query_s", []))
    v["query_p50_s"] = med("query_s")
    v["commit_p50_s"] = med("commit_s")
    v["read_p50_s"] = med("read_s")
    for op in TABLE_OPS:
        v[f"plans.{op}_p50_s"] = med(f"plans.{op}")
    v["table.compact_s"] = med("table.compact")
    v["table.vacuum_s"] = med("table.vacuum")
    return {k: v.get(k, 0.0) for k in PER_LAYER}


def detail(raw):
    """Sample counts and percentiles, printed before the result line."""
    return {k: summarize(s) for k, s in raw["samples"].items()
            if k.endswith("_s")}


def run_jvm(home, args, limit):
    """Run graftbench.Main in a fresh JVM under perfbench/.work/run and
    return its result.json."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = java_cmd(home, "graftbench.Main",
                   args + ["--work", run_dir, "--data", DATA])
    cmd.insert(1, "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"))
    with open(os.path.join(run_dir, "stdout.log"), "w") as out, \
            open(os.path.join(run_dir, "stderr.log"), "w") as err:
        code = supervise(cmd, run_dir, os.environ, out, err, limit)
    result = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "stderr.log")) as f:
            sys.stderr.writelines(f.readlines()[-30:])
        fail(f"benchmark JVM exited with {code}", 4)
    with open(result) as f:
        return json.load(f)


def norm(v):
    """A value as tools/selfcheck.py compares it: full precision."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def digest(con, sql):
    """(rows, content hash) of a DuckDB query's result, columns in name
    order and rows in the query's order."""
    rows = con.execute(sql).fetchall()
    cols = [d[0] for d in con.description]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for r in rows:
        h.update(repr(tuple(norm(r[i]) for i in idx)).encode())
    return len(rows), h.hexdigest()[:16]


def expected():
    """query -> (rows, content hash), as make_expected.py wrote them."""
    with open(os.path.join(DATA, "catalog_expected.tsv")) as f:
        return {n: (int(c), h) for n, c, h in
                (l.rstrip("\n").split("\t") for l in f if not l.startswith("#"))}


def verify(home):
    """Every catalog query's full output on data/sf0.01 against the DuckDB
    oracle's row count and content hash."""
    import duckdb
    raw = run_jvm(home, ["--workload", "verify", "--seed", "0",
                         "--trace", "0"], VERIFY_LIMIT_S)
    out = os.path.join(WORK, "run", "verify")
    con = duckdb.connect()
    failures = list(raw["failures"])
    for name, want in sorted(expected().items()):
        files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
        got = digest(con, f"SELECT * FROM read_parquet({files!r})") \
            if files else None
        if got != want:
            failures.append(f"{name}: got {got}, expected {want}")
    print(json.dumps({"workload": "verify", "failures": failures}))
    print(result_line(not failures, len(expected()), len(failures), {}, {}))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--verify", action="store_true",
                    help="check every catalog query's output, then exit")
    a = ap.parse_args(argv)
    if not a.verify and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    # a terminated run still stops (and waits for) what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    home = spark_home()
    build(home)
    if a.verify:
        return verify(home)
    raw = run_jvm(home, ["--workload", a.workload, "--seed", str(a.seed),
                         "--trace", str(a.trace)], RUN_LIMIT_S)
    if raw["failed"]:
        # a failed op drops out of the sums, so no metric is reported
        for f in raw["failures"]:
            print(f"perfbench: FAILED {f}", file=sys.stderr)
        fail(f"{raw['failed']} of {raw['attempted']} ops failed "
             f"(ops_failed_ratio {raw['failed'] / raw['attempted']:.4f})", 5)

    if a.trace:
        metrics, units = per_layer(a.workload, raw), PER_LAYER
        spans = os.path.join(WORK, "run", "spans.jsonl")
        print(json.dumps({"spans": os.path.relpath(spans, ROOT)}))
    else:
        metrics, units = end_to_end(a.workload, raw), END_TO_END
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "samples": detail(raw)}))
    print(result_line(True, raw["attempted"], 0, metrics, units))


if __name__ == "__main__":
    main()
