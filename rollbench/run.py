"""Benchmark of the rollup engine: one workload run, printed as one JSON line.

    python3 rollbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine's
sources together with the benchmark driver (sbt, offline); later runs
reuse the build while the sources are unchanged. Each run starts its own
JVM (`java -cp`, local[nproc], fixed heap, ParallelGC), makes the
workload's seeded inputs, sets up, makes one untimed warm pass, times a
fixed sequence of ops in a closed loop with one client, checks the
outputs against DuckDB and prints, as the last line of stdout:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. The command exits non-zero if the engine fails
or any output differs from DuckDB.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("backfill", "catchup", "serve", "query_mix")
# Seconds one op takes on a 4-core host: a run times about --seconds
# of ops. The op count is fixed by --seconds alone, never by how fast
# the ops run, so every run of a workload attempts the same ops.
OP_SECONDS = {"backfill": 4.5, "catchup": 3.75, "serve": 0.8}
MIN_OPS = {"backfill": 3, "catchup": 3, "serve": 12}
# catchup: 20 days of arrivals; set-up builds days 0-3, day 4 is warm
MAX_OPS = {"catchup": 15}
# query_mix times whole passes over its list of 8 queries.
QUERY_COUNT = 8
QUERY_PASS_S = 7.5

HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Per-layer metrics a traced run must report above zero: the layers the
# workload runs. A zero there means the trace no longer attributes work
# to the layer (an engine method renamed, say), not that the layer is
# idle, so the run fails. Figures made from 10 ms stack samples (self.*,
# state.read_s, state.commit_s, table.footer_s, table.manifest_s) are
# not listed: a layer busy for less than a sample per run reads 0.
WRITE_PATH = ("jobs.plan_s", "jobs.partitions_recomputed", "ingest.scan_s",
              "ingest.rows_scanned", "rollup.agg_1m_s", "rollup.cascade_s",
              "codec.blocks_s", "codec.bytes_per_point", "table.write_s",
              "table.files_written", "table.bytes_written",
              "table.stored_bytes_per_turn", "spark.jobs_per_op", "spark.task_time_s")
REQUIRED_LAYERS = {
    "backfill": WRITE_PATH,
    "catchup": WRITE_PATH + ("state.files", "retention.expire_s"),
    "serve": ("rollup.stitch_plan_s", "rollup.stitch_exec_s", "rollup.raw_rows_per_stitch",
              "table.read_for_key_s", "table.files_planned", "spark.jobs_per_op"),
    # and query.<name>_s of every query in BENCHMARK.json
    "query_mix": ("query.jobs", "rollup.stitch_plan_s", "rollup.stitch_exec_s",
                  "rollup.raw_rows_per_stitch", "spark.jobs_per_op", "spark.task_time_s"),
}

END_TO_END = {"setup_s": "s", "work_s": "s", "op_p50_s": "s",
              "turns_per_s": "1/s", "peak_rss_mb": "MB"}


def fail(msg):
    print(f"rollbench: {msg}", file=sys.stderr)
    sys.exit(2)


def ops_for(workload, seconds):
    if workload == "query_mix":
        return QUERY_COUNT * max(1, int(seconds // QUERY_PASS_S))
    n = max(MIN_OPS[workload], round(seconds / OP_SECONDS[workload]))
    return min(n, MAX_OPS.get(workload, n))


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to the benchmark")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(BENCH, "target", "rollbench.stamp")
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = h.hexdigest()
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=BENCH, env=env, stdout=subprocess.PIPE,
                               stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            fail("build failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return f"{classes}{os.pathsep}{os.path.join(spark_jars(), '*')}"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, or the jars beside
    the first spark-submit on PATH that has them (the rule build.sbt uses)."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    fail("Spark not found: set SPARK_HOME")


def jvm_command(classpath, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             "-Duser.timezone=UTC",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
             f"-Djava.io.tmpdir={args['tmp']}"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + ["-cp", classpath, "rollbench.Main"] + args["main"])


def run_jvm(cmd, log_path):
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def end_to_end(res, setup_s):
    ops = res["op_s"]
    work = res["work_s"]
    return {"setup_s": setup_s, "work_s": work,
            "op_p50_s": stats.summarize(ops)["median"],
            "turns_per_s": res["work_units"] / work,
            "peak_rss_mb": res["peak_rss_mb"]}


def unattributed(workload, layer, names):
    """Required per-layer metrics of `workload` that the traced run's
    `layer` figures lack or report as 0. `names` are BENCHMARK.json's
    per-layer names; query_mix requires each query.<name>_s among them."""
    required = REQUIRED_LAYERS[workload]
    if workload == "query_mix":
        required += tuple(n for n in names if n.startswith("query.") and n.endswith("_s"))
    return [n for n in required if not layer.get(n)]


def per_layer_names():
    """Per-layer metric names and units, and the workloads BENCHMARK.json lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([(m["name"], m["unit"]) for m in spec["per_layer"]],
            {w["name"] for w in spec["workloads"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()

    classpath = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".bench_build", "rollbench", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        t0 = time.time()
        data_dir = ""
        if a.workload == "query_mix":
            data_dir = os.path.join(run_dir, "data")
            os.makedirs(data_dir)
            gen_tables.write(data_dir, a.seed)
        ops = ops_for(a.workload, a.seconds)
        main_args = [a.workload, str(a.seed), str(ops), str(a.trace), str(cores),
                     os.path.join(run_dir, "out")] + ([data_dir] if data_dir else [])
        cmd = jvm_command(classpath, {"tmp": os.path.join(run_dir, "tmp"), "main": main_args})
        log_path = os.path.join(run_dir, "jvm.log")
        code = run_jvm(cmd, log_path)
        result_path = os.path.join(run_dir, "out", "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(log_path, "rb") as fh:
                sys.stderr.write(fh.read().decode(errors="replace")[-6000:])
            fail(f"{a.workload}: JVM exited with {code}")
        with open(result_path) as fh:
            res = json.load(fh)
        setup_s = res["setup_end_ms"] / 1e3 - t0
        errors = check.check_run(a.workload, os.path.join(run_dir, "out"), data_dir)
        for e in errors:
            print(f"rollbench: CHECK FAILED {a.workload}: {e}", file=sys.stderr)
        for f in res["failures"]:
            print(f"rollbench: op failed: {f}", file=sys.stderr)
        if a.trace:
            layer = res["layer"]
            names, gated = per_layer_names()
            missing = unattributed(a.workload, layer, [n for n, _ in names])
            if missing:
                fail(f"{a.workload}: the traced run has no figure for {', '.join(missing)}")
            metrics = {n: {"value": layer.get(n, 0.0), "unit": u} for n, u in names}
            if a.workload not in gated:  # a workload outside BENCHMARK.json: report all
                metrics.update({k: {"value": v, "unit": "-"} for k, v in layer.items()
                                if k not in metrics})
        else:
            metrics = {n: {"value": v, "unit": END_TO_END[n]}
                       for n, v in end_to_end(res, setup_s).items()}
        print("# op_s " + json.dumps(res["op_s"]))
        print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        sys.stdout.flush()
        if errors:
            sys.exit(1)
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
