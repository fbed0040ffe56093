#!/usr/bin/env python3
"""graft benchmark: one command, every metric by name with its unit.

    python3 perfbench/run.py --workload olap|dedup --seed N \
        --seconds S --trace 0|1

Workloads (``WORKLOADS`` below, sizes in ``gen.py``): ``olap`` runs seven
short catalog queries plus the closure-engine ops (WordCount jobs through
the ``MiniHadoopApi`` queue into the JSON and TSV sinks, and PageRank);
``dedup`` runs two dedup kernels.

Run it from the root of a graft checkout. It builds the engine together
with the harness in ``perfbench/harness`` (sbt, offline; rebuilt only when
a source changed), generates the workload's inputs (``gen.py``; the seed
draws the op order and the corpus and graph), measures, checks every
output (``check.py``) and prints one
JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.

A run is a closed loop with a single client: one op in flight, the
session on ``local[<cores>]`` with ``SPARK_GRAFT_CPUS=<cores>``. Set-up is
sampled three times: two probe JVMs start together with the measuring JVM,
each is timed from process start until ``Session.get`` returns, and the
median is reported. Once the probes have ended, the measuring JVM runs a
cold pass over every op, warms up, and then runs warm rounds, each op once
per round in an order drawn from the seed, until ``--seconds`` have
passed. Everything a run writes stays under ``perfbench/.work``.
"""
import argparse
import functools
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
STAMP = os.path.join(HARNESS, "target", "sources.sha256")
WORK = os.path.join(HERE, ".work")
ENGINE = os.path.join(ROOT, "src", "main")

sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

PAGERANK_ITERATIONS = 2
SETUP_PROBES = 2
RUN_LIMIT_S = 170          # the whole run, once the build is done
BUILD_LIMIT_S = 850

# Catalog ops (Q.build + noop sink) per workload, the tables they scan,
# and whether the workload also runs the closure-engine ops.
WORKLOADS = {
    "olap": dict(ops=["q01_pricing_summary", "q03_shipping_priority",
                      "q05_region_revenue", "q06_forecast_revenue",
                      "q18_small_quantity_revenue", "t01_wordcount",
                      "e02_sessionize"],
                 scan=["region", "nation", "customer", "orders", "lineitem",
                       "events", "documents"],
                 mapreduce=["wordcount", "pagerank"]),
    "dedup": dict(ops=["d06_dedup_clusters", "p01_corpus_curation"],
                  scan=["documents"], functions=True),
}
OP_METRICS = [("build_s", "s"), ("action_s", "s"), ("jobs", "count"),
              ("job_s", "s"), ("gap_s", "s"), ("shuffle_mb", "MB"),
              ("skew", "ratio")]
LAYER_METRICS = [
    ("session.get_s", "s"), ("tables.scan_s", "s"), ("tables.input_mb", "MB"),
    ("materialize.jobs", "count"), ("materialize.s", "s"),
    ("materialize.read_mb", "MB"),
    ("functions.minhash_sig.rows_per_s", "rows/s"),
    ("functions.jaccard_similarity.rows_per_s", "rows/s"),
    ("minijob.transform_s", "s"), ("minijob.sink_s", "s"),
    ("api.queue_wait_s", "s"), ("api.run_s", "s"), ("pagerank.iter_s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.gap_s", "s"),
    ("spark.cpu_util", "ratio"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
    ("self.operators_s", "s"), ("self.materialize_s", "s"),
    ("self.spark_s", "s"), ("self.api_s", "s"), ("self.pagerank_s", "s"),
    ("trace.overhead_s", "s"),
]
PER_LAYER = [(f"{op}.{m}", u) for w in WORKLOADS.values()
             for op in w["ops"] + w.get("mapreduce", [])
             for m, u in OP_METRICS] + LAYER_METRICS


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jars the engine builds against: ``$SPARK_HOME/jars``, else
    the directory the engine's build.sbt names as its ``unmanagedBase``."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        die("cannot find the Spark jars; set SPARK_HOME", 2)
    return m.group(1)


def cores():
    return len(os.sched_getaffinity(0))


def sources():
    files = [os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for top in (ENGINE, os.path.join(HARNESS, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless the classes match the
    current sources."""
    stamp = sources()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) \
            and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline",
               GRAFT_SPARK_JARS=spark_jars())
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts += " -Dsbt.offline=true"
        if os.path.exists(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                 "compile", "Compile/copyResources"], cwd=HARNESS, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                timeout=BUILD_LIMIT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}", 3)
    if rc != 0:
        die(f"build failed (see {os.path.relpath(log.name, ROOT)})", 3)
    with open(STAMP, "w") as f:
        f.write(stamp)


@functools.lru_cache(maxsize=None)
def java_major():
    out = subprocess.run(["java", "-version"], capture_output=True,
                         text=True).stderr
    try:
        return int(out.split('"')[1].split(".")[0])
    except (IndexError, ValueError):
        return 17


def java_cmd(run_dir, extra):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # JDK 17 G1 can spuriously OOM tiny allocations when tasks in JNI
    # critical sections starve the GCLocker; JDK 22+ has no GCLocker and
    # rejects the flag (same gate as tools/run.sh)
    gc = ["-XX:+UnlockDiagnosticVMOptions",
          "-XX:GCLockerRetryAllocationCount=64"] if java_major() <= 21 else []
    return ["java", *opens, *gc, "-Xmx3g",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{spark_jars()}/*",
            "graftbench.Main", *extra]


class Jvm:
    """A harness JVM; `ready_s` is process start until it printed READY."""

    def __init__(self, run_dir, args, log_name, deadline):
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
        self.log = open(os.path.join(run_dir, log_name), "w")
        cmd = java_cmd(run_dir, args)
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True)
        self.ready_s = None
        self.deadline = deadline

        def pump():
            for line in self.proc.stdout:
                if line.strip() == "READY" and self.ready_s is None:
                    self.ready_s = time.perf_counter() - t0
                else:
                    self.log.write(line)
        self.pump = threading.Thread(target=pump, daemon=True)
        self.pump.start()

    def go(self):
        """Lets a measuring JVM start once its set-up is done."""
        self.proc.stdin.write("go\n")
        self.proc.stdin.close()

    def wait(self):
        try:
            rc = self.proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
            rc = None
        self.pump.join(5)
        self.log.close()
        return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        die(f"engine sources not found under {ENGINE}; run from a graft checkout", 2)
    build()
    deadline = time.monotonic() + RUN_LIMIT_S

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    inputs = gen.make(os.path.join(run_dir, "data"), a.seed, a.workload)
    result_path = os.path.join(run_dir, "result.json")
    wl = WORKLOADS[a.workload]
    args = ["--mode", "run", "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", run_dir,
            "--result", result_path,
            "--tables", inputs["tables"], "--ops", ",".join(wl["ops"]),
            "--scan", ",".join(wl["scan"]),
            "--functions", "1" if wl.get("functions") else "0"]
    if "shards" in inputs:
        args += ["--shards", ",".join(inputs["shards"]), "--graph", inputs["graph"],
                 "--nodes", str(inputs["nodes"]),
                 "--iterations", str(PAGERANK_ITERATIONS)]
    # the measuring JVM and the set-up probes start together; it measures
    # only once the probes have ended
    jvm = Jvm(run_dir, args, "jvm.log", deadline)
    probes = [Jvm(run_dir, ["--mode", "probe"], f"probe-{i}.log", deadline)
              for i in range(SETUP_PROBES)]
    if any(p.wait() != 0 or p.ready_s is None for p in probes):
        for j in probes + [jvm]:
            j.proc.kill()
            j.wait()
        die("set-up probe failed", 4)
    setup = [p.ready_s for p in probes]
    while jvm.ready_s is None and jvm.proc.poll() is None \
            and time.monotonic() < deadline:
        time.sleep(0.05)
    jvm.go()
    rc = jvm.wait()
    if rc != 0 or jvm.ready_s is None or not os.path.exists(result_path):
        die(f"measuring JVM failed (exit {rc}; see {run_dir}/jvm.log)", 5)
    setup.append(jvm.ready_s)
    r = json.load(open(result_path))

    problems = check.catalog(inputs["tables"], run_dir)
    wrong = len(problems)
    if "shards" in inputs:
        more, bad = check.mapreduce(inputs["shards"], inputs["graph"],
                                    inputs["nodes"], run_dir, r)
        problems += more
        wrong += bad
    for p in r["errors"] + problems:
        print(f"perfbench: {a.workload}: {p}", file=sys.stderr)
    attempted = r["attempted"]
    failed = min(attempted, r["failed"] + wrong)

    lat = [s for _, s in r["latencies_s"]]
    # the highest percentile, up to p90, with at least 10 samples beyond it
    # in the smallest sample a run can take (two rounds), so that it does
    # not move with the number of rounds that fit in --seconds
    per_round = len(lat) / (len(r["rounds_s"]) + len(r["traced_rounds_s"]))
    p = max(0.5, min(0.9, 1 - 10 / (2 * per_round)))
    print(f"perfbench: {a.workload}: setup {['%.3f' % s for s in setup]}, "
          f"cold {r['cold_s']:.3f}, warm-up {['%.3f' % s for s in r['warmup_s']]}, "
          f"rounds {['%.3f' % s for s in r['rounds_s']]}, "
          f"op latency p{100 * p:.0f} over {len(lat)} ops", file=sys.stderr)
    # how fast the machine ran while this run measured: the same fixed
    # work, no Spark and no engine code, timed around the cold pass and
    # every timed round; it shows whether a slow run was a slow machine
    print(f"perfbench: {a.workload}: machine calibration "
          f"{['%.4f' % c for c in r['calibration_s']]} s", file=sys.stderr)
    by_op = {}
    for op, s in r["latencies_s"]:
        by_op.setdefault(op, []).append(s)
    print(f"perfbench: {a.workload}: op median latency " + ", ".join(
        f"{op} {statistics.median(v):.3f}" for op, v in by_op.items()),
        file=sys.stderr)
    if a.trace:
        layer = dict(r["per_layer"])
        if "pagerank.run_s" in layer:
            layer["pagerank.iter_s"] = layer.pop("pagerank.run_s") / PAGERANK_ITERATIONS
        metrics = {n: {"value": layer.get(n, 0.0), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setup), "unit": "s"},
            "cold_s": {"value": r["cold_s"], "unit": "s"},
            "wall_s": {"value": statistics.median(r["rounds_s"]), "unit": "s"},
            "op_p90_s": {"value": float(np.percentile(lat, 100 * p)), "unit": "s"},
            "ok_ratio": {"value": (attempted - failed) / attempted, "unit": "ratio"},
            "retained_heap_mb": {"value": r["retained_heap_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
