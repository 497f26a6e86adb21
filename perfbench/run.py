#!/usr/bin/env python3
"""graft benchmark: one command, two workloads.

    python3 perfbench/run.py --workload backfill|query --seed N \\
        --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
harness (perfbench/build.sbt) with sbt; later runs reuse the build while
the sources are unchanged. Inputs are generated from --seed. The harness
JVM runs the workload on local[2] Spark; this script checks the `query`
results against the DuckDB oracles and prints one JSON line last: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The metric names and units are those of BENCHMARK.json;
perfbench/README.md defines them.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = 2
RUN_LIMIT_S = 170          # a run (after any build) ends within this
BUILD_LIMIT_S = 840
BACKFILL_EVENTS, BACKFILL_COPIES = 10000, 2
BACKFILL_BATCH = 2000      # messages per staged queue file
QUERY_SCALE = 0.001
QUERY_DATA_SEED = 42       # fixed: the query workload's seed changes nothing
REDELIVER_SHARE = 0.1      # share of produce batches staged twice
# the specification's names for the shared end-to-end metrics of each workload
# (`n` is the number of queries in a query pass)
ALIASES = {
    "backfill": lambda e, n: [("msgs_per_s", "msg/s", e["throughput_per_s"])],
    "query": lambda e, n: [("query_total_s", "s", n / e["throughput_per_s"])],
}
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not glob.glob(os.path.join(home, "jars", "spark-core*.jar")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def source_hash():
    h = hashlib.sha256()
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src"):
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(home):
    """Compiles graft and the harness unless the sources are unchanged
    since the last build; returns the classpath entries."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not next to perfbench/")
    classes = [os.path.join(ROOT, "target", "scala-2.13", "classes"),
               os.path.join(HERE, "target", "scala-2.13", "classes")]
    stamp = os.path.join(OUT, "build.stamp")
    digest = source_hash()
    if all(map(os.path.isdir, classes)) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return classes
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=home,
               SBT_OPTS=" ".join(opts))
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=BUILD_LIMIT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}", 3)
    if r.returncode != 0 or not all(map(os.path.isdir, classes)):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        die("build failed", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def harness(classes, home, work, input_dir, args, deadline, cores=CORES,
            dups=(), max_reps=0, warmup=True, trace=None, untraced=None):
    """Runs the harness JVM; returns its result.json."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = ":".join(classes + [os.path.join(home, "jars", "*")])
    cmd = ["java", *ADD_OPENS, "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
           "perfbench.Main", "--workload", args.workload, "--work", work,
           "--input", input_dir, "--seconds", str(args.seconds),
           "--trace", str(args.trace if trace is None else trace),
           "--cores", str(cores), "--redeliver", ",".join(map(str, dups)) or ",",
           "--max-reps", str(max_reps), "--warmup", str(int(warmup)),
           "--untraced-primary", str(untraced or ""),
           "--launch-ms", f"{time.time() * 1e3:.3f}"]
    with open(os.path.join(work, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.DEVNULL, stderr=log)
        timer = threading.Timer(max(1.0, deadline - time.time()), proc.kill)
        timer.start()
        try:
            proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(os.path.join(work, "harness.log")) as fh:
        sys.stderr.writelines(l for l in fh if l.startswith("[perfbench]"))
    result = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "harness.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        die(f"harness exited with {proc.returncode}", 4)
    with open(result) as fh:
        return json.load(fh)


def main():
    # on SIGTERM, unwind through the `finally` blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("backfill", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)

    os.makedirs(OUT, exist_ok=True)
    home = spark_home()
    classes = build(home)
    print(f"[perfbench] {time.time():.3f} build ready", file=sys.stderr)
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(OUT, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    rng = np.random.default_rng(args.seed)
    if args.workload == "backfill":
        gen.write_events(input_dir, args.seed, BACKFILL_EVENTS, copies=BACKFILL_COPIES)
        n_batches = BACKFILL_EVENTS * BACKFILL_COPIES // BACKFILL_BATCH
    else:
        gen.write_tables(input_dir, QUERY_DATA_SEED, QUERY_SCALE)
        n_batches = 0
    dups = sorted(rng.choice(n_batches, max(1, int(n_batches * REDELIVER_SHARE)),
                             replace=False).tolist()) if n_batches else []

    print(f"[perfbench] {time.time():.3f} inputs generated", file=sys.stderr)
    # the tracing overhead is measured against this checkout's untraced
    # runs of the workload; without any, the traced run measures both
    history = os.path.join(OUT, f"untraced-{args.workload}.txt")
    known = [float(x) for x in open(history)] if os.path.exists(history) else []
    res = harness(classes, home, work, input_dir, args, deadline, dups=dups,
                        untraced=float(np.median(known)) if args.trace and known else None)
    if res["primary"] is not None:
        with open(history, "a") as fh:
            fh.write(f"{res['primary']}\n")
    failures = list(res["failures"])
    attempted = res["attempted"]
    names = []
    if res["check_dir"]:
        names = sorted(d for d in os.listdir(res["check_dir"])
                       if os.path.isdir(os.path.join(res["check_dir"], d)))
        attempted += len(names)
        failures += [{"n": 1, "what": f"{k}: {v}"}
                     for k, v in oracle.check(input_dir, res["check_dir"], names).items() if v]

    layers = dict(res["layers"])
    if args.trace:
        if args.workload == "backfill":
            ref = harness(classes, home, os.path.join(work, "local1"), input_dir, args,
                          deadline, cores=1, dups=dups, max_reps=1, warmup=False, trace=0)
            layers["ref.local1_msgs_per_s"] = ref["e2e"]["throughput_per_s"]
            failures += ref["failures"]
            attempted += ref["attempted"]
        artifact = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
        with open(artifact, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds, "e2e": res["e2e"],
                       "layers": layers, "failures": failures, "spans": res["spans"]}, fh)
        print(f"trace artifact: {os.path.relpath(artifact, ROOT)}", file=sys.stderr)

    failed = sum(f["n"] for f in failures)
    for f in failures[:20]:
        print(f"FAILED ({f['n']}): {f['what'][:300]}", file=sys.stderr)
    e2e = dict(res["e2e"])
    label = f"{args.workload}{' (traced)' if res['primary'] is None else ''}"
    for m in spec["end_to_end"]:
        print(f"{label}: {m['name']} = {e2e[m['name']]:.6g} {m['unit']}")
    for name, unit, value in ALIASES[args.workload](e2e, len(names)):
        print(f"{label}: {name} = {value:.6g} {unit}")
    print(f"{label}: failed_ops_ratio = {failed / attempted:.6g} ratio")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    if failed == 0:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
