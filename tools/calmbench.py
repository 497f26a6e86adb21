#!/usr/bin/env python3
"""Calm-window bench recorder (the BASELINE.md protocol, scripted).

This VM throttles episodically: identical-code bench totals swing 2-3x
depending on when they run. Protocol enforced here:

1. CANARY before every timed run: a fixed DuckDB aggregation over the
   sf0.1 lineitem table, best of 3. If it exceeds CANARY_CALM_SEC the
   host is throttled -> sleep and re-probe (up to MAX_WAITS) instead of
   recording garbage.
2. COOL-DOWN between runs so the bench itself doesn't trip the quota.
3. MEDIAN of RUNS runs, per query and total, written alongside the raw
   run files.

Usage: python3 tools/calmbench.py [tag] [runs]   (default tag r07, 3 runs)
"""
import glob, json, os, statistics, subprocess, sys, time

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = "/root/repo/bench"
CANARY_CALM_SEC = 0.08   # calibrated: ~0.02 s calm; throttle shows >4x
COOLDOWN_SEC = 240
MAX_WAITS = 10
ADD_OPENS = []
for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
          "java.net", "java.nio", "java.util", "java.util.concurrent",
          "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
          "sun.security.action", "sun.util.calendar"]:
    ADD_OPENS += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]


def canary():
    import duckdb
    best = min(_canary_once(duckdb) for _ in range(3))
    return best


def _canary_once(duckdb):
    con = duckdb.connect()
    t0 = time.time()
    con.execute(
        f"SELECT sum(l_extendedprice * (1 - l_discount)), count(*) "
        f"FROM '{SF}/lineitem.parquet'").fetchall()
    return time.time() - t0


def wait_for_calm():
    for i in range(MAX_WAITS):
        c = canary()
        print(f"[calmbench] canary {c:.3f}s (calm < {CANARY_CALM_SEC}s)", flush=True)
        if c < CANARY_CALM_SEC:
            return c
        print(f"[calmbench] throttled; sleeping {COOLDOWN_SEC}s ({i+1}/{MAX_WAITS})",
              flush=True)
        time.sleep(COOLDOWN_SEC)
    print("[calmbench] WARNING: never saw a calm canary; recording anyway", flush=True)
    return -1.0


def run_bench():
    cp = os.environ.get("GRAFT_CLASSES_DIR",  # frozen snapshot: sbt compile swaps
        "/root/repo/target/scala-2.13/classes") + ":" + ":".join(  # class files under a live probe
        
        glob.glob("/opt/spark/jars/*.jar"))
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF, SPARK_GRAFT_CPUS="32")
    r = subprocess.run(
        ["java"] + ADD_OPENS + ["-Xmx96g", "-cp", cp, "graft.Bench"],
        capture_output=True, text=True, env=env, timeout=3600)
    line = [l for l in r.stdout.splitlines() if l.startswith('{"metric"')]
    if r.returncode != 0 or not line:
        print(r.stderr[-3000:])
        sys.exit(1)
    return json.loads(line[-1])


def main():
    tag = sys.argv[1] if len(sys.argv) > 1 else "r07"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    os.makedirs(OUT, exist_ok=True)
    results = []
    for i in range(1, runs + 1):
        c = wait_for_calm()
        t0 = time.time()
        res = run_bench()
        res["canary_sec"] = c
        path = f"{OUT}/bench_run_{tag}_{i}.json"
        json.dump(res, open(path, "w"))
        print(f"[calmbench] run {i}: total {res['value']:.1f}s "
              f"(wall {time.time()-t0:.0f}s) -> {path}", flush=True)
        results.append(res)
        if i < runs:
            print(f"[calmbench] cool-down {COOLDOWN_SEC}s", flush=True)
            time.sleep(COOLDOWN_SEC)
    med = {
        "metric": "total", "unit": "sec", "sf": SF, "runs": runs,
        "value": statistics.median(r["value"] for r in results),
        "canaries": [r["canary_sec"] for r in results],
        "queries": {
            q: statistics.median(r["queries"][q] for r in results)
            for q in results[0]["queries"]
        },
    }
    json.dump(med, open(f"{OUT}/bench_median_{tag}.json", "w"), indent=1)
    print(f"[calmbench] median total {med['value']:.1f}s -> "
          f"{OUT}/bench_median_{tag}.json", flush=True)


if __name__ == "__main__":
    main()
