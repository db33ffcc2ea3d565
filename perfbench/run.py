#!/usr/bin/env python3
"""The benchmark: runs one workload in one JVM and prints one result line.

    python3 perfbench/run.py --workload weather_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the harness
(perfbench/build.py), makes the workload's inputs from --seed, runs the
harness (perfbench/harness) in a single JVM, checks every output against
a computation made apart from the program (perfbench/checks.py), and
prints a host-conditions line and then the result line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
A run times a fixed list of operations: --seconds buys ROUNDS_PER_10S
rounds of the workload's operations per 10 s (at least one), so every run
of a workload attempts the same operations whatever the host's speed.
Extra flags for development: --scale tiny (small inputs, used by the
self-test) and --keep (keep the run's work dir and print its path).
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

# catalog_sql is not in BENCHMARK.json (see README.md); it runs on request
WORKLOADS = ("weather_etl", "corpus_pipeline", "catalog_sql")
ROUNDS_PER_10S = {"weather_etl": 1, "corpus_pipeline": 3, "catalog_sql": 2}
CORPUS_KEYS = ("corpus_prep_e2e", "sim_ann_hnsw_exact")
ANN_KEY = "sim_ann_hnsw_exact"
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", "/root/testdata")
SCALE_DATA = {"full": "sf0.01", "tiny": "sf0.001"}
CPUS = max(1, min(4, (os.cpu_count() or 1) - 1))
HEAP = "3g"
YOUNG = "512m"
JVM_TIMEOUT_S = 160

E2E = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_ms", "ms"),
       ("cpu_s", "s"), ("peak_rss_mb", "MB")]
CATALOG_FAMILIES = ("agg", "join", "win", "setop", "filter", "proj", "flatten",
                    "sql", "fn", "ts", "prep")
LAYER = [
    ("readers.infer_ms", "ms"), ("transform.ms", "ms"), ("bulk.write_ms", "ms"),
    ("upsert.ms", "ms"), ("upsert.files_rewritten", "count"),
    ("table.open_ms", "ms"), ("table.files", "count"), ("table.partitions", "count"),
    ("table.bytes", "bytes"), ("query.q1_ms", "ms"), ("query.q2_ms", "ms"),
    ("query.q3_ms", "ms"), ("query.q3_bytes_read", "bytes"),
    ("corpus.ladder_ms", "ms"), ("corpus.prep_ms", "ms"), ("dedup.fuzzy_ms", "ms"),
    ("ann.serve_ms", "ms"), ("corpus.first_call_ms", "ms"), ("ann.first_call_ms", "ms"),
    ("spark.analysis_ms", "ms"), ("spark.optimization_ms", "ms"),
    ("spark.planning_ms", "ms"), ("spark.codegen_compile_ms", "ms"),
    ("jvm.jit_ms", "ms"), ("setup.codegen_compile_ms", "ms"), ("setup.jit_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"), ("spark.executor_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"), ("spark.output_bytes", "bytes"),
    ("trace.wall_s", "s"), ("trace.overhead_s", "s")]
CATALOG_LAYER = [(f"catalog.{f}_ms", "ms") for f in CATALOG_FAMILIES]

JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def data_dir(scale):
    """Copy of the test tables inside the build dir (made once)."""
    name = SCALE_DATA[scale]
    src = os.path.join(TESTDATA, name)
    dst = os.path.join(build.build_dir(), "data", name)
    if not os.path.isdir(src):
        fail(f"test tables not found: {src}")
    os.makedirs(dst, exist_ok=True)
    for f in sorted(os.listdir(src)):
        s, d = os.path.join(src, f), os.path.join(dst, f)
        if f.endswith(".parquet") and (not os.path.exists(d)
                                       or os.path.getsize(d) != os.path.getsize(s)):
            shutil.copyfile(s, d)
    return dst


def catalog_keys(scale):
    with open(os.path.join(HERE, "catalog_keys.txt")) as f:
        keys = [ln.split("#")[0].strip() for ln in f]
    keys = [k for k in keys if k]
    return keys[:3] if scale == "tiny" else keys


def java_cmd(cp, work, extra):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + opens + ["-cp", cp, "perfbench.Harness"]
            + [f"{k}={v}" for k, v in extra.items()])


def oracle_sqls(cp, keys, bdir):
    out = os.path.join(bdir, "oracle_sql.json")
    r = subprocess.run(java_cmd(cp, bdir, {"workload": "oracle_sql", "keys": ",".join(keys),
                                           "out": out}),
                       stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, timeout=60)
    if r.returncode != 0:
        fail("could not read the oracle SQL: " + r.stderr.decode()[-2000:])
    with open(out) as f:
        return json.load(f)


def host_snapshot():
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    steal = 0
    with open("/proc/stat") as f:
        for ln in f:
            if ln.startswith("cpu "):
                steal = int(ln.split()[8])
    return load1, steal / os.sysconf("SC_CLK_TCK")


def run_harness(cp, work, conf):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    conf = dict(conf, work=work, out=os.path.join(work, "result.json"), cpus=CPUS)
    log = os.path.join(work, "harness.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(java_cmd(cp, work, conf), stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log) as lf:
            tail = lf.read()[-3000:]
        fail(f"harness exited with {code}:\n{tail}")
    with open(conf["out"]) as f:
        return json.load(f)


def end_to_end(res, t_setup0):
    """The end-to-end metrics over the untraced rounds. op_p50_ms is the
    median latency of each kind of operation, averaged over the kinds."""
    plain = {r["index"] for r in res["rounds"] if not r["traced"]}
    ops = [o for o in res["ops"] if o["ok"] and o["round"] in plain]
    by_name = {}
    for o in ops:
        if o["p50"]:
            by_name.setdefault(o["name"], []).append(o["ms"])
    return {"setup_s": res["setup_done_ms"] / 1000 - t_setup0,
            "wall_s": sum(o["ms"] for o in ops) / 1000,
            "op_p50_ms": statistics.mean(statistics.median(v) for v in by_name.values()),
            "cpu_s": sum(o["cpu_ms"] for o in ops) / 1000,
            "peak_rss_mb": res["peak_rss_mb"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--keep", action="store_true")
    a = ap.parse_args()

    load0, steal0 = host_snapshot()
    t0 = time.time()
    try:
        cp = build.build()
    except build.BuildError as e:
        fail(str(e))
    bdir = build.build_dir()
    work = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rounds = (1 if a.scale == "tiny"
              else max(1, round(a.seconds / 10 * ROUNDS_PER_10S[a.workload])))
    conf = {"workload": a.workload, "rounds": rounds, "trace": a.trace}
    sf = None if a.workload == "weather_etl" else data_dir(a.scale)
    # set-up: inputs made and registered, JVM launched, cold pass done
    t_setup0 = time.time()
    if a.workload == "weather_etl":
        import weather
        exp, layout = weather.generate(os.path.join(work, "raw"), a.seed, a.scale)
        _, warm = weather.generate(os.path.join(work, "warm"), a.seed + 1, "warm")
        conf.update(raw=os.path.join(work, "raw"), batches=layout["batches"],
                    station=layout["q3_station"], warm=os.path.join(work, "warm"),
                    warm_batches=warm["batches"])
    else:
        keys = list(CORPUS_KEYS if a.workload == "corpus_pipeline" else catalog_keys(a.scale))
        random.Random(a.seed).shuffle(keys)
        conf.update(sf=sf, keys=",".join(keys))
    t_launch = time.time()
    try:
        res = run_harness(cp, work, conf)
        t_jvm = time.time()
        errs = list(res["problems"])
        import checks
        import oracle
        con = oracle.connect(sf or work)
        w = res["workload"]
        if a.workload == "weather_etl":
            errs += checks.check_weather(w, exp, con)
        else:
            errs += checks.check_keys(w.get("outputs", {}), w["oracle_sql"], sf, con,
                                      os.path.join(bdir, "oracle_cache"))
            if ANN_KEY in keys and ANN_KEY in w.get("outputs", {}):
                errs += checks.check_ann(w["outputs"][ANN_KEY], con, sf)
        con.close()
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)
    load1, steal1 = host_snapshot()

    if a.trace == 0:
        vals = end_to_end(res, t_setup0)
        metrics = {n: {"value": vals[n], "unit": u} for n, u in E2E}
    else:
        layer = res["layer"]
        names = LAYER + (CATALOG_LAYER if a.workload == "catalog_sql" else [])
        metrics = {n: {"value": layer.get(n, 0), "unit": u} for n, u in names}
    for e in errs[:20]:
        print(f"[perfbench] check failed: {e}", file=sys.stderr)
    host = dict(res["host"], load1_start=load0, load1_end=load1,
                steal_s=round(steal1 - steal0, 2), rounds=len(res["rounds"]),
                phases_s={"build": round(t_setup0 - t0, 2), "inputs": round(t_launch - t_setup0, 2),
                          "jvm": round(t_jvm - t_launch, 2), "check": round(time.time() - t_jvm, 2)},
                workload=a.workload, seed=a.seed, trace=a.trace)
    if a.trace:
        trace_file = os.path.join(bdir, "traces", f"{a.workload}-{a.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as f:
            json.dump(res["spans"], f)
        host["trace_file"] = os.path.relpath(trace_file)
    if a.workload == "weather_etl":
        host["inputs"] = layout
    if a.keep:
        host["work"] = work
    print(json.dumps({"host": host}))
    print(json.dumps({"correct": not errs, "attempted": len(res["ops"]),
                      "failed": sum(1 for o in res["ops"] if not o["ok"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
