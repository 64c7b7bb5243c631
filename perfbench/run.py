#!/usr/bin/env python3
"""Benchmark for the cashback pipeline engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine with the harness (sbt, offline, once per source state),
generates the workload's inputs from the seed, runs the harness JVM, checks
the outputs (the ELT load counts against the generator's ground truth, the
query row counts against the DuckDB oracle), and prints one JSON result as
the last line of stdout. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer metrics. Progress and the JVM's logs go to
stderr; the full observations of the last run of each workload are kept in
perfbench/.work/last_<workload>_trace<k>.json. `--workload all` runs every
workload untraced and traced and prints one result line for each.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "source.stamp")
DEADLINE_S = 170

sys.path.insert(0, HERE)
import gen  # noqa: E402

# One query per operator family the curation path leans on: the near-dup
# pair/cluster cascade (q41, Dedup), exact-substring removal over hashed
# gram builds (q90, TextAnalysis), the model-scored top-k stratum planner
# over the SparseDot kernel (q108, QualityModel + Sampling) and the BPE
# encode kernel (q110, BpeTrain).
CURATION = ["q41_dedup_clusters", "q90_exact_substr_rm", "q108_model_budget",
            "q110_bpe_encode"]

WORKLOADS = {
    "cashback_elt": {"batches": 4, "rewards": 2000, "transactions": 3300,
                     "warm_batches": 2, "warm_rewards": 200,
                     "warm_transactions": 330},
    "curation_queries": {"queries": CURATION, "sf": 0.01, "docs": 500,
                         "vecs": 500, "warm_sf": 0.001, "warm_docs": 100,
                         "warm_vecs": 100},
}
SETUPS = 3

# metric names, units and the call-site files the tracer names come from
# BENCHMARK.json, the benchmark's declaration
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    DECLARED = json.load(_f)
SITES = [m["name"].split(".")[1] for m in DECLARED["per_layer"]
         if m["name"].startswith("site.") and m["name"].endswith(".jobs")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log("error:", msg)
    sys.exit(2)


# ---------------------------------------------------------------- build --

def source_stamp():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def spark_jars():
    """The jars of the Spark installation the engine builds against:
    $SPARK_HOME/jars, or the installation `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found; set SPARK_HOME")
    return os.path.join(home, "jars")


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) \
            and open(STAMP).read() == stamp:
        return open(CLASSPATH).read().strip()
    log("building engine + harness with sbt")
    # offline: the toolchain's caches hold every artifact the build needs
    env = dict(os.environ, SPARK_JARS_DIR=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return open(CLASSPATH).read().strip()


# --------------------------------------------------------------- inputs --

def make_inputs(workload, seed, work):
    cfg = WORKLOADS[workload]
    m = {"workload": workload}
    if workload == "cashback_elt":
        m["batches"] = gen.write_cashback(
            os.path.join(work, "in"), seed, cfg["batches"], cfg["rewards"],
            cfg["transactions"])
        m["warmup"] = gen.write_cashback(
            os.path.join(work, "warm"), seed + 1000003, cfg["warm_batches"],
            cfg["warm_rewards"], cfg["warm_transactions"])
    else:
        m["data"] = os.path.join(work, "data")
        m["warmup"] = os.path.join(work, "warm")
        gen.write_star_schema(m["data"], seed, cfg["sf"], cfg["docs"], cfg["vecs"])
        gen.write_star_schema(m["warmup"], seed + 1000003, cfg["warm_sf"],
                              cfg["warm_docs"], cfg["warm_vecs"])
        m["queries"] = cfg["queries"]
    return m


# ------------------------------------------------------------------ jvm --

def heap_size():
    """The repository's test-tier rule: half the host's memory, 2-8 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(classpath, manifest_path, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap_size()}", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", manifest_path]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail("harness timed out")
    finally:
        # on a timeout, a failure or a termination signal: never leave the
        # JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        fail(f"harness exited with {rc}")


# --------------------------------------------------------------- checks --

def oracle_counts(data_dir, oracle_sql):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    return {q: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            for q, sql in oracle_sql.items()}


def check(workload, manifest, res):
    """Returns a list of mismatch descriptions (empty = correct)."""
    bad = []
    if isinstance(res["checks"], dict) and "error" in res["checks"]:
        return [f"check pass failed: {res['checks']['error']}"]
    if workload == "cashback_elt":
        batches = manifest["batches"]
        for o in res["ops"]:
            b = batches[int(o["name"].split("_")[1])]
            if o["ok"] and (o["appended"] != b["new_ids"] or o["rows"] != b["rows"]):
                bad.append(f"pass {o['pass']} {o['name']}: appended {o['appended']} "
                           f"rows {o['rows']}, expected {b['new_ids']} / {b['rows']}")
        distinct = sum(b["new_ids"] for b in batches)
        for c in res["checks"]:
            if c["table_rows"] != distinct:
                bad.append(f"pass {c['pass']}: warehouse holds {c['table_rows']} "
                           f"rows, expected {distinct}")
            if c.get("replay_appended", 0) != 0:
                bad.append(f"replaying batch 0 appended {c['replay_appended']}")
    else:
        expected = oracle_counts(manifest["data"], res["checks"])
        for o in res["ops"]:
            if o["ok"] and o["rows"] != expected[o["name"]]:
                bad.append(f"pass {o['pass']} {o['name']}: {o['rows']} rows, "
                           f"oracle {expected[o['name']]}")
    return bad


# -------------------------------------------------------------- metrics --

TAIL_PCT = 90


def tail(latencies):
    """The 90th percentile of operation latency (nearest rank)."""
    xs = sorted(latencies)
    return xs[max(0, math.ceil(TAIL_PCT / 100 * len(xs)) - 1)]


def declared(section, computed):
    """The computed metrics in BENCHMARK.json's order and units; a declared
    metric the run did not compute (or the reverse) is an error."""
    names = [m["name"] for m in DECLARED[section]]
    if set(names) != set(computed):
        fail(f"{section} metrics differ from BENCHMARK.json: "
             f"{sorted(set(names) ^ set(computed))}")
    return {m["name"]: {"value": computed[m["name"]], "unit": m["unit"]}
            for m in DECLARED[section]}


def end_to_end(workload, manifest, res):
    ops = res["ops"]
    lat = [o["latency_s"] for o in ops]
    passes = {}
    for o in ops:
        passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["latency_s"]
    pass_s = statistics.median(passes.values())
    t = tail(lat)
    # rows one pass takes in (ELT) or produces (queries)
    rows = sum(o.get("rows", 0) for o in ops if o["pass"] == 0)
    setup = statistics.median(s["start_s"] + s["warmup_s"] for s in res["setups"])
    metrics = {
        "setup_s": setup,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": t,
        "pass_s": pass_s,
        "rows_per_s": rows / pass_s,
        "peak_heap_mb": res["peak_heap_mb"],
    }
    context = {"tail_percentile": TAIL_PCT, "ops": len(lat), "passes": len(passes)}
    return metrics, context


def per_layer(res):
    """Medians over traced passes (set-up layer: over set-ups)."""
    layers = res["layers"]

    def med(key):
        return statistics.median(l.get(key, 0.0) for l in layers)

    m = {
        "session.start_s": statistics.median(s["start_s"] for s in res["setups"]),
        "session.warmup_s": statistics.median(s["warmup_s"] for s in res["setups"]),
        "queries.build_jobs": med("jobs.queries.build"),
        "queries.exec_jobs": med("jobs.queries.exec"),
        "pipeline.append_ratio": statistics.median(
            l.get("pipeline.rows_appended", 0.0) / l["pipeline.rows_in"]
            if l.get("pipeline.rows_in") else 0.0 for l in layers),
    }
    for d in DECLARED["per_layer"]:
        m.setdefault(d["name"], med(d["name"]))
    return m


# ----------------------------------------------------------------- main --

def run_all(a):
    """Every workload, untraced and traced, one result line each."""
    for w in WORKLOADS:
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, __file__, "--workload", w, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True, check=True).stdout
            print(json.dumps({"workload": w, "trace": trace,
                              **json.loads(out.strip().splitlines()[-1])}), flush=True)


def main():
    start = time.monotonic()
    # a termination signal unwinds like an error, so cleanup runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload == "all":
        return run_all(a)
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")

    classpath = build()
    # the build may take long on a fresh checkout; the run's own deadline
    # starts once the program is built
    deadline = time.monotonic() + DEADLINE_S
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        manifest = make_inputs(a.workload, a.seed, work)
        log(f"inputs generated in {time.monotonic() - t0:.1f}s")
        manifest.update(trace=bool(a.trace), seconds=a.seconds, setups=SETUPS,
                        sites=[s for s in SITES if s != "other"],
                        warehouse=os.path.join(work, "warehouse"),
                        out=os.path.join(work, "result.json"))
        mpath = os.path.join(work, "manifest.json")
        with open(mpath, "w") as f:
            json.dump(manifest, f)
        t0 = time.monotonic()
        run_jvm(classpath, mpath, work, deadline)
        log(f"harness ran {time.monotonic() - t0:.1f}s")
        with open(manifest["out"]) as f:
            res = json.load(f)
        t0 = time.monotonic()
        bad = check(a.workload, manifest, res)
        log(f"outputs checked in {time.monotonic() - t0:.1f}s")
        for b in bad[:20]:
            log("check failed:", b)
        failed = sum(1 for o in res["ops"] if not o["ok"])
        for o in res["ops"]:
            if not o["ok"]:
                log(f"operation failed: {o['name']}: {o['error']}")
        if a.trace:
            metrics, context = declared("per_layer", per_layer(res)), {}
        else:
            e2e, context = end_to_end(a.workload, manifest, res)
            metrics = declared("end_to_end", e2e)
        detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "context": context, "sentinels": res["sentinels"],
                  "cores": res["cores"], "measured_s": res["measured_s"],
                  "setups": res["setups"], "mismatches": bad,
                  "ops": [{k: o[k] for k in ("pass", "name", "latency_s", "ok")}
                          for o in res["ops"]],
                  "layers": res["layers"], "heap_samples_mb": res["heap_samples_mb"],
                  "wall_s": time.monotonic() - start}
        with open(os.path.join(WORK, f"last_{a.workload}_trace{a.trace}.json"), "w") as f:
            json.dump(detail, f, indent=1)
        log(json.dumps({"context": context, "sentinels": res["sentinels"],
                        "wall_s": round(time.monotonic() - start, 1)}))
        out = {"correct": not bad and failed == 0,
               "attempted": len(res["ops"]), "failed": failed,
               "metrics": metrics}
        print(json.dumps(out), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
