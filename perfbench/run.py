#!/usr/bin/env python3
"""One command for the graft benchmark: build, verify, run one seeded
workload and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload corpus_curate --seed 1 --seconds 40 --trace 0
    python3 perfbench/run.py --workload legis_analyst --seed 1 --seconds 24 --trace 0 \
        --data <sf0.1 test data directory>

The corpus and index workloads read the committed subset of the sf0.1
documents and embeddings in perfbench/data; `legis_analyst` reads the star
schema and `events`, so it needs `--data` naming a directory of the sf0.1
test tables.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it is
a report with every metric, the session sizing and the seed. Everything
the run writes goes under `.perfbench/` in the repository root.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import importlib.util
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
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ["legis_analyst", "corpus_curate", "index_lifecycle"]
# the tables each workload reads (`<name>.parquet` in the data directory)
TABLES = {
    "legis_analyst": ["region", "nation", "customer", "supplier", "orders", "lineitem",
                      "events"],
    "corpus_curate": ["documents", "embeddings"],
    "index_lifecycle": ["documents", "embeddings"],
}
HEAP = "3g"
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600
VERIFY_TIMEOUT_S = 400

END_TO_END = [("setup_s", "s"), ("makespan_s", "s"), ("latency_p50_s", "s"),
              ("latency_tail_s", "s"), ("peak_rss_mb", "MB")]
INDEX_OPS = [("build_s", "s"), ("append_p50_s", "s"), ("delete_p50_s", "s"),
             ("probe_p50_s", "s"), ("compact_s", "s"),
             ("serve_batch_p50_s", "s"), ("write_amp", "ratio"),
             ("space_amp", "ratio")]
FAMILIES = ["dedup", "ivfpq", "cdc"]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def read(path):
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read()


def cpus():
    return len(os.sched_getaffinity(0))


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, n) for d, _, ns in os.walk(top) for n in ns
                           if n.endswith(".scala"))
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_proc(cmd, timeout, log_path, cwd=ROOT, env=None):
    """Runs cmd in its own process group, output to log_path; kills the
    whole group on timeout and waits for it."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{cmd[0]} timed out after {timeout}s, see {log_path}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"{cmd[0]} exited {p.returncode}:\n{tail}")


def build():
    """Compiles the program with the harness (perfbench/build.sbt) once per
    source state; returns the runtime classpath."""
    stamp = tree_hash([os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
                       os.path.join(HERE, "build.sbt"),
                       os.path.join(HERE, "project", "build.properties")])
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, "classpath")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and read(stamp_file) == stamp:
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        raise BenchError("SPARK_HOME must name the Spark installation the build compiles against")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx1g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(bdir, "sbt.log")
    log("building (sbt compile)")
    run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
              "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, log_path, cwd=HERE, env=env)
    with open(log_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next(l for l in reversed(lines) if ".jar" in l and not l.startswith("["))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def data_stamp(ddir, tables):
    """Content hash of the tables a workload reads."""
    h = hashlib.sha256()
    for t in tables:
        path = os.path.join(ddir, f"{t}.parquet")
        if not os.path.isfile(path):
            raise BenchError(f"{path} is missing: see --data")
        h.update(t.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def java_cmd(cp, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap and the throughput collector: with the default G1 and a
    # growing heap, the same run's makespan spread twice as wide and ran
    # a third slower on 4 cores
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={tmp}", "-Dderby.system.home=" + tmp]
            + opens + ["-cp", cp, "perfbench.Main"] + args)


def jvm_env():
    return dict(os.environ, GRAFT_FIXTURES=os.path.join(ROOT, "fixtures", "legiscan"),
                SPARK_LOCAL_IP="127.0.0.1")


def load_check():
    """The typed canonicalisation of tools/check.py, the oracle compare
    the repository's verification uses."""
    sys.dont_write_bytecode = True
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def verify(cp, ddir, workload, stamp):
    """Once per build and input: runs every distinct query of a query
    workload, compares each output with its DuckDB oracle
    (SparkEntry.oracleSql) and keeps the fingerprints of the outputs that
    match. A timed call counts as correct only when its own fingerprint
    equals the verified one. Returns the file of verified fingerprints."""
    vfile = os.path.join(WORK, f"verified-{workload}.tsv")
    stamp_file = os.path.join(WORK, f"verified-{workload}.stamp")
    if os.path.exists(vfile) and read(stamp_file) == stamp:
        return vfile
    import duckdb
    check = load_check()
    vwork = os.path.join(WORK, "verify-run")
    shutil.rmtree(vwork, ignore_errors=True)
    out = os.path.join(WORK, "verify.json")
    log("verifying query outputs against the DuckDB oracle")
    run_proc(java_cmd(cp, ["--mode", "verify", "--workload", workload, "--data", ddir,
                           "--work", vwork, "--out", out, "--cpus", str(cpus())]),
             VERIFY_TIMEOUT_S, os.path.join(WORK, "verify.log"), env=jvm_env())
    entries = json.load(open(out))
    con = duckdb.connect()
    for t in TABLES[workload]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ddir}/{t}.parquet'")

    def fetch(sql):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        tbl = cur.fetch_arrow_table()
        types = [str(t) for t in tbl.schema.types]
        rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_columns else []
        return cols, types, rows

    good = []
    for name, e in sorted(entries.items()):
        if e["fingerprint"] is None:
            log(f"verify: {name} failed in Spark")
            continue
        try:
            gcols, gtypes, grows = fetch(f"SELECT * FROM '{vwork}/verify/{name}/*.parquet'")
            ecols, etypes, erows = fetch(e["oracle_sql"])
        except Exception as ex:  # an unreadable output or oracle error fails the query
            log(f"verify: {name}: {ex}")
            continue
        gc, gr = check.canon(grows, gcols)
        ec, er = check.canon(erows, ecols)
        gt = [t for _, t in sorted(zip(gcols, gtypes))]
        et = [t for _, t in sorted(zip(ecols, etypes))]
        if gc == ec and gt == et and gr == er:
            good.append((name, e["fingerprint"]))
        else:
            log(f"verify: {name} differs from the oracle")
    with open(vfile, "w") as f:
        f.writelines(f"{n}\t{fp}\n" for n, fp in good)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    shutil.rmtree(vwork, ignore_errors=True)
    return vfile


def tail_percentile(walls):
    """The highest percentile with at least ten calls beyond it (nearest
    rank), as (value, percentile)."""
    s = sorted(walls)
    n = len(s)
    if n <= 10:
        return s[-1], 100
    k = n - 10
    return s[k - 1], math.floor(100 * k / n)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def metrics_of(res):
    calls = res["calls"]
    walls = [c["wall_s"] for c in calls]
    tail, pct = tail_percentile(walls)
    failed = sum(1 for c in calls if not c["ok"] or c["wrong"])
    e2e = {
        "setup_s": res["setup_s"],
        "makespan_s": res["makespan_s"],
        "latency_p50_s": median(walls),
        "latency_tail_s": tail,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    report = dict(e2e, fail_ratio=failed / len(calls), latency_tail_pct=f"p{pct}",
                  timed_calls=len(calls))
    if res["workload"] == "index_lifecycle":
        def kind_walls(suffix):
            return [c["wall_s"] for c in calls if c["kind"].endswith(suffix)]
        report.update({
            "build_s": sum(kind_walls(".build")),
            "append_p50_s": median(kind_walls(".append")),
            "delete_p50_s": median(kind_walls(".delete")),
            "probe_p50_s": median(kind_walls(".probe")),
            "compact_s": sum(kind_walls(".compact")),
            "serve_batch_p50_s": median(kind_walls("serve")),
            "write_amp": res["write_amp"],
            "space_amp": res["space_amp"],
        })
    return e2e, report, len(calls), failed


def per_layer(res):
    layers = dict(res["per_layer"])
    fams = res.get("families", {})
    for f in FAMILIES:
        fj = fams.get(f, {})
        for k in ["bytes_written", "files_written", "batch_dirs"]:
            layers[f"index.{f}.{k}"] = float(fj.get(k, 0))
    layers["trace.makespan_s"] = res["makespan_s"]
    return layers


def history_overhead(workload, traced_makespan):
    """Traced makespan against the median untraced makespan of the same
    workload recorded in this checkout, when there is one."""
    path = os.path.join(WORK, "history.jsonl")
    if not os.path.exists(path):
        return None
    spans = [r["makespan_s"] for r in map(json.loads, open(path))
             if r["workload"] == workload and not r["trace"]]
    return traced_makespan / median(spans) if spans else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=os.path.join(HERE, "data"),
                    help="directory of the input tables (default: perfbench/data)")
    a = ap.parse_args()
    ddir = os.path.abspath(a.data)
    for need in [os.path.join("src", "main", "scala", "graft"),
                 os.path.join("fixtures", "legiscan"), os.path.join("tools", "check.py")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f"run from the repository root: {need} is missing")
    os.makedirs(WORK, exist_ok=True)
    # one run at a time per checkout: runs share the build and work dirs
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    dstamp = data_stamp(ddir, TABLES[a.workload])
    cp = build()
    vfile = "none"
    if a.workload != "index_lifecycle":
        vfile = verify(cp, ddir, a.workload,
                       read(os.path.join(WORK, "build", "stamp")) + ddir + dstamp)

    rwork = os.path.join(WORK, "run")
    shutil.rmtree(rwork, ignore_errors=True)
    out = os.path.join(WORK, "result.json")
    if os.path.exists(out):
        os.remove(out)
    # set-up is measured from here, the JVM's launch, to its first timed call
    launched_ms = time.time() * 1e3
    run_proc(java_cmd(cp, ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--data", ddir, "--work", rwork, "--out", out,
                           "--verified", vfile, "--cpus", str(cpus()),
                           "--launched-ms", repr(launched_ms)]),
             RUN_TIMEOUT_S, os.path.join(WORK, "run.log"), env=jvm_env())
    res = json.load(open(out))
    if a.trace:
        with open(os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"spans": res["spans"], "per_call_counters": res["per_call_counters"]}, f)
    shutil.rmtree(rwork, ignore_errors=True)

    e2e, report, attempted, failed = metrics_of(res)
    with open(os.path.join(WORK, "history.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": bool(a.trace),
                            "makespan_s": res["makespan_s"]}) + "\n")
    context = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
               "trace": a.trace, "nproc": res["cpus"], "xmx_mb": res["xmx_mb"],
               "spark_version": res["spark_version"], "passes": res["passes"]}
    units = dict(END_TO_END + INDEX_OPS + [("fail_ratio", "ratio")])
    if a.trace:
        layers = per_layer(res)
        overhead = history_overhead(a.workload, res["makespan_s"])
        print(json.dumps(dict(context, per_layer=layers, tracing_overhead=overhead)))
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        print(json.dumps(dict(context, report={
            k: ({"value": v, "unit": units[k]} if k in units else v) for k, v in report.items()})))
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("task_skew"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(str(e))
        sys.exit(2)
