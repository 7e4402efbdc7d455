#!/usr/bin/env python3
"""graft benchmark: one seeded workload per run, timed for a fixed number
of seconds, every output checked.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark from source (sbt, offline; Spark from $SPARK_HOME/jars or the
distribution that holds `spark-submit`) into `graftbench/target`; every
run after that starts a fresh JVM on the compiled classes. Inputs, Spark
scratch space and per-seed digests live under `.bench_build/graftbench`.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). Lines before it give
the host stamp, the checks run, the digests and every metric by name.
Workloads and metrics are described in graftbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ["ebw_sparse_poststrat", "ebw_dense_bounded", "curation_chain",
             "registry_mix"]
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit("graftbench: no Spark distribution found "
                 "(set SPARK_HOME or put spark-submit on PATH)")
    return jars


def source_stamp():
    """Hash of every source and build file the compiled classes depend on."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (LIB_SRC, os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(jars):
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return
    log("building the library and the benchmark (sbt compile)")
    env = dict(os.environ, GRAFTBENCH_SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "-Dsbt.offline=true", "compile"]
    r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        sys.exit(f"graftbench: build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def run_jvm(jars, workloads, seed, seconds, trace, size,
            timeout=JVM_TIMEOUT_S):
    """Runs the benchmark JVM; returns its result objects, one per workload."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # a fixed set of JIT compiler threads, so that cpu_s can leave out
    # their CPU time exactly (a compiler thread that ends takes its time
    # with it)
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "graftbench.Main", ",".join(workloads), str(seed), str(seconds),
            str(trace), size, WORK]
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"graftbench: run exceeded {timeout} s")
    if proc.returncode != 0:
        sys.exit(f"graftbench: benchmark JVM exited {proc.returncode}")
    results = [json.loads(line.split(" ", 1)[1]) for line in out.splitlines()
               if line.startswith("GRAFTBENCH_RESULT ")]
    if len(results) != len(workloads):
        sys.exit("graftbench: the benchmark JVM printed no result")
    return results


def oracle_failures(res):
    """Replays each registry query's DuckDB oracle against the tables the
    run generated and compares as the repository's oracle gate does:
    sorted columns, dtypes, and the md5 of the CSV rendering."""
    import duckdb
    import pandas as pd
    d = res["oracle_dir"]
    con = duckdb.connect()
    for p in glob.glob(os.path.join(d, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        files = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{files}'")
    oracle = json.load(open(os.path.join(d, "oracle", "oracle_sql.json")))
    fails = []
    for key, sql in sorted(oracle.items()):
        try:
            s = pd.read_parquet(os.path.join(d, "oracle", key))
            o = con.sql(sql).df()
            s, o = s[sorted(s.columns)], o[sorted(o.columns)]
            same = (len(s) == len(o)
                    and list(s.columns) == list(o.columns)
                    and list(s.dtypes.astype(str)) == list(o.dtypes.astype(str))
                    and hashlib.md5(s.to_csv(index=False).encode()).hexdigest()
                    == hashlib.md5(o.to_csv(index=False).encode()).hexdigest())
            if not same:
                fails.append(f"{key}: differs from its DuckDB oracle")
        except Exception as e:  # a query the oracle cannot replay fails
            fails.append(f"{key}: oracle replay failed: {str(e)[:200]}")
    con.close()
    return fails


def digest_failures(res, size):
    """Compares this run's output digests with the first run of the same
    workload, seed and size on the same sources, or records them when this
    is that first run. Returns (comparisons made, failures)."""
    d = os.path.join(WORK, "digests", source_stamp()[:16])
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{res['workload']}-{size}-{res['seed']}.json")
    now = res["digests"]
    if not os.path.exists(path):
        with open(path, "w") as fh:
            json.dump(now, fh, indent=1, sort_keys=True)
        return 0, []
    before = json.load(open(path))
    keys = sorted(set(before) | set(now))
    fails = [f"{key}: output differs from an earlier run of seed "
             f"{res['seed']}: {now.get(key)} vs {before.get(key)}"
             for key in keys if not same_digest(before.get(key), now.get(key))]
    return len(keys), fails


def same_digest(a, b):
    if a is None or b is None:
        return False
    if "iters" in a:  # EBW: iteration count exact, weights within 1e-9
        return a["iters"] == b["iters"] and a["converged"] == b["converged"] \
            and same_digest(a["digest"], b["digest"])
    close = all(abs(x - y) <= 1e-9 * max(1.0, abs(x))
                for x, y in zip(a["floats"], b["floats"]))
    return (a["rows"], a["xor"], a["sum"], len(a["floats"])) == \
        (b["rows"], b["xor"], b["sum"], len(b["floats"])) and close


def finish(res, trace, size):
    """Adds the checks made outside the JVM and returns the result line."""
    fails = list(res["failures"])
    attempted, extra = digest_failures(res, size)
    if res["workload"] == "registry_mix":
        attempted += len(res["digests"])
        extra += oracle_failures(res)
    for f in extra:
        log(f"FAIL {f}")
    failed = res["failed"] + len(extra)
    attempted += res["attempted"]
    metrics = res["per_layer"] if trace else res["end_to_end"]
    host = res["host"]
    print(f"host: nproc={host['nproc']} load {host['load_start']:.2f} -> "
          f"{host['load_end']:.2f}, steal {host['steal_frac']:.2%}, probe "
          f"{host['probe_s']:.4f} s (times below are divided by "
          f"{host['scale']:.4f})"
          + ("  CONTENDED: figures from this run are inflated"
             if host["contended"] else ""))
    raw = res["raw"]
    print(f"unscaled: wall_s {raw['wall_s']:.6g} s, cpu_s {raw['cpu_s']:.6g} s, "
          f"setup_s {raw['setup_s']:.6g} s")
    print(f"workload {res['workload']} seed {res['seed']}: "
          f"{res['passes']} passes, checks {', '.join(res['checks'])}")
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:.6g} {m['unit']}")
    print(f"{'failed_frac':40s} {failed / max(1, attempted):.6g}")
    for f in (fails + extra)[:20]:
        print(f"FAILED: {f}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                        for k, v in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(LIB_SRC):
        sys.exit(f"graftbench: library sources not found at {LIB_SRC}; "
                 "run from the root of a full checkout")
    os.makedirs(WORK, exist_ok=True)
    jars = spark_jars()
    build(jars)
    res = run_jvm(jars, [a.workload], a.seed, a.seconds, a.trace, "full")[0]
    print(json.dumps(finish(res, a.trace, "full")))


if __name__ == "__main__":
    main()
