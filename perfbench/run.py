#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload build|serve|ingest_serve \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload suite --sf DIR --seed N

The first run compiles the engine's sources together with the benchmark's
(sbt, offline) and caches the classpath under perfbench/target; later runs
reuse it until a source file changes. Each run then starts one JVM
(perfbench.Measure) in a fresh work directory under perfbench/.run and
prints, as the last line of stdout,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). Exit code 0 means every correctness gate held.

The `suite` workload is not one of BENCHMARK.json's (one pass over the sf
tables costs more than a registered run may); it reads the sf directory
given with --sf, prints its own metrics, and passes only if every query's
result matches its DuckDB oracle SQL, compared as tools/check_oracle.py does.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
CDS_ARCHIVE = os.path.join(TARGET, "classes.jsa")
STAMP = os.path.join(TARGET, "source-stamp.txt")
WORKLOADS = ("build", "serve", "ingest_serve", "suite")
RUN_LIMIT_S = 175
SUITE_LIMIT_S = 1800
BUILD_LIMIT_S = 850
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: paths, sizes and contents."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    log("compiling engine + benchmark sources (sbt, offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"[perfbench] build failed (exit {proc.returncode})")
    # Class-data sharing: one short run records the classes Spark and the
    # engine load, and every later JVM maps them instead of loading them
    # again (about 7 s less per run on a 4-core box; timed work is the same).
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    train = argparse.Namespace(workload="serve", seed=0, seconds=2, trace=0, sf=None)
    try:
        run_jvm(train, time.time() + RUN_LIMIT_S, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    except (SystemExit, subprocess.TimeoutExpired) as e:
        log(f"no class-data archive: {e}")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(args, deadline, jvm_opts=()):
    work = os.path.join(HERE, ".run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    cmd += list(jvm_opts) or ([f"-XX:SharedArchiveFile={CDS_ARCHIVE}"]
                              if os.path.exists(CDS_ARCHIVE) else [])
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Measure",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--result", result]
    if args.sf:
        cmd += ["--sf", os.path.abspath(args.sf)]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.run(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL,
                          timeout=max(10.0, deadline - time.time()))
    if proc.returncode != 0 or not os.path.exists(result):
        raise SystemExit(f"[perfbench] benchmark JVM failed (exit {proc.returncode})")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", help="sf table directory (suite only)")
    args = ap.parse_args()
    t0 = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] engine sources (src/main/scala/graft) not found")
    ensure_build()
    if args.workload == "suite":
        if not args.sf:
            raise SystemExit("[perfbench] the suite needs --sf DIR")
        res = run_jvm(args, time.time() + SUITE_LIMIT_S)
        return report(args, t0, res, res["metrics"], oracle_failures(args.sf))
    res = run_jvm(args, time.time() + RUN_LIMIT_S)

    want = expected_metrics(args.trace)
    got = res["metrics"]
    missing = sorted(set(want) - set(got))
    if missing:
        raise SystemExit(f"[perfbench] result lacks metrics {missing}")
    for name, unit in want.items():
        if got[name]["unit"] != unit:
            raise SystemExit(f"[perfbench] {name}: unit {got[name]['unit']} != {unit}")
    return report(args, t0, res, {n: got[n] for n in want}, 0)


def report(args, t0, res, metrics, extra_failures):
    for msg in res.get("gate_errors", []):
        log(f"gate failed: {msg}")
    log(f"labels: {json.dumps(res.get('labels', {}))}")
    log(f"{args.workload} seed {args.seed}: {time.time() - t0:.1f} s")
    out = {
        "correct": bool(res["correct"]) and extra_failures == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": m["value"], "unit": m["unit"]} for n, m in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


def oracle_failures(sf):
    """Compares every suite output with its DuckDB oracle: sorted columns,
    sorted rows, equal frames. Returns the number of queries that differ."""
    import duckdb
    out = os.path.join(HERE, ".run", "suite", "oracle")
    con = duckdb.connect()
    for t in sorted(os.listdir(sf)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(sf, t)}'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{os.path.join(out, name)}/*.parquet')").fetch_df()
            want = con.execute(sql).fetch_df()
            cols = sorted(got.columns)
            same = cols == sorted(want.columns) and len(got) == len(want) and \
                got[cols].sort_values(cols).reset_index(drop=True).equals(
                    want[cols].sort_values(cols).reset_index(drop=True))
        except Exception as e:  # a missing output or an unsortable column fails
            log(f"oracle {name}: {e}")
            same = False
        if not same:
            log(f"oracle {name}: FAIL")
            fails += 1
    log(f"oracle: {len(oracle) - fails}/{len(oracle)} match")
    return fails


if __name__ == "__main__":
    sys.exit(main())
