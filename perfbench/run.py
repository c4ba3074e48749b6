#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload {topology,curate,stream} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the program and the
benchmark harness with sbt (perfbench/build.sbt pulls in the repository's
own build); later runs reuse the build while the sources are unchanged.
The JVM generates the inputs from the seed, runs the workload and writes
its raw result; this script then checks the dumped outputs against the
program's DuckDB oracle SQL (outside every timed region) and prints the
result as the last line of standard output: with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("topology", "curate", "stream")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit (matches the program's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def source_files():
    """Every file the build reads, for the rebuild fingerprint."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def classpath():
    """Builds with sbt when the sources changed; returns the classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == h.hexdigest():
            return cached["classpath"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log("perfbench: building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # the same offline defaults the repository's test command uses
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx4g")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if p.returncode != 0 or "scala-library" not in cp:
        log(p.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": h.hexdigest(), "classpath": cp}, fh)
    return cp


def generate(workload, seed, work):
    """Inputs made before the JVM starts: the `topology` tables, three
    times (set-up is reported with the median); the first copy is used."""
    if workload != "topology":
        return 0.0
    sys.path.insert(0, HERE)
    import gen_tables
    times = []
    for i in range(3):
        t = time.perf_counter()
        gen_tables.topology_tables(os.path.join(work, f"tables{i}"), seed)
        times.append(time.perf_counter() - t)
    for i in (1, 2):
        shutil.rmtree(os.path.join(work, f"tables{i}"))
    return statistics.median(times)


def run_jvm(cp, args, work, out, gen_s):
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out, "--gen-s", repr(gen_s)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)

    def stop(signum, _frame):  # never leave the JVM behind
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("workload timed out")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if rc != 0 or not os.path.exists(out):
        fail(f"workload exited with {rc}")


def frame_rows(con, sql):
    """Rows of a query as strings, columns sorted by name, rows sorted —
    the comparison rule of the program's tools/check.py."""
    df = con.execute(sql).fetchdf()
    cols = sorted(df.columns)
    df = df[cols].sort_values(cols).reset_index(drop=True)
    return cols, [tuple(str(v) for v in row) for row in df.itertuples(index=False)]


def oracle_check(checks, tables_dir):
    """Returns the names of dumped outputs that differ from the oracle."""
    if not checks:
        return []
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "part", "orders", "lineitem", "documents"):
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
    bad = []
    for c in checks:
        try:
            got = frame_rows(con, f"SELECT * FROM '{c['dir']}/*.parquet'")
            exp = frame_rows(con, c["sql"])
        except Exception as e:  # an oracle that cannot run is a failed check
            log(f"check {c['name']}: {e}")
            bad.append(c["name"])
            continue
        if got != exp:
            log(f"check {c['name']}: output differs from the oracle "
                f"({len(got[1])} vs {len(exp[1])} rows)")
            bad.append(c["name"])
        else:
            log(f"check {c['name']}: ok ({len(got[1])} rows)")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (build.sbt, src/main/scala) are missing")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    with open(spec_path) as fh:
        spec = json.load(fh)

    cp = classpath()
    work = os.path.join(BUILD, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "result.json")
        gen_s = generate(args.workload, args.seed, work)
        run_jvm(cp, args, work, out, gen_s)
        with open(out) as fh:
            res = json.load(fh)
        tables = os.path.join(work, "tables0" if args.workload == "topology" else "corpus0")
        log("perfbench: oracle check")
        bad = oracle_check(res.get("checks", []), tables)
        attempted, failed = int(res["attempted"]), int(res["failed"])
        if bad:  # the reference every job matched is wrong: every job is
            failed = attempted
        metrics = res["metrics"]
        if "run.failed_frac" in metrics:
            metrics["run.failed_frac"]["value"] = failed / max(1, attempted)
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        if missing:
            fail(f"the run did not measure {missing}")
        info = res.get("info", {})
        print(json.dumps({"info": info, "checked": [c["name"] for c in res.get("checks", [])],
                          "check_failures": bad}))
        if args.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(BUILD, f"spans-{args.workload}-{args.seed}.jsonl"))
        print(json.dumps({
            "correct": not bad and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
                        for m in wanted},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
