#!/usr/bin/env python3
"""Run one benchmark workload against the checkout this file sits in.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark (perfbench/build.sbt compiles the checkout's
src/main/scala together with perfbench/src) into .bench_build/ when the
sources changed, runs the workload in one JVM, checks its outputs and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see perfbench/README.md). Exits non-zero without a result
when the checkout has no sources to build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "target" / "scala-2.13" / "classes"
WORKLOADS = ("etf_kafka", "dag_replay", "graph_ladders")
RUN_TIMEOUT_S = 170
# JVMs per untraced run, each measuring an equal share of the seconds; each
# metric is the median over them. How fast a JVM runs the catch-up path
# depends on its own compilation outcome (passes differ by up to 40%
# between identical runs), and one JVM cannot average that out. The Spark
# workloads cannot afford a second cold start.
REPLICAS = {"etf_kafka": 3}
# JDK 17 module opens Spark needs outside spark-submit (the same list as
# the root build.sbt).
OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
    )
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark installation whose jars the build and the JVM use."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark installation found; set SPARK_HOME")
    return Path(home)


def sources():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [HERE / "run.py", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """Compiles with sbt unless the classes match the current sources."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no library sources under {ROOT / 'src/main/scala'}; run from a full checkout")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = BUILD / "stamp"
    want = digest.hexdigest()
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == want:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=str(spark_home()))
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
    ])
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        # `compile` alone leaves out the resources (the library's
        # META-INF/services data-source registration); `products` copies them
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "Compile/products"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            timeout=850).returncode
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (rc={rc}), log in {log}")
    stamp.write_text(want)


def run_jvm(args, work, seconds, deadline):
    launch_ms = int(time.time() * 1000)
    # fixed heap and young generation: collections and resident memory do not
    # depend on where adaptive sizing happens to settle
    cmd = ["java", *OPENS, "-Xms2g", "-Xmx2g", "-Xmn768m", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{CLASSES}{os.pathsep}{spark_home() / 'jars' / '*'}", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(seconds), "--trace", str(args.trace),
           "--work", str(work), "--data", str(HERE / "data" / "sf0.01"),
           "--launch-ms", str(launch_ms)]
    (work / "tmp").mkdir(parents=True)
    log = work / "jvm.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload did not finish within {RUN_TIMEOUT_S}s, log in {log}")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"workload exited with {proc.returncode}, log in {log}")
    return json.loads(lines[-1][len("PERFBENCH "):])


def norm(v):
    """Comparable form of one value: floats to 9 significant digits."""
    if isinstance(v, float):
        return f"{v:.9g}"
    if hasattr(v, "as_tuple"):  # Decimal
        return f"{float(v):.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def rows_of(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("|".join(norm(r[i]) for i in order) for r in rel.fetchall())
    return sorted(cols), rows


def same(con, want_sql, got_sql):
    wc, w = rows_of(con, want_sql)
    gc, g = rows_of(con, got_sql)
    if wc != gc:
        return f"columns {gc} != {wc}"
    if w != g:
        diff = next((f"{a} != {b}" for a, b in zip(g, w) if a != b), "")
        return f"{len(g)} rows vs {len(w)} expected; first difference {diff}"
    return None


def check_queries(spec):
    import duckdb
    con = duckdb.connect()
    for t in Path(spec["data"]).glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')")
    failures = []
    for q, sql in sorted(spec["oracle"].items()):
        try:
            why = same(con, sql, f"SELECT * FROM read_parquet('{spec['results']}/{q}/*.parquet')")
        except Exception as e:  # a query whose output cannot be read is a failure
            why = f"{type(e).__name__}: {e}"
        if why:
            failures.append(f"{q}: {why}")
    return len(spec["oracle"]), failures


def check_replay(spec):
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{spec['events']}/*.parquet')")
    cycles = [int(x) for x in Path(spec["cycles"]).read_text().split()]
    con.execute("CREATE TABLE cycles (t BIGINT)")
    con.executemany("INSERT INTO cycles VALUES (?)", [[c] for c in cycles])
    last = "QUALIFY row_number() OVER (PARTITION BY {} ORDER BY ts DESC, event_id DESC) = 1"
    failures = []
    why = same(con, f"SELECT * FROM events {last.format('user_id')}",
               f"SELECT * FROM read_parquet('{spec['state']}/*.parquet')")
    if why:
        failures.append(f"final state: {why}")
    # each event belongs to the first cycle at or after its timestamp
    emitted = ("SELECT event_id, ts, user_id, event_type, value FROM "
               "(SELECT e.*, c.t AS cyc FROM events e ASOF JOIN cycles c ON c.t >= e.ts) "
               + last.format("cyc, user_id"))
    why = same(con, emitted, f"SELECT * FROM read_parquet('{spec['changes']}/*.parquet')")
    if why:
        failures.append(f"emitted changes: {why}")
    return 2, failures


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    build()
    deadline = time.time() + RUN_TIMEOUT_S
    root = BUILD / "work" / args.workload
    shutil.rmtree(root, ignore_errors=True)
    k = 1 if args.trace else REPLICAS.get(args.workload, 1)
    runs = []
    for i in range(k):
        work = root / f"jvm{i}"
        work.mkdir(parents=True)
        runs.append((work, run_jvm(args, work, args.seconds / k, deadline)))

    attempted = sum(r["attempted"] for _, r in runs)
    failed = sum(r["failed"] for _, r in runs)
    notes = [n for _, r in runs for n in r["notes"]]
    for work, _ in runs:
        spec = json.loads((work / "checks.json").read_text())
        n, why = {"queries": check_queries, "dag_replay": check_replay}.get(
            spec.get("kind"), lambda s: (0, []))(spec)
        attempted += n
        failed += len(why)
        notes += why
    for n in notes:
        print(f"perfbench: check failed: {n}", file=sys.stderr)
    metrics = {}
    for name, m in runs[0][1]["metrics"].items():
        value = statistics.median(r["metrics"][name]["value"] for _, r in runs)
        metrics[name] = {"value": value, "unit": m["unit"]}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
