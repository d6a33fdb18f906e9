#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload extract_commit --seed 1 --seconds 10 --trace 0

Run from the repository root. It compiles the program and the benchmark
(src/main/scala, the golden-fixture definitions and perfbench/src) with the
Scala compiler shipped in Spark's jars into .bench_build/, reusing the build
while the sources are unchanged. It then runs the workload in one JVM at
local[nproc], checks every output, prints the named metrics with units and
sample counts, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones; a traced run also keeps its spans in .bench_build/traces/.

Extra options: --size tiny (small inputs, for the benchmark's own tests),
--digests FILE (recorded digests to check against, default
perfbench/digests.json), --record (add this run's digests to that file).
See perfbench/README.md for the metrics, the layers and the workloads.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("extract_commit", "query_suite")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
OPENS = ("java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
         "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
         "sun.nio.cs sun.security.action sun.util.calendar").split()
# a run must end within 180 s once built; the JVM gets what is left of this
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the spark-submit on the
    PATH, else those the pyspark package ships."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        homes.append(os.path.dirname(spec.origin))
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return jars
    fail("no Spark jars with a Scala compiler found: set SPARK_HOME")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    golden = "src/test/scala/graft/core/GoldenFixtures.scala"
    bench = sorted(glob.glob(os.path.join(os.path.relpath(HERE), "src", "**", "*.scala"),
                             recursive=True))
    if not main or not os.path.isfile(golden) or not bench:
        fail("run from the repository root: src/main/scala, the golden fixtures "
             "and perfbench/src are needed")
    return main + [golden] + bench


def build(jars):
    """Compiled classes for the current sources, compiling when needed."""
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    out = os.path.join(".bench_build", "perfbench", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    with open(os.path.join(tmp, "sources.txt"), "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = ":".join(jars)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", os.path.join(tmp, "classes"), "-classpath", cp,
           "@" + os.path.join(tmp, "sources.txt")]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_LIMIT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode("utf-8", "replace")[-8000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed", 3)
    os.makedirs(out, exist_ok=True)
    os.replace(os.path.join(tmp, "classes"), classes)
    shutil.rmtree(tmp, ignore_errors=True)
    return classes


def run_jvm(args, classes, jars, work, timeout):
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
            "-cp", ":".join([classes] + jars), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--size", args.size, "--work", work, "--digests", args.digests]
    with open(os.path.join(work, "jvm.log"), "wb") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(os.path.join(work, "jvm.log"), "rb") as f:
            sys.stderr.write(f.read().decode("utf-8", "replace")[-6000:])
        fail(f"benchmark JVM exited with {proc.returncode}", 1)
    return json.loads(lines[-1])


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # DuckDB's round() keeps the sign of a negative value rounded to
        # zero, Spark's does not; -0.0 == 0.0, so both print as 0.0
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def oracle_check(oracle):
    """Each collected query result against its SQL oracle in DuckDB, compared
    as multisets of canonical rows. Returns the names that differ."""
    try:
        import duckdb
    except ImportError:
        return ["duckdb not importable: " + name for name in oracle["queries"]]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{oracle['tables']}/{t}.parquet/*.parquet')")
    bad = []
    for name, sql in oracle["queries"].items():
        try:
            src = f"read_parquet('{oracle['results']}/{name}/*.parquet')"
            scol = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
            srows = con.execute(f"SELECT * FROM {src}").fetchall()
            res = con.execute(sql)
            ocol = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # a query the oracle cannot run is a failed check
            bad.append(f"{name}: {e}")
            continue

        def rows(cols, rs):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return sorted(tuple(canon(r[i]) for i in order) for r in rs)
        if sorted(scol) != sorted(ocol) or rows(scol, srows) != rows(ocol, orows):
            bad.append(f"{name}: result differs from its DuckDB oracle")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--digests", default=os.path.join(os.path.relpath(HERE), "digests.json"))
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)

    jars = spark_jars()
    classes = build(jars)
    started = time.time()
    work = os.path.join(".bench_build", "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = run_jvm(args, classes, jars, work, RUN_LIMIT_S - 10)
        attempted, failed = out["attempted"], out["failed"]
        failures = list(out["failures"])
        if "oracle" in out:
            bad = oracle_check(out["oracle"])
            attempted += len(out["oracle"]["queries"])
            failed += len(bad)
            failures += bad
        if args.trace:
            os.makedirs(os.path.join(".bench_build", "traces"), exist_ok=True)
            shutil.copyfile(os.path.join(work, "spans.json"), os.path.join(
                ".bench_build", "traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.record:
        recorded = {}
        if os.path.exists(args.digests):
            with open(args.digests) as f:
                recorded = json.load(f)
        recorded.update(out["digests"])
        with open(args.digests, "w") as f:
            json.dump(dict(sorted(recorded.items())), f, indent=1)
            f.write("\n")

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} size={args.size} wall_s={time.time() - started:.1f}")
    for name, m in out["report"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']} (n={m['n']}; {m['note']})")
    print(f"  failed_op_ratio = {failed / max(1, attempted):.6g} ratio "
          f"(failed={failed}, attempted={attempted})")
    for name, m in out["layer"].items():
        if args.trace or name.startswith("host."):
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
    for f in failures[:20]:
        print(f"  FAILED {f}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = out["layer"] if args.trace else out["e2e"]
    metrics = {m["name"]: {"value": source[m["name"]]["value"], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
