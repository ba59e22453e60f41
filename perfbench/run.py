#!/usr/bin/env python3
"""Import-job benchmark: one command, one workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness (an sbt
project in this directory that compiles the repository's src/main
together with perfbench/src) and caches its classpath under
perfbench/target; later runs start the JVM directly. Inputs are generated
from --seed under perfbench/.work, which each run wipes first.

With --trace 0 the last stdout line carries the end-to-end metrics named
in BENCHMARK.json; with --trace 1 it carries the per-layer metrics of a
separate traced run (layers a workload leaves idle read 0). A line
starting with "# detail" precedes it with the workload-specific numbers
(record rates, GET percentiles, per-query times, self time per layer).
Every output is checked; the exit code is non-zero when any check fails.
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
WORK = os.path.join(HERE, ".work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
ARCHIVE = os.path.join(TARGET, "perfbench-classes.jsa")
WORKLOADS = ("import_fresh", "query_overhead")
# the query_overhead tables: scale factor, in the repository's convention
# (sf 0.001 = 6,000 lineitem rows and 1,000 events; see tables.py). The
# rows are overhead-bound, so a small scale keeps a pass mostly overhead.
QUERY_SF = 0.001
# a measured run (after the build) must end within this many seconds
DEADLINE_S = 170.0
# the build (compile + class-archive training) must end within this many,
# so that a run that builds still ends within 900 s
BUILD_DEADLINE_S = 700.0
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar", "java.management/sun.management",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: repository main sources and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    started = time.monotonic()
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_DEADLINE_S - 60)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    # one training run archives the classes every workload loads, so each
    # measured run starts its JVM from that archive (class data sharing)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    train = os.path.join(WORK, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    subprocess.run(java(cp, train, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                        ["--workload", "train", "--seed", "1", "--seconds", "0", "--trace", "0"]),
                   cwd=train, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                   timeout=max(30.0, BUILD_DEADLINE_S - (time.monotonic() - started)))
    shutil.rmtree(train, ignore_errors=True)
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def java(cp, work, jvm_flags, args):
    """The harness JVM command line."""
    return (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Duser.timezone=UTC", "-XX:-UseDynamicNumberOfCompilerThreads"] + jvm_flags
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "graft.perfbench.Main", "--work", work, "--out", os.path.join(work, "result.json")]
            + args)


def oracle_checks(result, work, sf_dir):
    """Each query_overhead result against its DuckDB oracle: same columns,
    same rows (order-free), same values."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for t in ("lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        df = df.sort_values(by=list(df.columns), kind="mergesort")
        return ["|".join("NULL" if v is None else repr(v) if isinstance(v, float) else str(v)
                         for v in row) for row in df.itertuples(index=False, name=None)]

    bad = []
    sqls = result.get("extra", {})
    for q, sql in sorted(sqls.items()):
        got = pd.read_parquet(os.path.join(work, "query_results", q))
        try:
            want = con.execute(sql).df()
            same = sorted(got.columns) == sorted(want.columns) and canon(got) == canon(want)
        except Exception as e:  # an oracle that cannot run is a failed check
            same, want = False, str(e)[:200]
        if not same:
            bad.append(f"{q}: result differs from the DuckDB oracle")
    return len(sqls), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "ingest", "IngestPipeline.scala")):
        fail("the repository's sources (src/main) are not next to this directory; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp = build()
    # the run's own deadline starts after the build, which only the first
    # run after a source change makes
    started = time.monotonic()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd_extra = []
    table_rows = {}
    if args.workload == "query_overhead":
        sys.path.insert(0, HERE)
        import tables
        sf_dir = os.path.join(work, "sf")
        gens = []
        for _ in range(3):
            t0 = time.perf_counter()
            table_rows = tables.generate(sf_dir, args.seed, QUERY_SF)
            gens.append(time.perf_counter() - t0)
        cmd_extra = ["--sf-dir", sf_dir, "--setup-extra-s", repr(statistics.median(gens))]
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = java(cp, work, cds, ["--workload", args.workload, "--seed", str(args.seed),
                               "--seconds", repr(args.seconds), "--trace", str(args.trace)] + cmd_extra)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)

        def stop(*_):
            proc.kill()
            proc.wait()
            sys.exit(1)
        signal.signal(signal.SIGTERM, stop)
        try:
            proc.wait(timeout=max(10.0, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the {args.workload} run produced no result (exit {proc.returncode})", 1)
    with open(out) as f:
        result = json.load(f)
    attempted, failed = result["attempted"], result["failed"]
    failures = list(result.get("failures", []))
    if args.workload == "query_overhead":
        n, bad = oracle_checks(result, work, sf_dir)
        attempted += n
        failed += len(bad)
        failures += bad
    got = result["metrics"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif args.trace:
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}  # layer idle on this workload
        else:
            failed += 1
            failures.append(f"metric {m['name']} missing")
    for f_ in failures:
        print(f"perfbench: FAILED {f_}", file=sys.stderr)
    detail = dict(result.get("detail", {}))
    if table_rows:
        detail.update(query_sf=QUERY_SF, table_rows=table_rows)
    print("# detail " + json.dumps(detail, sort_keys=True))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    # keep the span file, drop the generated inputs and stores
    for name in os.listdir(work):
        p = os.path.join(work, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
