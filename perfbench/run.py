#!/usr/bin/env python3
"""graft's benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json says why each is there):
  iterative     round-bound analytics queries through SparkEntry.queries
  stream-kpl    produce + drain a KPL-aggregated, zlib-deflated spool

The first run in a checkout builds graft and the harness from source with
sbt (perfbench/harness depends on the root build) and generates the tables;
both are cached under .bench_build/ and rebuilt when their sources change.
The harness JVM sets the workload up three times, each in a fresh Spark
session on local[nproc], then runs it as a closed loop for --seconds and
checks its outputs: the query results of every set-up pass and of one
pass after the window against the digests pinned in perfbench/pins.json
(timed passes write to the noop sink), every stream drain against the
generated records.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). A per-layer metric the workload does not measure reads 0; a
metric the run should have measured but did not fails the run. The line
before it stamps the run's regime (cores, loadavg, steal);
.bench_build/perfbench/runs.jsonl keeps both lines of every run, and a
traced run leaves its spans in .bench_build/perfbench/work/<workload>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("iterative", "stream-kpl")
# table scale per query workload: lineitem rows = 6,000,000 x sf
SCALE = {"iterative": 0.01}
RUN_LIMIT_S = 170


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources_stamp() -> str:
    """Digest of every file the build compiles from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath() -> str:
    """Builds graft + the harness with sbt when their sources changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == stamp:
            return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "-batch", "export Runtime/fullClasspath"], cwd=HARNESS,
                           stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def tables(sf: float) -> str:
    """The generated tables at scale `sf`, made once per checkout."""
    d = os.path.join(BUILD, "data", f"sf{sf}")
    if not os.path.isdir(d):
        if os.path.isdir(d + ".tmp"):
            shutil.rmtree(d + ".tmp")
        subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), d, str(sf)],
                       check=True, timeout=600)
    return d


def jvm(cp: str, main: str, args: list, work: str) -> list:
    """The java command line for a harness main: Spark's JDK 17 module
    opens (what spark-submit would inject) and graft's JVM settings."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ
           else "java"]
    for o in opens:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    # Six JIT compiler threads, not the three HotSpot picks for four CPUs:
    # with three, graft's and Catalyst's hot paths were still compiling into
    # the window (warm passes of the iterative workload fell by a fifth
    # across it); with six they compile over the untimed passes before it.
    return cmd + ["-Xmx4g", "-XX:CICompilerCount=6", "-XX:ReservedCodeCacheSize=1g",
                  f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
                  "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main] + args


def cores() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def cpu_steal_total() -> tuple:
    """(steal, total) jiffies of /proc/stat's aggregate cpu line."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return (f[7] if len(f) > 7 else -1, sum(f[:8]))
    except OSError:
        return (-1, -1)


def steal_pct(before: tuple, after: tuple) -> float:
    if before[0] < 0 or after[0] < 0 or after[1] <= before[1]:
        return -1.0
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def canon(v) -> str:
    """A cell as text, so Spark and DuckDB results digest alike: type-tagged
    numbers (an integer never equals a float), lists element-wise."""
    if v is None or v is pd.NaT or v is pd.NA:
        return "N"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        return "N" if v != v else f"f:{float(v)!r}"
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    return f"s:{v}"


def digest(df) -> dict:
    """Order-independent content digest of a result frame."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(canon(x) for x in r)
                  for r in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def spark_output(path: str):
    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    return duckdb.connect().execute(f"SELECT * FROM read_parquet({files!r})").df()


def check_outputs(outputs: dict) -> list:
    """Mismatches of the queries' checked outputs against the pins; an
    output is named <query>@<pass>."""
    pins = json.load(open(os.path.join(HERE, "pins.json")))
    bad = []
    for q, path in outputs.items():
        want = pins.get(q.split("@")[0])
        try:
            got = digest(spark_output(path))
        except Exception as e:  # noqa: BLE001 - an unreadable output is a wrong output
            bad.append(f"{q}: output unreadable: {e}")
            continue
        if got != want:
            bad.append(f"{q}: output {got} differs from pinned {want}")
    return bad


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    build_start = time.time()
    cp = classpath()
    data = tables(SCALE[a.workload]) if a.workload in SCALE else ""
    # the time limit counts from here: a run that first builds may take longer
    start = time.time()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    n = cores()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(n), "--data", data, "--work", work,
            "--result", result]
    log = os.path.join(BUILD, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    load0, steal0 = loadavg(), cpu_steal_total()
    # a terminated benchmark takes its harness JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    with open(log, "w") as out:
        p = subprocess.Popen(jvm(cp, "graftbench.Main", args, work), stdout=out,
                             stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=max(30, RUN_LIMIT_S - (time.time() - start)))
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded its time limit, see {log}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    steal1 = cpu_steal_total()
    if code != 0 or not os.path.exists(result):
        fail(f"harness exited with {code}, see {log}")
    r = json.load(open(result))

    mismatches = check_outputs(r["outputs"])
    failed = r["failed"] + len(mismatches)
    for e in r["errors"] + mismatches:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    if a.trace == "1":
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        source = {**r["metrics"], **r["layers"]}
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        source = r["metrics"]
    metrics = {}
    for name, unit in names:
        if a.trace == "1" and name not in source:
            source[name] = 0.0  # a layer this workload does not have
        v = source.get(name)
        if v is None:
            fail(f"metric {name} was not measured, see {log}")
        metrics[name] = {"value": v, "unit": unit}
    regime = {"workload": a.workload, "seed": a.seed, "cores": n, "master": f"local[{n}]",
              "shuffle_partitions": n, "loadavg_1m_before": load0,
              "loadavg_1m_after": loadavg(), "steal_pct": steal_pct(steal0, steal1),
              "build_s": start - build_start, "wall_s": time.time() - start}
    line = {"correct": failed == 0, "attempted": r["attempted"], "failed": failed,
            "metrics": metrics}
    with open(os.path.join(BUILD, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"regime": regime, "result": line}) + "\n")
    print(json.dumps({"regime": regime}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
