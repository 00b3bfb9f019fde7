#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, check.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --smoke

One run:
  1. builds the program and the Scala runner from source with sbt
     (skipped when the sources are unchanged since the last build);
  2. generates the input tables from the seed (gen_data.py) in a fresh
     working directory under .bench_build/;
  3. runs perfbench.Runner in a fresh JVM at local[<nproc>]: setup, then
     timed passes over the workload's queries, each output written in
     full to a parquet sink;
  4. checks every output outside the timed region: oracle-backed
     queries against SparkEntry.oracleSql in DuckDB, with the
     canonicalization of tools/check_oracle.py; the others for a
     non-empty schema and at least one row;
  5. deletes the working directory and prints one JSON line: with
     --trace 0 the end-to-end metrics, with --trace 1 the per-layer
     metrics. Exits nonzero if any query failed or any output is wrong.

Metric names and units come from BENCHMARK.json; a run that did not
measure one of them fails. --smoke runs sql_analytics with both trace
settings and a one-second measuring window.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SF = 0.001         # input scale (row counts as the sf0.001 fixtures)
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 800
# The root build's forked JVM: default JIT and collector, this heap limit.
JVM_HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
# A fixed initial heap (at most JVM_HEAP). The JVM's default is 1/64 of
# the machine's memory; on a 15 GB machine G1 then starts at 256 MB and
# runs five times as many collections while it grows, each one on every
# core at once, and a pass's time varies with where the growth falls.
JVM_HEAP_START = "2g"
# Spark on JDK 17 outside spark-submit (same list as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout."""
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    files += sorted((HERE / "project").glob("*.sbt")) + sorted((HERE / "project").glob("*.properties"))
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def build():
    """Compile with sbt unless the sources match the last build."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT}: expected build.sbt and src/main/scala")
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = h.hexdigest()
    target = BUILD / "perfbench"
    cp_file = target / "runtime-classpath.txt"
    stamp_file = BUILD / "build.stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, PERFBENCH_TARGET=str(target), COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building with sbt")
    t0 = time.time()
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                      "writeClasspath"], HERE, BUILD / "build.log", BUILD_TIMEOUT_S, env)
    if code != 0 or not cp_file.is_file():
        sys.stderr.write((BUILD / "build.log").read_text()[-4000:])
        fail(f"build failed (exit {code})")
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp_file.read_text().strip()


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return None


def run_group(cmd, cwd, log_path, timeout, env=None):
    """Run cmd in its own process group, output to log_path; on timeout or
    any interruption kill the whole group and wait for it."""
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def run_jvm(classpath, args, work, log_path):
    """The runner JVM keeps every file it writes under `work`."""
    tmp = work / "tmp"
    tmp.mkdir()
    cmd = ["java", f"-Xms{JVM_HEAP_START}", f"-Xmx{JVM_HEAP}", "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    return run_group(cmd + ["-cp", classpath, "perfbench.Runner"] + args, work, log_path,
                     JVM_TIMEOUT_S, env)


def check_outputs(data_dir, out_dir, queries, oracle_sql, errors):
    """Return {query: problem} for every output that is missing or wrong."""
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import TABLES, canon  # the repository's oracle canonicalization
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    problems = {}
    for q in queries:
        if q in errors:
            problems[q] = f"query threw: {errors[q]}"
            continue
        files = sorted((out_dir / q).glob("*.parquet"))
        if not files:
            problems[q] = "no output written"
            continue
        rel = con.sql(f"SELECT * FROM read_parquet('{out_dir / q}/*.parquet')")
        cols, rows = list(rel.columns), rel.fetchall()
        if q not in oracle_sql:
            if not cols or not rows:
                problems[q] = f"rows-only output is empty (cols={cols}, rows={len(rows)})"
            continue
        try:
            orel = con.sql(oracle_sql[q])
            ocols, otypes, orows = list(orel.columns), [str(t) for t in orel.types], orel.fetchall()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            problems[q] = f"oracle SQL error: {e}"
            continue
        bad = [(c, t) for c, t in zip(ocols, otypes) if "HUGEINT" in t or "DECIMAL" in t]
        if bad:
            problems[q] = f"oracle column types {bad}"
        elif sorted(cols) != sorted(ocols):
            problems[q] = f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        elif len(rows) != len(orows):
            problems[q] = f"{len(rows)} rows != oracle {len(orows)}"
        elif canon(rows, cols) != canon(orows, ocols):
            problems[q] = "values differ from oracle"
    return problems


def run(workload, seed, seconds, trace):
    """One run; returns (result dict, run record)."""
    classpath = build()
    BUILD.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"run-{workload}-{seed}-", dir=BUILD))
    try:
        load_before = loadavg()
        data = work / "data"
        data.mkdir()
        sys.path.insert(0, str(HERE))
        import gen_data
        t0 = time.time()
        gen_data.write(SF, seed, str(data))
        t_gen = time.time()
        record_path = work / "record.json"
        spans = BUILD / "traces" / f"{workload}-seed{seed}.json"
        if trace:
            spans.parent.mkdir(exist_ok=True)
        args = ["--workload", workload, "--data", str(data), "--work", str(work),
                "--out", str(record_path), "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace)]
        if trace:
            args += ["--spans", str(spans)]
        log_path = BUILD / f"jvm-{workload}.log"
        code = run_jvm(classpath, args, work, log_path)
        t_jvm = time.time()
        if code != 0 or not record_path.is_file():
            sys.stderr.write(log_path.read_text()[-4000:])
            fail(f"runner exited with {code}", code=1)
        rec = json.loads(record_path.read_text())
        problems = check_outputs(data, work / "out", rec["order"],
                                 rec["oracle_sql"], rec["errors"])
        if not rec["functions_equal"]:
            problems["graft.functions"] = "a generator differs from its built-in formulation"
        rec["loadavg_before"], rec["loadavg_after"] = load_before, loadavg()
        rec["phase_s"] = {"inputs": round(t_gen - t0, 2), "jvm": round(t_jvm - t_gen, 2),
                          "check": round(time.time() - t_jvm, 2)}
        rec["problems"] = problems
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for q, p in sorted(problems.items()):
        log(f"FAIL {q}: {p}")
    # BENCHMARK.json names the metrics and their units; the runner must
    # have measured every one of them.
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    measured = rec["per_layer"] if trace else rec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        fail(f"runner did not report {missing}", code=1)
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted}
    attempted = len(rec["order"]) + (1 if trace else 0)
    result = {"correct": not problems, "attempted": attempted, "failed": len(problems),
              "metrics": metrics}
    return result, rec


def smoke():
    """Both trace settings on the smaller workload: every metric printed, outputs correct."""
    ok = True
    for trace in (0, 1):
        result, _ = run("sql_analytics", 1, 1, trace)
        ok = ok and result["correct"]
    print(json.dumps({"smoke": "ok" if ok else "failed"}))
    return 0 if ok else 1


def main():
    # A terminated run still kills and reaps its child processes.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        return smoke()
    if not a.workload:
        fail("--workload is required")
    result, rec = run(a.workload, a.seed, a.seconds, a.trace)
    log("run: " + json.dumps({k: rec[k] for k in (
        "workload", "seed", "cpus", "max_heap_mb", "loadavg_before", "loadavg_after",
        "pass_s_each", "pass_traced_each", "query_best_s", "phase_s", "session_conf")}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
